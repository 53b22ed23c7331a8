"""Baseline JPEG codec (engine/jpeg.py): real T.81 sequential DCT.

The encoder and decoder share no state beyond the public byte stream —
the decoder reads quantization and Huffman tables from DQT/DHT
segments, so a quality-50 stream and a quality-95 stream both decode
correctly through the same code path.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from vtzero_spark.engine import jpeg
from vtzero_spark.engine.payload import psnr, synth_pixels
import scalar_reference as SR

# every (w, h) the synthetic corpus produces (synth.images: w from
# [16,32,64,256], h from [16,32,64])
CORPUS_SIZES = [(w, h) for w in (16, 32, 64, 256) for h in (16, 32, 64)]


def test_roundtrip_psnr_gate_all_corpus_sizes():
    worst = 99.0
    for i, (w, h) in enumerate(CORPUS_SIZES):
        px = synth_pixels(2654435761 * i + 17, w, h)
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=90))
        assert out.shape == (h, w, 3)
        worst = min(worst, psnr(px, out))
    assert worst >= 40.0, f"PSNR gate violated: {worst:.2f} dB"


def test_quality_tradeoff_monotone():
    """Higher quality -> larger stream and better PSNR; tables are
    read from the stream (q50 and q95 share one decoder)."""
    px = synth_pixels(99, 64, 64)
    sizes, psnrs = [], []
    for q in (50, 75, 95):
        data = jpeg.encode_jpeg(px, quality=q)
        sizes.append(len(data))
        psnrs.append(psnr(px, jpeg.decode_jpeg(data)))
    assert sizes == sorted(sizes)
    assert psnrs == sorted(psnrs)


def test_stream_structure_and_determinism():
    px = synth_pixels(7, 32, 16)
    data = jpeg.encode_jpeg(px, quality=90)
    assert data[:2] == b"\xFF\xD8" and data[-2:] == b"\xFF\xD9"
    assert b"JFIF\x00" in data[:32]
    # one SOF0 with 8-bit precision, 3 components, 1x1 sampling
    i = data.index(b"\xFF\xC0")
    prec, h, w, nc = struct.unpack(">BHHB", data[i + 4:i + 10])
    assert (prec, h, w, nc) == (8, 16, 32, 3)
    assert data == jpeg.encode_jpeg(px, quality=90)


def test_compresses_smooth_content():
    px = synth_pixels(4242, 256, 64)
    data = jpeg.encode_jpeg(px, quality=90)
    assert len(data) < 256 * 64 * 3 / 4  # >4:1 on photographic-like data


def test_non_multiple_of_8_dimensions():
    rng = np.random.default_rng(5)
    base = synth_pixels(11, 64, 32)
    for (w, h) in ((13, 9), (17, 24), (8, 8), (1, 1)):
        px = base[:h, :w].copy()
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=92))
        assert out.shape == (h, w, 3)
        assert psnr(px, out) >= 35.0  # partial edge blocks, no gate claim
    del rng


def test_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"not a jpeg")
    px = synth_pixels(3, 16, 16)
    data = bytearray(jpeg.encode_jpeg(px, quality=90))
    # flip SOF0 -> SOF2: dispatches to the progressive decoder, whose
    # scan validation rejects the baseline full-band scan (Ss=0,Se=63
    # is illegal in progressive) instead of mis-decoding
    i = bytes(data).index(b"\xFF\xC0")
    data[i + 1] = 0xC2
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(bytes(data))
    # truncated stream (header only) is incomplete
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(jpeg.encode_jpeg(px)[:20])


def test_420_subsampling_roundtrip():
    """4:2:0 — the dominant real-world layout: decodes through the
    general MCU walk (2x2 luma + half-res chroma, replicated up) with
    only a chroma-fidelity cost vs 4:4:4. Includes odd dimensions
    (partial MCUs on both axes)."""
    for (w, h) in [(16, 16), (64, 32), (256, 16), (17, 9), (33, 31)]:
        px = synth_pixels(w * 1000 + h, w, h)
        data = jpeg.encode_jpeg(px, quality=90, subsampling="420")
        i = data.index(b"\xFF\xC0")
        assert data[i + 11] == 0x22  # luma sampling factor 2x2
        out = jpeg.decode_jpeg(data)
        assert out.shape == (h, w, 3)
        assert psnr(px, out) >= 35.0  # chroma cost keeps it below 444
    with pytest.raises(ValueError):
        jpeg.encode_jpeg(synth_pixels(1, 16, 16), subsampling="411")


def test_422_subsampling_roundtrip():
    """4:2:2 (broadcast-video layout): exercises the decoder's
    MIXED-factor MCU walk (2x1 luma, horizontally-halved chroma),
    including odd sizes and restart intervals."""
    for (w, h) in [(16, 16), (64, 32), (17, 9), (33, 31)]:
        px = synth_pixels(w * 31 + h, w, h)
        data = jpeg.encode_jpeg(px, quality=90, subsampling="422")
        i = data.index(b"\xFF\xC0")
        assert data[i + 11] == 0x21  # luma sampling factor 2x1
        out = jpeg.decode_jpeg(data)
        assert out.shape == (h, w, 3)
        assert psnr(px, out) >= 36.0
    px = synth_pixels(9, 48, 24)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(px, 90, subsampling="422"))
    rst = jpeg.decode_jpeg(
        jpeg.encode_jpeg(px, 90, subsampling="422", restart_interval=2))
    assert np.array_equal(plain, rst)


def test_grayscale_roundtrip():
    """Single-component streams: the decoder replicates luma into
    RGB; round-trip error stays within the luma quantization budget."""
    for (w, h) in [(16, 16), (33, 31), (64, 32)]:
        px = synth_pixels(w + h, w, h).astype(np.float64)
        lum = np.clip(np.round(
            px[..., 0] * 0.299 + px[..., 1] * 0.587 + px[..., 2] * 0.114
        ), 0, 255).astype(np.uint8)
        out = jpeg.decode_jpeg(SR.encode_jpeg_gray(lum, quality=90))
        assert out.shape == (h, w, 3)
        assert (out[..., 0] == out[..., 1]).all()
        assert (out[..., 0] == out[..., 2]).all()
        assert psnr(np.stack([lum] * 3, axis=-1), out) >= 40.0


def test_420_not_larger_than_444():
    px = synth_pixels(31337, 256, 64)
    d4 = jpeg.encode_jpeg(px, quality=90)
    d2 = jpeg.encode_jpeg(px, quality=90, subsampling="420")
    assert len(d2) <= len(d4)


def test_restart_intervals_pixel_identical():
    """DRI/RSTn streams decode to EXACTLY the unrestarted pixels
    (same quantized coefficients; restarts only byte-align and reset
    DC predictors) — across 4:4:4, 4:2:0, and partial-MCU sizes."""
    for (w, h) in [(16, 16), (64, 32), (17, 9)]:
        for sub in ("444", "420"):
            px = synth_pixels(w * 100 + h, w, h)
            plain = jpeg.decode_jpeg(jpeg.encode_jpeg(px, 90, subsampling=sub))
            for ri in (1, 3):
                data = jpeg.encode_jpeg(px, 90, subsampling=sub,
                                        restart_interval=ri)
                assert b"\xFF\xDD" in data
                assert np.array_equal(jpeg.decode_jpeg(data), plain)


def test_restart_markers_without_dri_rejected():
    px = synth_pixels(3, 32, 16)
    data = bytearray(jpeg.encode_jpeg(px, 90, restart_interval=2))
    i = bytes(data).index(b"\xFF\xDD")
    del data[i:i + 6]  # strip the DRI segment, keep the RST markers
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(bytes(data))


def test_byte_stuffing_roundtrip():
    """At least one corpus stream contains a stuffed 0xFF00 in its
    entropy segment; it must destuff transparently."""
    found = False
    for seed in range(40):
        px = synth_pixels(seed * 7919 + 1, 32, 32)
        data = jpeg.encode_jpeg(px, quality=90)
        i = data.index(b"\xFF\xDA")
        if b"\xFF\x00" in data[i:]:
            found = True
            assert psnr(px, jpeg.decode_jpeg(data)) >= 40.0
            break
    assert found, "no stream with byte stuffing found in 40 seeds"


def test_fuzz_random_arrays_roundtrip():
    """Hypothesis-style fuzz without the decorator overhead: random
    uint8 arrays of random small shapes round-trip through every
    (subsampling, restart) combination without error, and at q95 the
    luma error stays bounded even on noise (chroma is the documented
    4:2:0 cost)."""
    rng = np.random.default_rng(12345)
    for trial in range(25):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        sub = ("444", "420")[trial % 2]
        ri = (0, 2)[(trial // 2) % 2]
        data = jpeg.encode_jpeg(px, quality=95, subsampling=sub,
                                restart_interval=ri)
        out = jpeg.decode_jpeg(data)
        assert out.shape == (h, w, 3)
        if sub == "444":
            assert psnr(px, out) >= 28.0  # noise at q95, 4:4:4


def test_fuzz_decoder_never_hangs_or_segfaults():
    """Bit-flipped and truncated streams must either decode or raise
    ValueError — never crash, hang, or return a wrong-shape array."""
    px = synth_pixels(8, 32, 16)
    data = jpeg.encode_jpeg(px, quality=90)
    rng = np.random.default_rng(777)
    # ValueError ONLY: the decoder normalizes IndexError/OverflowError/
    # struct.error/KeyError from corrupt streams (jpeg._CORRUPT_ERRORS),
    # so this test enforces the documented contract as stated.
    for _ in range(60):
        buf = bytearray(data)
        for _ in range(int(rng.integers(1, 4))):
            buf[int(rng.integers(2, len(buf)))] = int(rng.integers(0, 256))
        try:
            out = jpeg.decode_jpeg(bytes(buf))
            assert out.dtype == np.uint8 and out.ndim == 3
        except ValueError:
            pass
    for cut in range(2, len(data), max(1, len(data) // 40)):
        try:
            jpeg.decode_jpeg(data[:cut])
        except ValueError:
            pass


def test_progressive_roundtrip_matches_baseline():
    """SOF2 with the full 10-scan script (DC first Al=1, spectral-split
    AC first scans, the AC refinement chain, DC refinement) decodes to
    EXACTLY the baseline decode of the same quality/subsampling —
    progressive reorders the entropy stream, the quantized
    coefficients are identical. Covers 4:4:4, 4:2:0 (non-interleaved
    grids differ from the padded MCU grid), ragged dims (partial
    bottom/right blocks), restart intervals, and grayscale."""
    from vtzero_spark.engine import jpeg_progressive as jp

    for (h, w), sub, ri in (((64, 48), "444", 0), ((61, 45), "444", 0),
                            ((64, 48), "420", 0), ((61, 45), "420", 3),
                            ((33, 51), "444", 5)):
        px = synth_pixels(h * w, w, h)
        want = jpeg.decode_jpeg(
            jpeg.encode_jpeg(px, quality=85, subsampling=sub))
        prog = SR.encode_progressive(px, quality=85, subsampling=sub,
                                     restart_interval=ri)
        assert jp.is_progressive(prog)
        got = jpeg.decode_jpeg(prog)  # the dispatch path users hit
        assert np.array_equal(got, want), (h, w, sub, ri)
    g = synth_pixels(7, 40, 24)[..., 0].copy()
    want_g = jpeg.decode_jpeg(SR.encode_jpeg_gray(g, 85))
    got_g = jpeg.decode_jpeg(SR.encode_progressive(g, quality=85))
    assert np.array_equal(got_g, want_g)


def test_progressive_psnr_gate():
    """The q90 PSNR>=40dB verification gate holds through the
    progressive path exactly as through baseline (same coefficients,
    same gate)."""
    from vtzero_spark.engine import jpeg_progressive as jp

    px = synth_pixels(1234, 96, 64)
    out = jpeg.decode_jpeg(SR.encode_progressive(px, quality=90))
    assert psnr(px, out) >= 40.0


def test_progressive_partial_scan_prefix_decodes():
    """Spectral-selection payoff: a stream truncated to only its
    FIRST scans still decodes (coarse but recognizable) when closed
    with EOI — per-scan incremental refinement is the point of
    progressive. We rebuild a stream keeping only the DC+first-AC
    scans and expect a valid decode with positive PSNR headroom."""
    from vtzero_spark.engine import jpeg_progressive as jp

    px = synth_pixels(77, 64, 64)
    scans = [((0, 1, 2), 0, 0, 0, 1), ((0,), 1, 63, 0, 0),
             ((2,), 1, 63, 0, 0), ((1,), 1, 63, 0, 0),
             ((0, 1, 2), 0, 0, 1, 0)]
    data = SR.encode_progressive(px, quality=90, scans=scans)
    out = jpeg.decode_jpeg(data)
    assert out.shape == px.shape
    assert psnr(px, out) >= 40.0  # complete script at q90, full bits


def test_progressive_fuzz_valueerror_only():
    """Bit-flipped and truncated progressive streams decode or raise
    ValueError — never another exception type."""
    from vtzero_spark.engine import jpeg_progressive as jp

    px = synth_pixels(8, 32, 16)
    data = SR.encode_progressive(px, quality=90)
    rng = np.random.default_rng(4242)
    for _ in range(60):
        buf = bytearray(data)
        for _ in range(int(rng.integers(1, 4))):
            buf[int(rng.integers(2, len(buf)))] = int(rng.integers(0, 256))
        try:
            out = jpeg.decode_jpeg(bytes(buf))
            assert out.dtype == np.uint8 and out.ndim == 3
        except ValueError:
            pass
    for cut in range(2, len(data), max(1, len(data) // 40)):
        try:
            jpeg.decode_jpeg(data[:cut])
        except ValueError:
            pass


def test_progressive_422_and_alt_scan_scripts():
    """4:2:2 progressive (mixed-factor interleaved DC + non-interleaved
    AC grids) and ALTERNATIVE scan scripts — finer spectral bands, no
    successive approximation, reversed chroma order — all decode to
    the same pixels as baseline: scan-script choice reorders the
    entropy stream only."""
    from vtzero_spark.engine import jpeg_progressive as jp

    for (h, w) in ((48, 64), (31, 45)):
        px = synth_pixels(h * 7 + w, w, h)
        want = jpeg.decode_jpeg(
            jpeg.encode_jpeg(px, quality=85, subsampling="422"))
        got = jpeg.decode_jpeg(SR.encode_progressive(
            px, quality=85, subsampling="422"))
        assert np.array_equal(got, want), (h, w, "422")

    px = synth_pixels(9, 56, 40)
    want = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=85))
    for scans in (
        # spectral selection only, fine bands, no refinement
        [((0, 1, 2), 0, 0, 0, 0),
         ((0,), 1, 2, 0, 0), ((0,), 3, 9, 0, 0), ((0,), 10, 63, 0, 0),
         ((1,), 1, 63, 0, 0), ((2,), 1, 63, 0, 0)],
        # deep successive approximation on luma, chroma plain
        [((0, 1, 2), 0, 0, 0, 2),
         ((0, 1, 2), 0, 0, 2, 1), ((0, 1, 2), 0, 0, 1, 0),
         ((0,), 1, 63, 0, 3), ((0,), 1, 63, 3, 2),
         ((0,), 1, 63, 2, 1), ((0,), 1, 63, 1, 0),
         ((2,), 1, 63, 0, 0), ((1,), 1, 63, 0, 0)],
    ):
        got = jpeg.decode_jpeg(SR.encode_progressive(
            px, quality=85, scans=scans))
        assert np.array_equal(got, want), scans[:2]
