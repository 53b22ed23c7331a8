"""Image payload handling: synth, encode/decode, PSNR verification.

Per BASELINE.json input_hint, every decoded payload must satisfy pixel
allclose (PSNR >= 40 dB for lossy formats) and exact caption equality
versus the reference. The container has no image libraries, so both
codecs are implemented here from public specs:

- "png" is a REAL minimal PNG codec (stdlib zlib, 8-bit RGB, filter 0)
  — lossless, so decoded pixels are exact;
- "jpeg" is a REAL baseline JPEG codec (engine/jpeg.py: ITU-T T.81
  sequential DCT, Annex K tables, JFIF 4:4:4, canonical Huffman) at
  quality 90 — PSNR 43+ dB on the synthetic corpus, ~10:1 compression,
  so the >=40 dB gate exercises an actual transform codec.

Pixels are synthesized deterministically from (phash, w, h) — no
external data. The field is smooth (low-frequency cosines + faint
dither): full-spectrum noise is unverifiable through ANY real lossy
transform codec (measured 26-36 dB at q85-95), so photographic-like
content is a correctness requirement of the gate, not a convenience.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from . import png as pngcodec


def encode_png(arr: np.ndarray) -> bytes:
    """8-bit RGB truecolor PNG via the full adaptive-filter codec
    (engine/png.py; round 5 — was filter-0-only).  Same signature and
    sig bytes; old filter-0 payloads remain decodable (subset)."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return pngcodec.encode(arr)


def decode_png(data: bytes) -> np.ndarray:
    """Decode any supported PNG to (h, w, 3) uint8 RGB — all five
    filters, gray/palette/alpha/16-bit normalized by
    engine/png.decode_rgb8; ValueError on malformed streams."""
    return pngcodec.decode_rgb8(data)


def synth_pixels(phash: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixels from phash: a smooth low-frequency field
    (per-channel cosine modes + gradient) plus a faint +/-2 LCG dither.

    Photographic-like spectrum by design: the rounds-1..3 white-noise
    pixels were unverifiable through any REAL transform codec (no
    quality level of an 8x8 DCT codec reaches 40 dB on full-spectrum
    noise — measured 26-36 dB at q85-95), so with the real baseline
    JPEG the input_hint PSNR gate needs content whose energy lives
    where images put it: low frequencies. Fully vectorized; still
    unique per phash (the determinism contract is unchanged)."""
    mask = (1 << 64) - 1
    a, c = 6364136223846793005, 1442695040888963407

    def p(i: int) -> int:
        return (((phash | 1) * a + i * c) & mask) >> 16

    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    two_pi = 2.0 * np.pi

    # One SHARED structure field for all channels (this is the photo
    # statistic that matters: JPEG quantizes chroma far harder than
    # luma, so three independent RGB fields put full-amplitude detail
    # into Cb/Cr and sink the 40 dB gate at small sizes; real images
    # carry structure in luminance and keep chroma smooth). Per
    # channel: a distinct DC level (color) + a small low-freq delta.
    #
    # Mode design: three near-equal-amplitude incommensurate modes +
    # a mid-scale texture mode + gradient, with wavelengths
    # PROPORTIONAL to the image dimensions (0.4..1.3 x per axis):
    # every size shows 0.8-2.5 cycles of structure per mode, so (a)
    # an 8x8 perceptual summary is pattern-rich at EVERY size — a
    # fixed pixel wavelength leaves 16x16 images monotone and
    # collision-prone under perceptual hashing; (b) per-block spatial
    # frequency stays low at every size (codec-friendly); (c) the
    # same phash renders an approximately-scaled version of the same
    # scene at any resolution. Floors keep the smallest images out of
    # the harshly-quantized mid-frequency bins.
    amps = [14.0 + (p(2 + i) % 14) for i in range(3)]
    a4 = 8.0 + (p(13) % 8)

    def lam(i: int, dim: int) -> float:
        return max(10.0, dim * (0.4 + (p(5 + i) % 900) / 1000.0))

    lx = [lam(i, w) for i in (0, 2, 4)]
    ly = [lam(i, h) for i in (1, 3, 5)]
    ltx = max(9.0, w * (0.2 + (p(14) % 150) / 1000.0))
    lty = max(9.0, h * (0.2 + (p(15) % 150) / 1000.0))
    phs = [(p(16 + i) % 628) / 100.0 for i in range(4)]
    grad = (p(11) % 41) - 20.0
    shared = (
        amps[0] * np.cos(two_pi * (xx / lx[0] + yy / ly[0]) + phs[0])
        + amps[1] * np.cos(two_pi * (xx / lx[1] - yy / ly[1]) + phs[1])
        + amps[2] * np.cos(two_pi * (xx / lx[2] + yy / ly[2]) + phs[2])
        + a4 * np.cos(two_pi * (xx / ltx + yy / lty) + phs[3])
        + grad * (xx / max(w, 1) + yy / max(h, 1)) * 0.5
    )

    out = np.empty((h, w, 3), dtype=np.uint8)
    for ch in range(3):
        base = 70.0 + (p(97 * ch + 1) % 116)
        da = 3.0 + (p(97 * ch + 2) % 5)
        dlx = max(12.0, w * (0.5 + (p(97 * ch + 3) % 700) / 1000.0))
        dly = max(12.0, h * (0.5 + (p(97 * ch + 4) % 700) / 1000.0))
        dph = (p(97 * ch + 5) % 628) / 100.0
        delta = da * np.cos(two_pi * (xx / dlx + yy / dly) + dph)
        # faint dither so every pixel still depends on phash
        idx = (yy * w + xx) * 3 + ch
        x = ((np.uint64(phash | 1) * (idx.astype(np.uint64) + np.uint64(1))
              * np.uint64(a)) + np.uint64(c))
        dither = ((x >> np.uint64(33)) & np.uint64(3)).astype(np.float64) - 1.5
        out[..., ch] = np.clip(
            np.round(base + shared + delta + dither), 0, 255).astype(np.uint8)
    return out


_JPEG_QUALITY = 90  # 43+ dB worst-case on the synthetic corpus


def encode_payload(phash: int, w: int, h: int, fmt: str) -> bytes:
    from . import jpeg

    px = synth_pixels(phash, w, h)
    if fmt == "png":
        return encode_png(px)
    if fmt == "jpeg":
        return jpeg.encode_jpeg(px, quality=_JPEG_QUALITY)
    raise ValueError(f"unknown fmt {fmt}")


def decode_payload(data: bytes, fmt: str) -> np.ndarray:
    from . import jpeg

    if fmt == "png":
        return decode_png(bytes(data))
    if fmt == "jpeg":
        return jpeg.decode_jpeg(bytes(data))
    raise NotImplementedError(f"decoder for fmt={fmt} not available in this container")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return 99.0
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ------------------------------------------------------------ Spark side

def with_image_bytes(df: DataFrame) -> DataFrame:
    """Attach the binary payload column (Arrow-batched generation).

    The input is spread to the session parallelism first: a single
    small parquet file scans as ONE partition, which would serialize
    the whole encode pass into one task holding one giant Arrow batch
    (with the real JPEG encoder that is both slow and a JVM-memory
    cliff). No-op on already-parallel scans."""
    from .textops import _spread

    df = _spread(df)
    cols = df.columns

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["bytes"] = [
                encode_payload(int(p), int(w), int(h), f)
                for p, w, h, f in zip(pdf["phash"], pdf["w"], pdf["h"], pdf["fmt"])
            ]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(gen, schema=schema + ", bytes binary")


def thumbnail(arr: np.ndarray, t: int = 8) -> np.ndarray:
    """Box-downsample to a t x t RGB thumbnail (pure numpy; w,h are
    multiples of t in the synthetic table)."""
    h, w, c = arr.shape
    bh, bw = max(h // t, 1), max(w // t, 1)
    hh, ww = bh * t if h >= t else h, bw * t if w >= t else w
    a = arr[:hh, :ww].reshape(min(t, h), bh, min(t, w), bw, c)
    return a.mean(axis=(1, 3)).astype(np.uint8)


def color_features(arr: np.ndarray) -> np.ndarray:
    """12-dim feature vector: per-channel mean/std + 6-bin luminance
    histogram (normalized). Deterministic, numpy-only."""
    f = arr.astype(np.float64)
    mean = f.mean(axis=(0, 1))
    std = f.std(axis=(0, 1))
    lum = f @ np.array([0.299, 0.587, 0.114])
    hist, _ = np.histogram(lum, bins=6, range=(0.0, 256.0))
    hist = hist / max(lum.size, 1)
    return np.concatenate([mean, std, hist])


# ------------------------------------------------- batched kernels
# Same-size images stack into (N, h, w, 3) and every per-pixel kernel
# runs ONCE over the stack (the per-image Python is only the decode,
# which is inherently per-stream). Means of integer pixels are exact
# in float64 regardless of summation order, so the batched thumbnail
# is byte-identical to the scalar one; float reductions (std,
# sharpness) agree to ULP. Histograms stay per-image np.histogram
# calls (C-speed on contiguous slices) so binning is bit-identical.
#
# Stacks are processed in CHUNKS (_STACK_CHUNK images): an unbounded
# stack turns the float64 temporaries into DRAM-streaming traffic —
# measured 2x SLOWER than the per-image loop on this class of
# hardware (memory bandwidth, not compute, is the binding resource;
# same lesson as the cache-blocked MinHash kernel in textops). A
# bounded chunk keeps the working set cache-resident while still
# amortizing the per-call numpy overhead across images.
_STACK_CHUNK = 64

def thumbnail_batch(stack: np.ndarray, t: int = 8) -> np.ndarray:
    """(N, h, w, 3) -> (N, th, tw, 3); per image == thumbnail()."""
    n, h, w, c = stack.shape
    bh, bw = max(h // t, 1), max(w // t, 1)
    hh, ww = bh * t if h >= t else h, bw * t if w >= t else w
    a = stack[:, :hh, :ww].reshape(
        n, min(t, h), bh, min(t, w), bw, c)
    return a.mean(axis=(2, 4)).astype(np.uint8)


def color_features_batch(stack: np.ndarray) -> np.ndarray:
    """(N, h, w, 3) -> (N, 12); per image == color_features()."""
    f = stack.astype(np.float64)
    mean = f.mean(axis=(1, 2))
    std = f.std(axis=(1, 2))
    lum = f @ np.array([0.299, 0.587, 0.114])
    npx = lum[0].size
    hists = np.stack([
        np.histogram(lum[i], bins=6, range=(0.0, 256.0))[0]
        for i in range(len(f))]) / max(npx, 1)
    return np.concatenate([mean, std, hists], axis=1)


def quality_metrics_batch(stack: np.ndarray) -> dict:
    """(N, h, w, 3) -> dict of (N,) metric arrays; per image ==
    quality_metrics()."""
    f = stack.astype(np.float64)
    lum = (f[..., 0] * 0.299 + f[..., 1] * 0.587 + f[..., 2] * 0.114)
    n, h, w = lum.shape
    if min(h, w) >= 3:
        lap = (
            -4.0 * lum[:, 1:-1, 1:-1]
            + lum[:, :-2, 1:-1] + lum[:, 2:, 1:-1]
            + lum[:, 1:-1, :-2] + lum[:, 1:-1, 2:]
        )
        sharp = np.abs(lap).mean(axis=(1, 2))
    else:
        sharp = np.zeros(n)
    p = np.stack([
        np.histogram(lum[i], bins=32, range=(0.0, 256.0))[0]
        for i in range(n)]) / max(h * w, 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        ent = -np.where(p > 0, p * np.log2(np.where(p > 0, p, 1.0)),
                        0.0).sum(axis=1)
    rg = f[..., 0] - f[..., 1]
    yb = 0.5 * (f[..., 0] + f[..., 1]) - f[..., 2]
    colorfulness = (
        np.hypot(rg.std(axis=(1, 2)), yb.std(axis=(1, 2)))
        + 0.3 * np.hypot(np.abs(rg.mean(axis=(1, 2))),
                         np.abs(yb.mean(axis=(1, 2)))))
    return {
        "lum_mean": lum.mean(axis=(1, 2)), "lum_std": lum.std(axis=(1, 2)),
        "sharpness": sharp, "entropy": ent, "colorfulness": colorfulness,
    }


def _decode_and_group(pdf: pd.DataFrame):
    """Decode every payload of one Arrow batch, then group the decoded
    arrays by shape for stacked kernels. Returns (pixel list indexed
    like pdf with None for failures, status list, {shape: [row
    positions]})."""
    pxs: list = []
    statuses: list = []
    groups: dict = {}
    a_bytes = pdf["bytes"].to_numpy(object)
    a_fmt = pdf["fmt"].to_numpy(object)
    for i in range(len(pdf)):
        try:
            px = decode_payload(a_bytes[i], a_fmt[i])
            pxs.append(px)
            statuses.append("ok")
            groups.setdefault(px.shape, []).append(i)
        except (ValueError, NotImplementedError) as e:
            pxs.append(None)
            statuses.append(f"{type(e).__name__}: {e}")
    return pxs, statuses, groups


def image_features(df: DataFrame, thumb: int = 8) -> DataFrame:
    """Multimodal feature-extraction operator: decode the binary
    payload per fmt, emit a thumbnail (raw RGB bytes) and a
    12-dim float feature vector. Arrow-batched mapInPandas — the
    Spark-side plumbing (binary in, binary+array out, batch shape)
    is the 100 TB-real part; the codecs are the container-local
    stand-ins documented above."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            pxs, statuses, groups = _decode_and_group(pdf)
            thumbs = [b""] * n
            tws = np.zeros(n, dtype=np.int64)
            ths = np.zeros(n, dtype=np.int64)
            feats: list = [[]] * n
            # one stacked kernel pass per distinct decoded shape,
            # cache-chunked (ragged corpora degrade gracefully to
            # per-image stacks)
            for shape, idxs in groups.items():
                for c0 in range(0, len(idxs), _STACK_CHUNK):
                    part = idxs[c0:c0 + _STACK_CHUNK]
                    stack = np.stack([pxs[i] for i in part])
                    tb = thumbnail_batch(stack, thumb)
                    fb = color_features_batch(stack)
                    for j, i in enumerate(part):
                        thumbs[i] = tb[j].tobytes()
                        tws[i], ths[i] = tb.shape[2], tb.shape[1]
                        feats[i] = fb[j].tolist()
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy(object),
                "thumb_w": tws, "thumb_h": ths,
                "thumbnail": thumbs, "features": feats,
                "status": statuses,
            }, columns=["image_id", "thumb_w", "thumb_h",
                        "thumbnail", "features", "status"])

    return df.select("image_id", "bytes", "fmt").mapInPandas(
        gen,
        schema=("image_id string, thumb_w int, thumb_h int, "
                "thumbnail binary, features array<double>, status string"),
    )


def quality_metrics(arr: np.ndarray) -> dict:
    """Deterministic per-image quality signals (numpy-only, the
    standard curation heuristics): luminance mean/std, gradient
    sharpness (mean |Laplacian|), 32-bin luminance entropy, and
    colorfulness (Hasler-Suesstrunk rg/yb statistic)."""
    f = arr.astype(np.float64)
    lum = f[..., 0] * 0.299 + f[..., 1] * 0.587 + f[..., 2] * 0.114
    lap = (
        -4.0 * lum[1:-1, 1:-1]
        + lum[:-2, 1:-1] + lum[2:, 1:-1]
        + lum[1:-1, :-2] + lum[1:-1, 2:]
    ) if min(lum.shape) >= 3 else np.zeros((1, 1))
    hist, _ = np.histogram(lum, bins=32, range=(0.0, 256.0))
    p = hist / max(lum.size, 1)
    nz = p[p > 0]
    rg = f[..., 0] - f[..., 1]
    yb = 0.5 * (f[..., 0] + f[..., 1]) - f[..., 2]
    colorfulness = float(
        np.hypot(rg.std(), yb.std())
        + 0.3 * np.hypot(abs(rg.mean()), abs(yb.mean())))
    return {
        "lum_mean": float(lum.mean()),
        "lum_std": float(lum.std()),
        "sharpness": float(np.abs(lap).mean()),
        "entropy": float(-(nz * np.log2(nz)).sum()),
        "colorfulness": colorfulness,
    }


_IQ_COLS = ["lum_mean", "lum_std", "sharpness", "entropy", "colorfulness"]


def image_quality(df: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt) -> per-image quality signals + pass/fail
    flags (too dark/bright, too flat, too blurry) — the image twin of
    textops.quality_score for curation gating. Arrow-batched;
    errors-as-data (undecodable -> status + NULL metrics)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["image_id"] + _IQ_COLS + ["status"]
        for pdf in batches:
            n = len(pdf)
            pxs, statuses, groups = _decode_and_group(pdf)
            out = {c: np.full(n, np.nan) for c in _IQ_COLS}
            for shape, idxs in groups.items():
                for c0 in range(0, len(idxs), _STACK_CHUNK):
                    part = idxs[c0:c0 + _STACK_CHUNK]
                    m = quality_metrics_batch(
                        np.stack([pxs[i] for i in part]))
                    for c in _IQ_COLS:
                        out[c][part] = m[c]
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy(object),
                # nullable Float64: decode failures carry NaN here and
                # must surface as SQL NULL, not NaN
                **{c: pd.array(v, dtype="Float64")
                   for c, v in out.items()},
                "status": statuses,
            }, columns=cols)

    from .textops import _spread

    out = _spread(df.select("image_id", "bytes", "fmt")).mapInPandas(
        gen, schema=("image_id string, lum_mean double, lum_std double, "
                     "sharpness double, entropy double, "
                     "colorfulness double, status string"))
    from pyspark.sql import functions as F
    return out.select(
        "*",
        ((F.col("status") == "ok")
         & F.col("lum_mean").between(16.0, 240.0)
         & (F.col("lum_std") >= 4.0)
         & (F.col("sharpness") >= 0.5)
         & (F.col("entropy") >= 1.0)).alias("quality_ok"))


_CURATION_FACTS_SCHEMA = ("image_id string, verified boolean, "
                          "quality_ok boolean, b0 long, b1 long, "
                          "b2 long, b3 long, ctag long")


def _curation_facts_gen(batches: "Iterator[pd.DataFrame]"):
    """ONE decode per image emitting all three verdict sets: the
    verification gate (PSNR + caption), the quality gate, and the
    perceptual hash."""
    from .imagehash import _HASH_COLS, blockhash

    cols = ["image_id", "verified", "quality_ok"] + _HASH_COLS
    for pdf in batches:
        ids, ver_l, q_l = [], [], []
        hvals: dict[str, list] = {c: [] for c in _HASH_COLS}
        for r in pdf.itertuples():
            ids.append(r.image_id)
            try:
                px = decode_payload(r.bytes, r.fmt)
                ref = synth_pixels(int(r.phash), int(r.w), int(r.h))
                p = psnr(ref, px)
                ver = p >= (40.0 if r.fmt == "jpeg" else 99.0)
                try:
                    ver = ver and (
                        r.caption == f"cap {int(r.image_id[3:])}")
                except (ValueError, TypeError):
                    ver = False
                m = quality_metrics(px)
                q_ok = (16.0 <= m["lum_mean"] <= 240.0
                        and m["lum_std"] >= 4.0
                        and m["sharpness"] >= 0.5
                        and m["entropy"] >= 1.0)
                for c, v in zip(_HASH_COLS, blockhash(px)):
                    hvals[c].append(v)
                ver_l.append(bool(ver))
                q_l.append(bool(q_ok))
            except (ValueError, NotImplementedError):
                for c in _HASH_COLS:
                    hvals[c].append(None)
                ver_l.append(False)
                q_l.append(False)
        out = {"image_id": ids, "verified": ver_l, "quality_ok": q_l}
        # nullable Int64: a float64 coercion (any None in the batch)
        # would round 63-bit hashes (see image_phash)
        for c in _HASH_COLS:
            out[c] = pd.array(hvals[c], dtype="Int64")
        yield pd.DataFrame(out, columns=cols)


def curation_facts(df: DataFrame) -> DataFrame:
    """The fused per-image fact table: (image_id, verified,
    quality_ok, b0..b3, ctag) from ONE decode pass."""
    from .textops import _spread

    return _spread(df.select(
        "image_id", "bytes", "fmt", "phash", "w", "h", "caption"
    )).mapInPandas(_curation_facts_gen, schema=_CURATION_FACTS_SCHEMA)


def curate_images_fused(df: DataFrame, max_d: int = 10) -> DataFrame:
    """Image curation — the image twin of textops.curation_pipeline:
    payload verification (PSNR + caption gate) -> quality gating ->
    perceptual near-dup dedup. Input: rows with (image_id, bytes, fmt,
    phash, w, h, caption). Output: surviving rows + the per-stage
    verdicts (verified, quality_ok). ONE decode per payload: the
    shared kernel emits all three verdict sets, and the gates + dedup
    run over that SMALL fact table (8 columns/row). Composing the
    stock operators (verify_payloads, image_quality, dedup_phash)
    keeps exactly the same rows and verdicts at three decodes per
    payload (equality pinned in test_payload)."""
    from pyspark.sql import functions as F

    from .imagehash import phash_neardup_pairs
    from .textops import neardup_components

    # eager localCheckpoint: the decode pass runs exactly ONCE and the
    # materialized fact table (8 cols/row, orders of magnitude smaller
    # than the payloads) feeds both the pair join and the final gate —
    # a plain persist would be dropped before the lazy result runs
    good = curation_facts(df) \
        .where(F.col("verified") & F.col("quality_ok")) \
        .localCheckpoint(eager=True)
    pairs = phash_neardup_pairs(good, max_d=max_d)
    comp = neardup_components(pairs, a_col="image_id",
                              b_col="other_id")
    losers = comp.where(F.col("component") != F.col("doc_id")) \
        .select(F.col("doc_id").alias("image_id"))
    keep = good.select("image_id", "verified", "quality_ok") \
        .join(losers, "image_id", "left_anti")
    return df.join(keep, "image_id")


def verify_payloads(df: DataFrame) -> DataFrame:
    """Per-row invariant check vs the reference pixels: psnr_db and
    caption_ok columns (input_hint contract). Vectorized per Arrow
    batch; PSNR >= 40 dB required for lossy fmt, exact for png."""

    def chk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                ref = synth_pixels(int(r.phash), int(r.w), int(r.h))
                try:
                    got = decode_payload(r.bytes, r.fmt)
                    p = psnr(ref, got)
                    ok = p >= (40.0 if r.fmt == "jpeg" else 99.0)
                except (ValueError, NotImplementedError) as e:
                    p, ok = -1.0, False
                # exact caption equality vs the reference derivation
                # (caption of image img%012d is "cap <iid>"); a
                # malformed id is a failed check, not a task failure
                try:
                    cap_ok = r.caption == f"cap {int(r.image_id[3:])}"
                except (ValueError, TypeError):
                    cap_ok = False
                out.append({"image_id": r.image_id, "psnr_db": p,
                            "pixels_ok": bool(ok), "caption_ok": bool(cap_ok)})
            yield pd.DataFrame(out, columns=["image_id", "psnr_db", "pixels_ok", "caption_ok"])

    return df.select("image_id", "bytes", "phash", "w", "h", "fmt", "caption").mapInPandas(
        chk, schema="image_id string, psnr_db double, pixels_ok boolean, caption_ok boolean"
    )
