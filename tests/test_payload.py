"""Image payload codec tests (PNG, baseline JPEG) + PSNR gate."""

import numpy as np
import pytest

from vtzero_spark.engine.payload import (
    decode_payload,
    decode_png,
    encode_payload,
    encode_png,
    psnr,
    synth_pixels,
)


def test_synth_pixels_deterministic():
    a = synth_pixels(123456789, 32, 16)
    b = synth_pixels(123456789, 32, 16)
    assert a.shape == (16, 32, 3)
    assert np.array_equal(a, b)
    c = synth_pixels(123456790, 32, 16)
    assert not np.array_equal(a, c)


def test_png_roundtrip_lossless():
    px = synth_pixels(42, 64, 64)
    data = encode_png(px)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    out = decode_png(data)
    assert np.array_equal(px, out)
    assert psnr(px, out) == 99.0


def test_jpeg_stub_lossy_psnr_above_40():
    """fmt="jpeg" (the real baseline codec that replaced the rounds-1..3
    quantize+zlib stub) is lossy yet clears the input_hint gate."""
    px = synth_pixels(7, 256, 64)
    out = decode_payload(encode_payload(7, 256, 64, "jpeg"), "jpeg")
    p = psnr(px, out)
    assert 40.0 <= p < 99.0  # lossy but above the input_hint gate


def test_encode_payload_dispatch():
    assert decode_payload(encode_payload(1, 16, 16, "png"), "png").shape == (16, 16, 3)
    assert decode_payload(encode_payload(1, 16, 16, "jpeg"), "jpeg").shape == (16, 16, 3)
    with pytest.raises(ValueError):
        encode_payload(1, 16, 16, "webp")
    with pytest.raises(NotImplementedError):
        decode_payload(b"xx", "webp")


def test_png_rejects_garbage():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_quality_metrics_scalar():
    from vtzero_spark.engine.payload import quality_metrics

    flat = np.full((32, 32, 3), 7, dtype=np.uint8)
    m = quality_metrics(flat)
    assert m["lum_std"] == 0.0 and m["sharpness"] == 0.0
    assert m["entropy"] == 0.0
    rich = synth_pixels(99, 64, 64)
    m2 = quality_metrics(rich)
    assert m2["entropy"] > 1.0 and m2["sharpness"] > 0.5
    assert m2["lum_std"] > 4.0


def test_image_quality_and_curation_distributed(spark):
    """curate_images_fused = verify -> quality -> perceptual dedup,
    one plan: a corrupt payload fails verification, a flat image fails
    the quality gate, a re-encoded near-dup is removed by dedup, and
    every ordinary image survives."""
    import pandas as pd

    from vtzero_spark.engine import jpeg
    from vtzero_spark.engine.payload import (
        curate_images_fused, encode_payload, image_quality)

    rows = []
    for i in range(40):
        w, h = [(16, 16), (32, 16), (64, 32)][i % 3]
        fmt = "jpeg" if i % 2 else "png"
        ph = i * 7919 + 13
        rows.append((f"img{i:012d}", encode_payload(ph, w, h, fmt),
                     w, h, fmt, f"cap {i}", ph))
    # near-dup of img 4 (PNG original, JPEG re-encode — cross-FORMAT
    # dup; passes verify: same phash reference, q90 stays over the
    # PSNR gate; larger id -> dedup loser)
    px4 = synth_pixels(4 * 7919 + 13, 32, 16)
    rows.append((f"img{10**9 + 5:012d}", jpeg.encode_jpeg(px4, 90),
                 32, 16, "jpeg", f"cap {10**9 + 5}", 4 * 7919 + 13))
    # corrupt payload: fails verification
    rows.append((f"img{10**9 + 7:012d}", b"\xFF\xD8garbage",
                 16, 16, "jpeg", f"cap {10**9 + 7}", 1))
    # flat image: decodes fine, fails the quality gate (and the
    # pixel-reference check)
    from vtzero_spark.engine.payload import encode_png
    flat = np.full((16, 16, 3), 7, dtype=np.uint8)
    rows.append((f"img{10**9 + 9:012d}", encode_png(flat),
                 16, 16, "png", f"cap {10**9 + 9}", 2))

    pdf = pd.DataFrame(rows, columns=[
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"])
    df = spark.createDataFrame(pdf)

    iq = image_quality(df).toPandas().set_index("image_id")
    assert bool(iq.loc[f"img{10**9 + 9:012d}", "quality_ok"]) is False
    assert iq.loc[f"img{10**9 + 9:012d}", "status"] == "ok"
    assert bool(iq.loc["img000000000003", "quality_ok"]) is True

    kept = set(curate_images_fused(df).toPandas()["image_id"])
    assert kept == {f"img{i:012d}" for i in range(40)}


def test_batched_kernels_match_scalar():
    """thumbnail_batch is byte-identical to thumbnail (integer means
    are order-exact in float64); color_features_batch and
    quality_metrics_batch agree with the scalar kernels to ULP."""
    from vtzero_spark.engine.payload import (
        color_features, color_features_batch, quality_metrics,
        quality_metrics_batch, thumbnail, thumbnail_batch)

    imgs = [synth_pixels(seed, 48, 32) for seed in range(9)]
    stack = np.stack(imgs)
    tb = thumbnail_batch(stack)
    fb = color_features_batch(stack)
    qb = quality_metrics_batch(stack)
    for j, px in enumerate(imgs):
        assert np.array_equal(tb[j], thumbnail(px))
        assert np.allclose(fb[j], color_features(px), rtol=1e-12)
        m = quality_metrics(px)
        for k, v in m.items():
            assert np.isclose(qb[k][j], v, rtol=1e-9), k
    # tiny images: the sharpness guard branch
    tiny = np.stack([synth_pixels(s, 2, 2) for s in range(3)])
    assert (quality_metrics_batch(tiny)["sharpness"] == 0.0).all()


def test_progressive_payloads_through_operators(spark):
    """Real-world JPEG corpora are ~half progressive: SOF2 payloads
    ride the payload operators unchanged (decode_jpeg dispatches by
    SOF marker) — the PSNR>=40dB gate passes at q90, and the
    perceptual hash pairs a progressive re-encode with its baseline
    original (cross-CODING dup, the dedup class progressive adds)."""
    import pandas as pd

    from vtzero_spark.engine import imagehash, jpeg
    from scalar_reference import encode_progressive
    from vtzero_spark.engine.payload import synth_pixels, verify_payloads

    rows = []
    for i in range(8):
        ph = i * 7919 + 13
        w, h = [(16, 16), (32, 16), (64, 32)][i % 3]
        px = synth_pixels(ph, w, h)
        # 4:4:4 — the 40dB gate prices quantization, not chroma
        # subsampling (baseline 4:2:0 sits below it too, ~35dB)
        rows.append((f"img{i:012d}",
                     encode_progressive(px, quality=90),
                     ph, w, h, "jpeg", f"cap {i}"))
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["image_id", "bytes", "phash", "w", "h", "fmt",
                       "caption"]))
    v = verify_payloads(df).toPandas()
    assert v["pixels_ok"].all() and v["caption_ok"].all()
    assert (v["psnr_db"] >= 40.0).all()

    # cross-coding dedup: baseline q75 original + progressive twin
    pair_rows = []
    for i in range(8):
        ph = i * 7919 + 13
        w, h = [(16, 16), (32, 16), (64, 32)][i % 3]
        px = synth_pixels(ph, w, h)
        pair_rows.append((f"img{i:012d}",
                          jpeg.encode_jpeg(px, quality=75), "jpeg"))
        pair_rows.append((f"img{i:012d}~p",
                          encode_progressive(px, quality=75), "jpeg"))
    imgs = spark.createDataFrame(pd.DataFrame(
        pair_rows, columns=["image_id", "bytes", "fmt"]))
    kept = set(imagehash.dedup_phash(imgs)
               .select("image_id").toPandas()["image_id"])
    assert kept == {f"img{i:012d}" for i in range(8)}


def _curate_composed(df):
    """Curation composed from the stock operators, each decoding every
    payload itself (verify, quality, hash): the reference the fused
    one-pass curation must reproduce."""
    from pyspark.sql import functions as F

    from vtzero_spark.engine.imagehash import dedup_phash
    from vtzero_spark.engine.payload import image_quality, verify_payloads

    verdicts = verify_payloads(df).select(
        "image_id",
        (F.col("pixels_ok") & F.col("caption_ok")).alias("verified"))
    quality = image_quality(df).select("image_id", "quality_ok")
    good = (df.join(verdicts, "image_id").join(quality, "image_id")
            .where(F.col("verified") & F.col("quality_ok")))
    return dedup_phash(good, max_d=10)


def test_curate_images_fused_matches_composed(spark):
    """The fused one-pass curation keeps exactly the rows and verdicts
    of the three-pass composed pipeline on the full mixed corpus —
    corrupt payload, flat image, cross-format near-dup and all."""
    import pandas as pd

    from vtzero_spark.engine import jpeg
    from vtzero_spark.engine.payload import (
        curate_images_fused, encode_payload, synth_pixels)

    rows = []
    for i in range(40):
        w, h = [(16, 16), (32, 16), (64, 32)][i % 3]
        fmt = "jpeg" if i % 2 else "png"
        ph = i * 7919 + 13
        rows.append((f"img{i:012d}", encode_payload(ph, w, h, fmt),
                     w, h, fmt, f"cap {i}", ph))
    px4 = synth_pixels(4 * 7919 + 13, 32, 16)
    rows.append((f"img{10**9:012d}", jpeg.encode_jpeg(px4, quality=90),
                 32, 16, "jpeg", f"cap {10**9}", 4 * 7919 + 13))
    rows.append((f"img{10**9 + 1:012d}", b"\xFF\xD8garbage",
                 32, 16, "jpeg", f"cap {10**9 + 1}", 99))
    flat = np.full((16, 16, 3), 119, dtype=np.uint8)
    rows.append((f"img{10**9 + 9:012d}", jpeg.encode_jpeg(flat, 90),
                 16, 16, "jpeg", f"cap {10**9 + 9}", 77))
    pdf = pd.DataFrame(rows, columns=[
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"])
    # the near-dup's caption check: verify compares pixels against
    # synth(phash), so give it the matching reference phash but its
    # own id-derived caption
    df = spark.createDataFrame(pdf)

    want = _curate_composed(df).toPandas()
    got = curate_images_fused(df).toPandas()
    assert set(want["image_id"]) == set(got["image_id"])
    for col in ("verified", "quality_ok"):
        w_ = want.set_index("image_id")[col].to_dict()
        g_ = got.set_index("image_id")[col].to_dict()
        assert w_ == g_, col
