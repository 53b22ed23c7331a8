"""EXIF codec + GPS->tile ingest: round-trip laws, golden bytes,
corrupt-input contract, strip idempotence, Spark end-to-end."""

import struct

import numpy as np
import pytest

from vtzero_spark.engine import exif, synth
from vtzero_spark.engine.payload import decode_payload, encode_payload
from vtzero_spark.engine.synth import WORLD
import scalar_reference as SR


def _plant(wx, wy, bo="II", orient=5, dt="2024:01:02 03:00:00", w=64, h=32):
    lat_ref, lat_dms, lon_ref, lon_dms = SR.world_to_dms(wx, wy)
    return exif.build_exif_tiff(orient, dt, w, h, lat_ref, lat_dms,
                                lon_ref, lon_dms, bo)


@pytest.mark.parametrize("bo", ["II", "MM"])
@pytest.mark.parametrize("wx,wy", [(0, 0), (1, 1), (32768, 32768),
                                   (65535, 65535), (12345, 54321)])
def test_tiff_roundtrip_exact(bo, wx, wy):
    m = exif.parse_exif_tiff(_plant(wx, wy, bo))
    assert m["byte_order"] == bo
    assert m["orientation"] == 5
    assert m["datetime_original"] == "2024:01:02 03:00:00"
    assert (m["pixel_w"], m["pixel_h"]) == (64, 32)
    assert exif.gps_to_world(m["lat_ref"], m["lat_dms"],
                             m["lon_ref"], m["lon_dms"]) == (wx, wy)


def test_golden_header_bytes():
    """Spec pins, independent of our parser: TIFF header, IFD0 entry
    count/layout, the APP1 wrapper framing."""
    t = _plant(12345, 54321, "II")
    assert t[:8] == b"II" + struct.pack("<HI", 42, 8)
    assert struct.unpack_from("<H", t, 8)[0] == 3          # IFD0 entries
    tag, typ, cnt = struct.unpack_from("<HHI", t, 10)
    assert (tag, typ, cnt) == (0x0112, 3, 1)               # Orientation SHORT 1
    app1 = exif.wrap_app1(t)
    assert app1[:2] == b"\xff\xe1"
    assert struct.unpack(">H", app1[2:4])[0] == len(t) + 8
    assert app1[4:10] == b"Exif\x00\x00"
    mm = _plant(12345, 54321, "MM")
    assert mm[:8] == b"MM" + struct.pack(">HI", 42, 8)


def test_batch_encode_equals_scalar():
    n = 64
    rng = np.arange(n, dtype=np.int64) * 7919 + 3
    wx = (rng * 48271 + 11) % WORLD
    wy = (rng * 69621 + 23) % WORLD
    bo = np.where(rng % 2 == 0, "II", "MM")
    dt = [f"2024:01:{int(i) % 28 + 1:02d} {int(i) % 24:02d}:00:00"
          for i in rng]
    batch = exif.build_exif_batch(rng % 8 + 1, dt, np.full(n, 64),
                                  np.full(n, 32), wx, wy, bo)
    for k in range(n):
        assert batch[k] == _plant(int(wx[k]), int(wy[k]), str(bo[k]),
                                  orient=int(rng[k] % 8 + 1), dt=dt[k])


@pytest.mark.parametrize("fmt", ["jpeg", "png"])
def test_carrier_insert_parse_strip(fmt):
    p = encode_payload(99991, 16, 16, fmt)
    p2 = exif.insert_exif(p, _plant(100, 200), fmt)
    m = exif.parse_exif(p2)
    assert exif.gps_to_world(m["lat_ref"], m["lat_dms"],
                             m["lon_ref"], m["lon_dms"]) == (100, 200)
    # pixels untouched by the metadata splice
    np.testing.assert_array_equal(decode_payload(p2, fmt),
                                  decode_payload(p, fmt))
    # full strip: byte-identical to the pre-insert container, idempotent
    s = exif.strip_exif(p2)
    assert s == p
    assert exif.find_exif(s) is None
    assert exif.strip_exif(s) == s


def test_no_exif_returns_none():
    assert exif.parse_exif(encode_payload(7, 16, 16, "jpeg")) is None
    assert exif.parse_exif(encode_payload(7, 16, 16, "png")) is None


def test_corrupt_inputs_raise_valueerror_only():
    """Errors-as-data contract: every malformed input is ValueError,
    never IndexError/struct.error/KeyError (the jpeg.py discipline)."""
    good = exif.insert_exif(encode_payload(5, 16, 16, "jpeg"),
                            _plant(7, 9), "jpeg")
    rng = np.random.default_rng(42)
    for _ in range(300):
        b = bytearray(good)
        for _ in range(int(rng.integers(1, 4))):
            b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
        try:
            m = exif.parse_exif(bytes(b))
            if m is not None and "lat_dms" in m and "lon_dms" in m:
                exif.gps_to_world(m["lat_ref"], m["lat_dms"],
                                  m["lon_ref"], m["lon_dms"])
        except ValueError:
            pass  # the only permitted failure mode


def test_truncated_tiff_raises():
    t = _plant(3, 4)
    for cut in (0, 1, 5, 9, 30, 100, len(t) - 1):
        with pytest.raises(ValueError):
            exif.parse_exif_tiff(t[:cut])


def test_off_grid_gps_rejected():
    # 1/3 degree does not land on the 65536 grid
    with pytest.raises(ValueError, match="off the integer grid"):
        exif.gps_to_world("N", ((1, 3), (0, 1), (0, 1)),
                          "E", ((0, 1), (0, 1), (0, 1)))
    with pytest.raises(ValueError, match="zero denominator"):
        exif.gps_to_world("N", ((1, 0), (0, 1), (0, 1)),
                          "E", ((0, 1), (0, 1), (0, 1)))


def test_spark_exif_tiles_end_to_end(spark, sf_dir):
    """bytes -> parse -> GPS -> tile matches the closed form for every
    image; corrupt + stripped payloads surface as status rows."""
    df = synth.images(spark, sf_dir, with_bytes=True).limit(400).cache()
    tiles = exif.exif_tiles(exif.attach_exif(df)).toPandas()
    base = df.select("iid", "image_id", "wx", "wy", "w", "h").toPandas()
    assert len(tiles) == len(base)
    j = tiles.set_index("image_id").join(base.set_index("image_id"),
                                         rsuffix="_t")
    assert (j["tx"] == j["wx_t"] // synth.EXTENT).all()
    assert (j["ty"] == j["wy_t"] // synth.EXTENT).all()
    assert (j["wx"] == j["wx_t"]).all() and (j["wy"] == j["wy_t"]).all()
    assert (j["orientation"] == j.index.map(
        base.set_index("image_id")["iid"]) % 8 + 1).all()
    df.unpersist()


def test_exif_index_fused_attach_equals_unfused(spark, sf_dir):
    """The r6 composition fast path (exif_index(attach_exif(X)) fuses
    both generators into one Python stage) must be row-identical to
    the two-stage path."""
    df = synth.images(spark, sf_dir, with_bytes=True).limit(300)
    attached = exif.attach_exif(df)
    fused = exif.exif_index(attached).toPandas()
    # strip the marker to force the generic two-stage path
    plain = attached.select(*attached.columns)
    assert not hasattr(plain, "_vtz_exif_attach")
    unfused = exif.exif_index(plain).toPandas()
    key = lambda d: d.sort_values("image_id").reset_index(drop=True)
    assert key(fused).equals(key(unfused))


def test_spark_exif_index_errors_as_data(spark, sf_dir):
    from pyspark.sql import functions as F

    df = synth.images(spark, sf_dir, with_bytes=True).limit(12)
    with_meta = exif.attach_exif(df)
    # corrupt the APP1 length byte region of half the payloads
    def smash(b):
        b = bytearray(b)
        if b[:2] == b"\xff\xd8":
            b[4] = 0xFF  # APP1 length hi-byte -> overruns buffer
        else:
            b[33 + 7] = 0x00  # eXIf type byte smashed -> CRC/type miss
        return bytes(b)

    smash_udf = F.udf(smash, "binary")
    mixed = with_meta.withColumn(
        "bytes", F.when(F.col("iid") % 2 == 0,
                        smash_udf("bytes")).otherwise(F.col("bytes")))
    idx = exif.exif_index(mixed).toPandas()
    ok = idx[idx.status == "ok"]
    bad = idx[idx.status != "ok"]
    assert len(ok) > 0 and len(bad) > 0
    assert all(s.startswith("corrupt:") or s in ("no_exif", "no_gps")
               for s in bad.status)


# ---------------------------------------------- orientation group laws

def test_orientation_group_laws():
    rng = np.random.default_rng(3)
    P = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    stored_forms = []
    for o in range(1, 9):
        s = SR.store_orientation(P, o)
        np.testing.assert_array_equal(exif.apply_orientation(s, o), P)
        stored_forms.append(s.tobytes() + str(s.shape).encode())
    # all 8 stored forms of an asymmetric image are distinct
    assert len(set(stored_forms)) == 8
    with pytest.raises(ValueError):
        exif.apply_orientation(P, 0)
    with pytest.raises(ValueError):
        exif.apply_orientation(P, 9)


def test_orientation_dims_swap():
    P = np.zeros((10, 20, 3), dtype=np.uint8)
    for o in (5, 6, 7, 8):
        assert SR.store_orientation(P, o).shape == (20, 10, 3)
    for o in (1, 2, 3, 4):
        assert SR.store_orientation(P, o).shape == (10, 20, 3)


def test_spark_oriented_phash_bridges_rotated_reuploads(spark):
    """The planted re-upload matrix: 3 base images x all 8 Exif
    orientations. After upright normalization every variant of a base
    hashes IDENTICALLY (exact 256-bit + ctag + phash64 equality);
    without it the rotated forms do NOT collapse."""
    from vtzero_spark.engine.imagehash import image_phash
    from vtzero_spark.engine.payload import encode_png, synth_pixels

    rows = []
    for b, seed in enumerate([11, 222, 3333]):
        P = synth_pixels(seed, 64, 32)
        for o in range(1, 9):
            stored = np.ascontiguousarray(SR.store_orientation(P, o))
            png = encode_png(stored)
            lat_ref, lat_dms, lon_ref, lon_dms = SR.world_to_dms(b, o)
            tiff = exif.build_exif_tiff(o, "2024:01:02 03:00:00",
                                        stored.shape[1], stored.shape[0],
                                        lat_ref, lat_dms, lon_ref, lon_dms,
                                        "II" if o % 2 else "MM")
            rows.append((f"img{b}_{o}", b, bytearray(
                exif.insert_exif(png, tiff, "png")), "png"))
    df = spark.createDataFrame(
        rows, "image_id string, base int, bytes binary, fmt string")

    up = exif.oriented_phash(df).toPandas()
    assert (up.status == "ok").all()
    key = up.set_index("image_id")[["b0", "b1", "b2", "b3",
                                    "ctag", "phash64"]]
    sigs = {}
    for b in range(3):
        s = {tuple(key.loc[f"img{b}_{o}"]) for o in range(1, 9)}
        assert len(s) == 1, f"base {b} variants did not collapse: {s}"
        sigs[b] = next(iter(s))
    assert len(set(sigs.values())) == 3  # distinct bases stay distinct

    raw = image_phash(df).toPandas().set_index("image_id")
    raw_sigs = {tuple(raw.loc[f"img0_{o}"][["b0", "b1", "b2", "b3"]])
                for o in range(1, 9)}
    assert len(raw_sigs) > 1  # the gap upright= closes


def test_upright_pixels_no_exif_defaults_identity(spark):
    from vtzero_spark.engine.payload import encode_png, synth_pixels

    P = synth_pixels(77, 32, 16)
    np.testing.assert_array_equal(
        exif.upright_pixels(encode_png(P), "png"), P)


def test_exif_index_template_fast_path_matches_scalar(spark):
    """r6 columnar template parse: adversarial variable-field contents
    must produce EXACTLY what the scalar walk produces — fast-path
    rows (planted shape) and demoted rows (off-grid GPS, zero
    denominator, NUL-embedded datetime, odd ref bytes, non-template
    length) alike."""
    import pandas as pd
    from vtzero_spark.engine.payload import encode_payload

    carrier = encode_payload(7, 16, 16, "jpeg")
    W = synth.WORLD

    def mk(orient, dt, pw, ph, lat_ref, lat, lon_ref, lon, bo,
           pad=False):
        t = exif.build_exif_tiff(orient, dt, pw, ph,
                                 lat_ref, lat, lon_ref, lon, bo)
        if pad:
            t = t + b"\x00"  # non-template length -> scalar walk
        return exif.insert_exif(carrier, t, "jpeg")

    grid = SR.world_to_dms(12345, 54321, W)
    cases = [
        ("planted_ii", mk(3, "2024:01:05 09:00:00", 640, 480,
                          grid[0], grid[1], grid[2], grid[3], "II")),
        ("planted_mm", mk(6, "2024:02:06 10:00:00", 320, 240,
                          grid[0], grid[1], grid[2], grid[3], "MM")),
        ("nul_dt", mk(1, "2024:01:05\x0009:00:00", 1, 2,
                      grid[0], grid[1], grid[2], grid[3], "II")),
        ("odd_ref", mk(1, "2024:01:05 09:00:00", 1, 2,
                       "X", grid[1], "Y", grid[3], "II")),
        ("off_grid", mk(1, "2024:01:05 09:00:00", 1, 2,
                        "N", ((1, 3), (0, 1), (0, 1)),
                        "E", ((0, 1), (0, 1), (0, 1)), "II")),
        ("zero_den", mk(1, "2024:01:05 09:00:00", 1, 2,
                        "N", ((1, 1), (0, 1), (0, 0)),
                        "E", ((0, 1), (0, 1), (0, 1)), "II")),
        ("padded", mk(4, "2024:03:07 11:00:00", 9, 9,
                      grid[0], grid[1], grid[2], grid[3], "II",
                      pad=True)),
        ("no_exif", carrier),
    ]
    pdf = pd.DataFrame({"image_id": [c[0] for c in cases],
                        "bytes": [c[1] for c in cases]})
    df = spark.createDataFrame(pdf, "image_id string, bytes binary")
    got = {r["image_id"]: r.asDict()
           for r in exif.exif_index(df).collect()}

    for name, payload in cases:
        r = got[name]
        tiff = exif.find_exif(bytes(payload))
        if tiff is None:
            assert r["status"] == "no_exif", name
            continue
        try:
            meta = exif.parse_exif_tiff(tiff)
            want = {
                "orientation": meta.get("orientation"),
                "dt": meta.get("datetime_original"),
                "px_w": meta.get("pixel_w"),
                "px_h": meta.get("pixel_h"),
            }
            wx, wy = exif.gps_to_world(
                meta["lat_ref"], meta["lat_dms"],
                meta["lon_ref"], meta["lon_dms"], W)
            want.update(wx=wx, wy=wy, status="ok")
        except ValueError as exc:
            want = {"status": f"corrupt: {exc}"}
        for k, v in want.items():
            assert r[k] == v, (name, k, r[k], v)
