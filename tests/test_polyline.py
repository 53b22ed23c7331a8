"""Encoded Polyline Algorithm Format (engine/polyline.py): the
published spec golden, the exact integer round-trip law, error
contracts, precision-6 variant, scalar==numpy mercator parity, and
the Spark track-export surface (zero shuffle, decode recovers every
vertex exactly at the E-precision grid).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import mercator as M
from vtzero_spark.engine import polyline as PL
import scalar_reference as SR


# ------------------------------------------------------------ scalar

def test_spec_golden():
    """The canonical example from the published algorithm doc."""
    pts = [(38.5, -120.2), (40.7, -120.95), (43.252, -126.453)]
    s = SR.encode_polyline(pts)
    assert s == "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    back = SR.decode_polyline(s)
    assert back == pts


def test_single_point_and_empty():
    assert PL.encode_e(np.zeros((0, 2), np.int64)) == ""
    assert SR.decode_e("").shape == (0, 2)
    one = np.array([[3850000, -12020000]], np.int64)
    assert SR.decode_e(PL.encode_e(one)).tolist() == one.tolist()


@pytest.mark.parametrize("seed", range(6))
def test_roundtrip_fuzz_exact(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 200))
    # E5 domain incl. the poles/date line, plus repeated points
    lat = rng.integers(-90 * 10**5, 90 * 10**5 + 1, n)
    lng = rng.integers(-180 * 10**5, 180 * 10**5 + 1, n)
    v = np.stack([lat, lng], axis=1)
    if n > 4:
        v[2] = v[1]  # zero delta
    s = PL.encode_e(v)
    assert SR.decode_e(s).tolist() == v.tolist()
    # output alphabet is the printable polyline band
    assert all(63 <= b <= 126 for b in s.encode())


def test_precision6_roundtrip():
    pts = [(38.500001, -120.200001), (38.500002, -120.200002)]
    s5 = SR.encode_polyline(pts, precision=5)
    s6 = SR.encode_polyline(pts, precision=6)
    assert SR.decode_polyline(s5, 5) == [(38.5, -120.2), (38.5, -120.2)]
    assert SR.decode_polyline(s6, 6) == pts
    assert s5 != s6


def test_decode_error_contracts():
    with pytest.raises(ValueError, match="truncated"):
        SR.decode_e("_p~iF~ps|U_")  # ends mid-chunk
    with pytest.raises(ValueError, match="out of range"):
        SR.decode_e("_p\x1f")
    with pytest.raises(ValueError, match="odd"):
        SR.decode_e("???")  # three zero values: odd count


def test_mercator_np_matches_scalar():
    rng = np.random.default_rng(3)
    wx = rng.integers(0, 65536, 200)
    wy = rng.integers(0, 65536, 200)
    lon, lat = M.world_to_lonlat_np(wx, wy)
    for i in range(200):
        lo, la = SR.world_to_lonlat_py(int(wx[i]), int(wy[i]))
        # numpy and libm trig may differ in the last ulp; far below
        # the E6 grid (1e-6 deg) that any consumer quantizes to
        assert abs(lon[i] - lo) < 1e-12 and abs(lat[i] - la) < 1e-12


# ---------------------------------------------------------- Spark op

def _events(spark, n_users=6, n_pts=40):
    rows = []
    rng = np.random.default_rng(9)
    for u in range(n_users):
        x, y = int(rng.integers(5000, 60000)), int(rng.integers(5000, 60000))
        for t in range(n_pts):
            x += int(rng.integers(-300, 301))
            y += int(rng.integers(-300, 301))
            rows.append((u, u * 1000 + t, t,
                         min(65535, max(0, x)), min(65535, max(0, y))))
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts long, wx long, wy long")


def test_encode_tracks_exact_and_shuffle_free(spark):
    import re

    from vtzero_spark.engine import trajectory as T

    ev = _events(spark)
    tr = T.tracks(ev)
    enc = PL.encode_tracks(tr, precision=5)
    # no NEW exchange beyond track assembly's own groupBy
    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
    assert len(re.findall(r"\(\d+\) Exchange", plan(enc))) == \
        len(re.findall(r"\(\d+\) Exchange", plan(tr)))

    got = {r.track_id: r for r in enc.collect()}
    want = {r.fid: r.parts[0] for r in tr.collect()}
    assert set(got) == set(want)
    for uid, verts in want.items():
        line = np.asarray([(p[0], p[1]) for p in verts], np.int64)
        lon, lat = M.world_to_lonlat_np(line[:, 0], line[:, 1])
        e = np.stack([np.rint(lat * 1e5), np.rint(lon * 1e5)],
                     axis=1).astype(np.int64)
        dec = SR.decode_e(got[uid].polyline)
        assert dec.tolist() == e.tolist()       # exact at the E5 grid
        assert got[uid].n_vertices == line.shape[0]
