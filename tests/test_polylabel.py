"""Pole-of-inaccessibility label placement.

Kernel tests pin the refinement against closed-form shapes and a
dense brute-force grid (the guarantee under test: returned clearance
within ``precision`` of the true pole's). The Spark test drives the
mapInArrow operator end-to-end, checks it matches the scalar kernel
row-for-row, and that the plan is shuffle-free. The real-tile test
runs every polygon of the reference tile's 12 layers through the
operator and asserts the containment invariant (label strictly
inside, clearance positive) that renderers rely on.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import polylabel as P
from vtzero_spark.mvt import geometry as G
import scalar_reference as SR

RECT = [(0, 0), (100, 0), (100, 40), (0, 40), (0, 0)]
LSHAPE = [(0, 0), (100, 0), (100, 40), (40, 40), (40, 100),
          (0, 100), (0, 0)]
DONUT = [[(0, 0), (100, 0), (100, 100), (0, 100), (0, 0)],
         [(30, 30), (30, 70), (70, 70), (70, 30), (30, 30)]]


def _brute(rings, spacing=0.25):
    px = np.array([p[0] for r in rings for p in r], dtype=np.float64)
    py = np.array([p[1] for r in rings for p in r], dtype=np.float64)
    lens = np.array([len(r) for r in rings], dtype=np.int64)
    roff = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=roff[1:])
    ax, ay, bx, by = P._segments(px, py, roff)
    xs = np.arange(px.min() + spacing / 2, px.max(), spacing)
    ys = np.arange(py.min() + spacing / 2, py.max(), spacing)
    X, Y = np.meshgrid(xs, ys)
    d = P._signed_dist(X.ravel(), Y.ravel(), ax, ay, bx, by)
    i = int(np.argmax(d))
    return float(X.ravel()[i]), float(Y.ravel()[i]), float(d[i])


def test_rectangle_exact():
    x, y, d = SR.polylabel_rings([RECT], precision=0.1)
    assert (x, y) == (50.0, 20.0)
    assert d == 20.0


def test_diamond_center():
    r = 2000
    ring = [(0, -r), (r, 0), (0, r), (-r, 0), (0, -r)]
    x, y, d = SR.polylabel_rings([ring], precision=0.5)
    assert (x, y) == (0.0, 0.0)
    assert d == pytest.approx(r / np.sqrt(2), abs=1e-9)


@pytest.mark.parametrize("rings", [[LSHAPE], DONUT], ids=["L", "donut"])
def test_within_precision_of_brute_force(rings):
    prec = 0.1
    x, y, d = SR.polylabel_rings(rings, precision=prec)
    bx, by, bd = _brute(rings)
    # brute grid under-estimates by at most spacing*sqrt(2)/2
    assert d >= bd - prec - 0.25 * np.sqrt(2) / 2
    assert d <= bd + prec + 0.25 * np.sqrt(2) / 2
    # and the label is strictly inside
    px = np.array([p[0] for r in rings for p in r], dtype=np.float64)
    py = np.array([p[1] for r in rings for p in r], dtype=np.float64)
    lens = np.array([len(r) for r in rings], dtype=np.int64)
    roff = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=roff[1:])
    sd = P._signed_dist(np.array([x]), np.array([y]),
                        *P._segments(px, py, roff))
    assert sd[0] > 0


def test_multipolygon_picks_biggest_component():
    mp = [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
          [(100, 100), (150, 100), (150, 150), (100, 150), (100, 100)]]
    x, y, d = SR.polylabel_rings(mp, precision=0.1)
    assert abs(x - 125) < 0.2 and abs(y - 125) < 0.2
    assert d == pytest.approx(25.0, abs=0.1)


def test_degenerate_zero_area():
    x, y, d = SR.polylabel_rings([[(0, 0), (10, 0), (0, 0)]])
    assert d == 0.0 and y == 0.0 and x == 5.0


def test_random_polygons_guarantee():
    """Seeded random star polygons: polylabel clearance within
    precision of a dense brute-force grid, label always inside."""
    rng = np.random.default_rng(7)
    for _ in range(20):
        cx, cy = rng.uniform(100, 400, 2)
        npts = rng.integers(5, 12)
        ang = np.sort(rng.uniform(0, 2 * np.pi, npts))
        rad = rng.uniform(30, 150, npts)
        ring = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a)))
                for a, r in zip(ang, rad)]
        ring.append(ring[0])
        x, y, d = SR.polylabel_rings([ring], precision=0.25)
        bx, by, bd = _brute([ring], spacing=0.5)
        assert d >= bd - 0.25 - 0.5 * np.sqrt(2) / 2
        assert d > 0


def test_label_points_operator(spark):
    rows = [
        (4, 1, 1, 10, int(G.GEOM_POLYGON),
         [[{"x": 0, "y": 0}, {"x": 100, "y": 0}, {"x": 100, "y": 40},
           {"x": 0, "y": 40}, {"x": 0, "y": 0}]]),
        (4, 1, 1, 11, int(G.GEOM_POLYGON),
         [[{"x": int(a), "y": int(b)} for a, b in LSHAPE]]),
        (4, 1, 1, 12, int(G.GEOM_LINESTRING),
         [[{"x": 0, "y": 0}, {"x": 9, "y": 9}]]),
        (4, 2, 1, 13, int(G.GEOM_POLYGON),
         [[{"x": int(a), "y": int(b)} for a, b in r] for r in DONUT]),
    ]
    df = spark.createDataFrame(
        rows,
        "z int, x int, y int, feature_id long, geom_type int, "
        "parts array<array<struct<x: bigint, y: bigint>>>")
    got = {r["feature_id"]: r for r in
           P.label_points(df, precision=0.1).collect()}
    # linestring dropped
    assert set(got) == {10, 11, 13}
    # passthrough columns survive
    assert got[13]["x"] == 2 and got[13]["z"] == 4
    # row-for-row parity with the scalar kernel
    for fid, rings in ((10, [RECT]), (11, [LSHAPE]), (13, DONUT)):
        ex, ey, ed = SR.polylabel_rings(rings, precision=0.1)
        assert got[fid]["label_x"] == ex
        assert got[fid]["label_y"] == ey
        assert got[fid]["label_dist"] == ed
    # shuffle-free plan
    plan = P.label_points(df, precision=0.1) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_label_points_real_tile(spark):
    """Every polygon in the reference tile gets a label strictly
    inside its geometry with positive clearance (the renderer
    invariant; reference tile = vtzero's own 12-layer fixture)."""
    from vtzero_spark.engine import assemble, geojson

    data = open("/root/reference/test/data/"
                "mapbox-streets-v6-14-8714-8017.mvt", "rb").read()
    tiles = spark.createDataFrame(
        [(14, 8714, 8017, bytearray(data))],
        "z long, x long, y long, tile_bytes binary")
    dec = assemble.decode_tiles(tiles).where(
        F.col("decode_status") == "ok")
    feats = geojson.to_features(
        geojson.parse_geojson(geojson.export_geojson(dec))) \
        .where(F.col("geom_type") == G.GEOM_POLYGON) \
        .select("z", "x", "y", "layer_name", "feature_id", "geom_type",
                "parts")
    out = P.label_points(feats, precision=1.0).collect()
    assert len(out) > 100  # the tile carries many polygons
    assert all(r["label_dist"] > 0 for r in out)
    # spot-verify containment on the 25 largest-clearance labels
    counts: dict = {}
    parts_of: dict = {}
    for fr in feats.collect():
        k = (fr["layer_name"], fr["feature_id"])
        counts[k] = counts.get(k, 0) + 1
        parts_of[k] = fr["parts"]
    # ids repeat within a layer in the real tile; verify against the
    # 25 largest-clearance labels whose key is unambiguous
    top = [r for r in sorted(out, key=lambda r: -r["label_dist"])
           if counts[(r["layer_name"], r["feature_id"])] == 1][:25]
    assert len(top) == 25
    for r in top:
        rings = [[(p["x"], p["y"]) for p in ring]
                 for ring in parts_of[(r["layer_name"], r["feature_id"])]]
        px = np.array([p[0] for ring in rings for p in ring], float)
        py = np.array([p[1] for ring in rings for p in ring], float)
        lens = np.array([len(ring) for ring in rings], dtype=np.int64)
        roff = np.zeros(lens.size + 1, dtype=np.int64)
        np.cumsum(lens, out=roff[1:])
        sd = P._signed_dist(np.array([r["label_x"]]),
                            np.array([r["label_y"]]),
                            *P._segments(px, py, roff))
        assert sd[0] > 0
