"""Polygon triangulation (engine/earcut.py).

The pinned guarantees, all EXACT int64 (no epsilons anywhere):

1. conservation — sum of signed triangle area2 == sum of signed ring
   area2 (outers positive, holes negative; bridge corridors are
   zero-width so holes subtract exactly);
2. orientation — every emitted triangle is positively oriented, and
   (with conservation) positive triangles summing to the polygon area
   whose centroids all lie inside the polygon cannot overlap;
3. count — a simple polygon with n (non-collinear) vertices and h
   holes yields n + 2h - 2 triangles (each bridge adds 2 vertices);
4. indices are valid references into the feature's flattened open-ring
   vertex buffer (mapbox/earcut's contract).

Fuzz inputs are radial polygons (vertices on strictly increasing-angle
rays covering the full circle: simple by construction) re-checked by
an exact segment-intersection simplicity test, because integer
truncation can in rare cases fold adjacent wedges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import earcut as E
import scalar_reference as SR


# ----------------------------------------------------------- helpers

def ring_area2(r) -> int:
    return sum(r[i][0] * r[(i + 1) % len(r)][1]
               - r[(i + 1) % len(r)][0] * r[i][1]
               for i in range(len(r)))


def tri_area2(tris, verts):
    out = []
    for i in range(0, len(tris), 3):
        a, b, c = verts[tris[i]], verts[tris[i + 1]], verts[tris[i + 2]]
        out.append((b[0] - a[0]) * (c[1] - a[1])
                   - (b[1] - a[1]) * (c[0] - a[0]))
    return out


def _orient(a, b, c) -> int:
    return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])


def _segs_intersect(p1, p2, p3, p4) -> bool:
    """Proper or improper intersection of CLOSED segments, exact,
    excluding shared endpoints."""
    if len({p1, p2} & {p3, p4}) > 0:
        return False
    d1 = _orient(p3, p4, p1)
    d2 = _orient(p3, p4, p2)
    d3 = _orient(p1, p2, p3)
    d4 = _orient(p1, p2, p4)
    if ((d1 > 0) != (d2 > 0) and d1 != 0 and d2 != 0 and
            (d3 > 0) != (d4 > 0) and d3 != 0 and d4 != 0):
        return True

    def on(a, b, c):
        return (_orient(a, b, c) == 0 and
                min(a[0], b[0]) <= c[0] <= max(a[0], b[0]) and
                min(a[1], b[1]) <= c[1] <= max(a[1], b[1]))
    return on(p3, p4, p1) or on(p3, p4, p2) or on(p1, p2, p3) \
        or on(p1, p2, p4)


def is_simple(ring) -> bool:
    n = len(ring)
    edges = [(ring[i], ring[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        for j in range(i + 1, n):
            if j == i + 1 or (i == 0 and j == n - 1):
                continue  # adjacent edges share an endpoint
            if _segs_intersect(*edges[i], *edges[j]):
                return False
    return True


def point_in_rings_evenodd(px3, py3, rings):
    """Even-odd containment of the point (px3/3, py3/3) given in
    THIRDS (so triangle centroids stay integer): rings scaled x3."""
    inside = False
    for r in rings:
        n = len(r)
        for i in range(n):
            x1, y1 = r[i][0] * 3, r[i][1] * 3
            x2, y2 = r[(i + 1) % n][0] * 3, r[(i + 1) % n][1] * 3
            if (y1 > py3) != (y2 > py3):
                # px3 < x1 + (py3-y1)(x2-x1)/(y2-y1), exact
                num = (py3 - y1) * (x2 - x1)
                den = y2 - y1
                lhs = (px3 - x1) * den
                if (lhs < num) if den > 0 else (lhs > num):
                    inside = not inside
    return inside


def radial_ring(rng, n, cx=2000, cy=2000, rmin=60, rmax=1200):
    """Simple-by-construction star polygon: vertices on strictly
    increasing-angle rays covering the full circle (then re-checked
    exactly, because integer truncation can fold a tight wedge)."""
    gaps = rng.uniform(0.08, 1.0, n)
    ang = np.cumsum(gaps) / gaps.sum() * 2 * np.pi
    rad = rng.integers(rmin, rmax, n)
    xs = (cx + rad * np.cos(ang)).astype(int)
    ys = (cy + rad * np.sin(ang)).astype(int)
    ring = list(dict.fromkeys(zip(xs.tolist(), ys.tolist())))
    if len(ring) < 3 or ring_area2(ring) == 0 or not is_simple(ring):
        return None
    if ring_area2(ring) < 0:
        ring = ring[::-1]
    return ring


def check_mesh(rings, tris, status="ok"):
    """Assert all four guarantees for one feature."""
    verts = [p for r in rings for p in
             (r[:-1] if len(r) > 1 and r[0] == r[-1] else r)]
    a2s = tri_area2(tris, verts)
    assert all(a > 0 for a in a2s), "non-positive triangle"
    expect = sum(ring_area2(r[:-1] if len(r) > 1 and r[0] == r[-1] else r)
                 for r in rings)
    assert sum(a2s) == expect, "area not conserved"
    assert all(0 <= i < len(verts) for i in tris)
    # centroid of every triangle inside the polygon (even-odd)
    for i in range(0, len(tris), 3):
        a, b, c = (verts[tris[i]], verts[tris[i + 1]], verts[tris[i + 2]])
        px3 = a[0] + b[0] + c[0]
        py3 = a[1] + b[1] + c[1]
        assert point_in_rings_evenodd(px3, py3, rings), \
            f"centroid outside: {(a, b, c)}"


# ------------------------------------------------------------- cases

def test_square_and_count():
    sq = [(0, 0), (100, 0), (100, 100), (0, 100)]
    tris, st = SR.earcut_rings([sq])
    assert st == "ok" and len(tris) == 6  # n - 2 = 2 triangles
    check_mesh([sq], tris)


def test_closed_ring_input_equivalent():
    sq = [(0, 0), (100, 0), (100, 100), (0, 100)]
    t1, _ = SR.earcut_rings([sq])
    t2, _ = SR.earcut_rings([sq + [sq[0]]])
    assert t1.tolist() == t2.tolist()


def test_donut_count_and_conservation():
    outer = [(0, 0), (100, 0), (100, 100), (0, 100)]
    hole = [(30, 30), (30, 70), (70, 70), (70, 30)]
    tris, st = SR.earcut_rings([outer, hole])
    assert st == "ok"
    assert len(tris) // 3 == 8 + 2 * 1 - 2  # n + 2h - 2
    check_mesh([outer, hole], tris)


def test_two_holes():
    outer = [(0, 0), (100, 0), (100, 100), (0, 100)]
    h1 = [(30, 30), (30, 70), (70, 70), (70, 30)]
    h2 = [(10, 10), (10, 20), (20, 20), (20, 10)]
    tris, st = SR.earcut_rings([outer, h1, h2])
    assert st == "ok"
    assert len(tris) // 3 == 12 + 2 * 2 - 2
    check_mesh([outer, h1, h2], tris)


def test_multipolygon_groups_holes_with_their_outer():
    a = [(0, 0), (100, 0), (100, 100), (0, 100)]
    ha = [(30, 30), (30, 70), (70, 70), (70, 30)]
    b = [(200, 0), (240, 0), (240, 40), (200, 40)]
    tris, st = SR.earcut_rings([a, ha, b])
    assert st == "ok"
    check_mesh([a, ha, b], tris)
    # indices of b's mesh reference b's vertex range only (a + ha = 8)
    hi = [i for i in tris if i >= 8]
    assert hi and all(8 <= i < 12 for i in hi)


def test_concave_L_shape():
    L = [(0, 0), (100, 0), (100, 40), (40, 40), (40, 100), (0, 100)]
    tris, st = SR.earcut_rings([L])
    assert st == "ok" and len(tris) // 3 == 4
    check_mesh([L], tris)


def test_collinear_vertices_filtered():
    # midpoints on every edge: filtered, triangulation still exact
    sq = [(0, 0), (50, 0), (100, 0), (100, 50), (100, 100),
          (50, 100), (0, 100), (0, 50)]
    tris, st = SR.earcut_rings([sq])
    assert st == "ok"
    verts = sq
    assert sum(tri_area2(tris, verts)) == ring_area2(sq)


def test_degenerate_rings_yield_nothing():
    assert SR.earcut_rings([[(0, 0), (10, 0)]])[0].size == 0
    assert SR.earcut_rings([[(0, 0), (10, 0), (20, 0)]])[0].size == 0
    assert SR.earcut_rings([])[0].size == 0


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_radial_polygons(seed):
    rng = np.random.default_rng(seed)
    done = 0
    while done < 25:
        ring = radial_ring(rng, int(rng.integers(4, 40)))
        if ring is None:
            continue
        tris, st = SR.earcut_rings([ring])
        assert st == "ok"
        check_mesh([ring], tris)
        done += 1


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_donuts(seed):
    rng = np.random.default_rng(100 + seed)
    done = 0
    while done < 10:
        outer = radial_ring(rng, int(rng.integers(6, 30)),
                            rmin=700, rmax=1400)
        hole = radial_ring(rng, int(rng.integers(4, 12)),
                           rmin=40, rmax=280)
        if outer is None or hole is None:
            continue
        hole = hole[::-1]  # holes wind opposite
        tris, st = SR.earcut_rings([outer, hole])
        assert st == "ok"
        check_mesh([outer, hole], tris)
        done += 1


# --------------------------------------------------------- Spark op

def _feature_df(spark, feats):
    rows = [(fid, 3, [[{"x": int(x), "y": int(y)} for (x, y) in r]
                      for r in rings])
            for fid, rings in feats]
    return spark.createDataFrame(
        rows, "feature_id long, geom_type int, "
              "parts array<array<struct<x:long,y:long>>>")


def test_spark_matches_scalar_and_rides_through(spark):
    rng = np.random.default_rng(5)
    feats = []
    fid = 0
    while len(feats) < 12:
        ring = radial_ring(rng, int(rng.integers(4, 25)))
        if ring is None:
            continue
        feats.append((fid, [ring]))
        fid += 1
    out = E.triangulate(_feature_df(spark, feats)).toPandas() \
        .sort_values("feature_id").reset_index(drop=True)
    assert list(out.columns) == ["feature_id", "geom_type",
                                 "tri_indices", "n_tris", "status"]
    for fid, rings in feats:
        row = out[out.feature_id == fid].iloc[0]
        want, st = SR.earcut_rings(rings)
        assert list(row.tri_indices) == want.tolist()
        assert row.n_tris == len(want) // 3
        assert row.status == st == "ok"


def test_spark_drops_non_polygons_and_is_shuffle_free(spark):
    import re

    df = _feature_df(spark, [(1, [[(0, 0), (10, 0), (10, 10), (0, 10)]])])
    mixed = df.unionByName(df.withColumn("geom_type", F.lit(2)))
    out = E.triangulate(mixed)
    assert out.count() == 1
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert not re.search(r"\(\d+\) Exchange", p)


def test_real_tile_polygons_triangulate(spark):
    """Every polygon feature of the real 12-layer reference tile:
    triangulate through the Spark operator and assert conservation +
    orientation per feature (the tile carries real-world multipolygons
    with holes)."""
    from vtzero_spark.mvt import geometry as G
    from vtzero_spark.mvt import tile as T

    buf = open("/root/reference/test/data/"
               "mapbox-streets-v6-14-8714-8017.mvt", "rb").read()
    feats = []
    fid = 0
    for layer in T.parse_tile(buf):
        for feat in layer.features:
            if feat.geom_type != G.GEOM_POLYGON:
                continue
            parts, _ = G.decode_geometry(
                feat.geom_type, np.asarray(feat.geometry, np.int64))
            rings = [[(int(x), int(y)) for x, y in part]
                     for part in parts]
            feats.append((fid, rings))
            fid += 1
    assert len(feats) > 50
    got = E.triangulate(_feature_df(spark, feats)).toPandas() \
        .sort_values("feature_id").reset_index(drop=True)
    assert len(got) == len(feats)
    assert (got.status == "ok").all()
    by_id = dict(feats)
    for row in got.itertuples():
        rings = by_id[row.feature_id]
        verts = [p for r in rings for p in
                 (r[:-1] if len(r) > 1 and r[0] == r[-1] else r)]
        a2s = tri_area2(list(row.tri_indices), verts)
        assert all(a > 0 for a in a2s)
        opened = [r[:-1] if len(r) > 1 and r[0] == r[-1] else r
                  for r in rings]
        # v1 tile: classifyRings normalizes to the FIRST ring's sign
        # (this fixture carries flipped-winding landuse/building
        # features), so conservation holds up to that sign
        areas = [ring_area2(r) for r in opened]
        first = next(a for a in areas if a != 0)
        sgn = 1 if first > 0 else -1
        assert sum(a2s) == sgn * sum(areas)


def test_pinch_polygon_splits_exactly():
    """Self-TOUCHING ring (a vertex visited twice — real v1 tiles
    carry these): split into boundary loops, conservation exact."""
    ring = [(503, 103), (517, 119), (509, 141), (478, 141), (485, 184),
            (496, 183), (498, 155), (498, 184), (511, 184), (518, 155),
            (498, 155), (510, 142), (529, 149), (538, 126)]
    a2 = ring_area2(ring)
    tris, st = SR.earcut_rings([ring[::-1] if a2 < 0 else ring])
    assert st == "ok"
    verts = ring[::-1] if a2 < 0 else ring
    a2s = tri_area2(tris.tolist(), verts)
    assert all(a > 0 for a in a2s)
    assert sum(a2s) == abs(a2)


def test_self_crossing_never_raises():
    """Garbage in, SOME mesh out (earcut's own contract for
    self-intersecting input — local ear tests cannot certify global
    simplicity; lint flags these upstream): no exception, well-formed
    index list, indices in range."""
    bowtie = [(0, 0), (10, 10), (10, 0), (0, 10)]
    tris, st = SR.earcut_rings([bowtie])
    assert st in ("ok", "forced")
    assert len(tris) % 3 == 0
    assert all(0 <= i < 4 for i in tris)
