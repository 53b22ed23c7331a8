"""Distributed convex hull: DuckDB maximal-edge oracle parity, the
two-level monoid law, an independent O(n^3) brute-force pin, and the
degenerate-input contract."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vtzero_spark.engine import hull, synth, trajectory


def _duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    return con


def brute_hull_vertices(pts: np.ndarray) -> set:
    """Independent O(n^3) hull-vertex oracle: p is a STRICT hull
    vertex iff some direction separates it — equivalently, p is not a
    convex combination of the others. Implemented edge-wise: p is a
    hull vertex iff it starts a maximal CCW hull edge (every other
    point strictly left or collinear strictly between)."""
    pts = np.unique(pts.astype(np.int64), axis=0)
    n = len(pts)
    if n == 1:
        return {tuple(pts[0])}
    if n == 2:
        return {tuple(p) for p in pts}
    verts = set()
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            p, q = pts[i], pts[j]
            d = q - p
            ok = True
            for k in range(n):
                if k in (i, j):
                    continue
                r = pts[k]
                cr = d[0] * (r[1] - p[1]) - d[1] * (r[0] - p[0])
                if cr < 0:
                    ok = False
                    break
                if cr == 0:
                    dot = d[0] * (r[0] - p[0]) + d[1] * (r[1] - p[1])
                    if dot < 0 or dot > d[0] * d[0] + d[1] * d[1]:
                        ok = False
                        break
            if ok:
                verts.add(tuple(p))
                break
    return verts


def test_chain_hull_brute_force_pin():
    rng = np.random.RandomState(11)
    for trial in range(40):
        n = rng.randint(1, 40)
        # small coordinate range forces duplicates and collinear runs
        pts = rng.randint(0, 12, size=(n, 2)).astype(np.int64)
        ring = hull.chain_hull(pts)
        assert set(map(tuple, ring)) == brute_hull_vertices(pts), trial
        # CCW contract: nondegenerate rings have positive area
        if len(ring) >= 3:
            assert hull._ring_area2(ring) > 0


def test_chain_hull_degenerates():
    one = hull.chain_hull(np.array([[5, 7], [5, 7]]))
    assert one.tolist() == [[5, 7]]
    col = hull.chain_hull(np.array([[0, 0], [2, 2], [4, 4], [1, 1]]))
    assert sorted(col.tolist()) == [[0, 0], [4, 4]]
    sq = hull.chain_hull(np.array(
        [[0, 0], [4, 0], [4, 4], [0, 4], [2, 0], [2, 2]]))
    # mid-edge point (2,0) and interior (2,2) are never vertices
    assert sorted(sq.tolist()) == [[0, 0], [0, 4], [4, 0], [4, 4]]
    assert hull._ring_area2(sq) == 32


def test_hull_stats_matches_duckdb_oracle(spark, sf_dir):
    import __spark_entry__ as em

    sdf = em.queries()["hull"](spark, sf_dir).toPandas()
    odf = _duck(sf_dir).execute(em.oracle_sql()["hull"]).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_hull_partial_monoid_law(spark, sf_dir):
    """Partition-local partial hulls == the direct per-group hull of
    all the group's points, for any partitioning — the
    map-side-combine property that lets a hot group's points reduce
    in fragments at 10^12 scale."""
    pts = trajectory.event_points(synth.load(spark, sf_dir, "events"))
    pdf = pts.select("user_id", F.col("wx").cast("long"),
                     F.col("wy").cast("long")).distinct().toPandas()
    rows = []
    for g, sub in pdf.groupby("user_id", sort=True):
        ring = hull.chain_hull(sub[["wx", "wy"]].to_numpy(np.int64))
        rows.append({"user_id": g, "n_points": len(sub),
                     "n_hull": len(ring),
                     "sum_hx": int(ring[:, 0].sum()),
                     "sum_hy": int(ring[:, 1].sum()),
                     "area2": hull._ring_area2(ring)})
    base = pd.DataFrame(rows)
    for width in (3, 17):
        part = hull.hull_stats(pts.repartition(width)).toPandas() \
            .sort_values("user_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(base, part[list(base.columns)],
                                      check_dtype=False)


def test_hull_stats_plan_shape(spark, sf_dir):
    """Two shuffles (dedupe, final repartition(g)) and ZERO joins —
    the partial pass is a shuffle-free mapInPandas and n_points rides
    its rows instead of a second distinct + join branch."""
    import re

    import __spark_entry__ as em

    df = em.queries()["hull"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2
    assert "Join" not in p and "CartesianProduct" not in p


def test_hull_tiles_roundtrip(spark, sf_dir):
    """Hull polygons through the shared ingest tail: every tile
    decodes clean; for groups whose hull fits inside ONE tile the
    decoded ring reproduces the hull exactly (n_hull + re-emitted
    closing point, positive area equal to hull_stats area2)."""
    from vtzero_spark.engine import geomops

    pts = trajectory.event_points(synth.load(spark, sf_dir, "events"))
    tiles = hull.hull_tiles(pts, zoom=synth.ZOOM)
    stats = geomops.tile_geometry_stats(tiles).toPandas()
    assert (stats["decode_status"] == "ok").all()
    assert (stats["geom_type"] == 3).all()
    hs = hull.hull_stats(pts).toPandas().set_index("user_id")
    verts = hull.hull_vertices(pts).toPandas()
    ext = synth.EXTENT
    one_tile = {
        uid: grp for uid, grp in verts.groupby("user_id")
        if len(grp) >= 3
        and grp["hx"].min() // ext == grp["hx"].max() // ext
        and grp["hy"].min() // ext == grp["hy"].max() // ext
    }
    assert one_tile  # the wander box makes most hulls tile-local
    by_fid = stats.set_index("feature_id")
    for uid, grp in one_tile.items():
        r = by_fid.loc[uid]
        assert r["n_parts"] == 1
        assert r["n_points"] == hs.loc[uid, "n_hull"] + 1
        assert r["area2"] == hs.loc[uid, "area2"]


def test_hull_vertices_ring_is_ccw_and_closed_form(spark, sf_dir):
    """hull_vertices emits the ring in CCW order (positive shoelace)
    and hull_stats' area2 equals the shoelace of that ring."""
    pts = trajectory.event_points(synth.load(spark, sf_dir, "events"))
    verts = hull.hull_vertices(pts).toPandas()
    stats = hull.hull_stats(pts).toPandas().set_index("user_id")
    for uid, grp in verts.groupby("user_id"):
        ring = grp.sort_values("ord")[["hx", "hy"]].to_numpy(np.int64)
        a2 = hull._ring_area2(ring)
        assert a2 >= 0
        assert a2 == stats.loc[uid, "area2"]
        assert len(ring) == stats.loc[uid, "n_hull"]
