"""Supercluster — hierarchical greedy point clustering (the published
mapbox/supercluster sweep, lex-first-MIS closed form).

Laws pinned here:
- the distributed wavefront reproduces the SEQUENTIAL sweep exactly —
  every (seed, assign) label — on random inputs, on boundary-tie
  inputs (d2 == r^2 absorbs), on co-located points, and on the
  adversarial strictly-descending dependency chain (where the round
  count is provably the chain length and max_rounds fails loudly);
- the pyramid conserves total mass and BOTH exact first moments at
  every level, counts shrink monotonically up the ladder, and level
  z's cluster ids nest inside level z+1's;
- cluster tiles parse + lint clean, carry point_count per feature,
  and per-tile mass re-adds to the clusters assigned there;
- DuckDB oracle parity (the driver-gate replica) on the synth
  cluster-point table;
- token_stats left the 50-entry driver window for supercluster in
  round-5 session 19 (its whitespace-token expressions stay under the
  driver gate inside curation's quality CTE); its standalone
  DuckDB-parity pin lives HERE to keep the retired query gated.
"""

import duckdb
import pandas as pd
import pytest

from vtzero_spark.engine import drivertier
from vtzero_spark.engine import supercluster as sc
from vtzero_spark.engine.lint import lint_tile_bytes
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V


def serial_greedy(pts, radius):
    """The published sequential sweep: visit in id order, unabsorbed
    points seed and absorb every unabsorbed point within radius."""
    order = sorted(pts)
    taken = {}
    for pid, x, y in order:
        if pid in taken:
            continue
        taken[pid] = pid
        for qid, qx, qy in order:
            if qid in taken:
                continue
            if (x - qx) ** 2 + (y - qy) ** 2 <= radius * radius:
                taken[qid] = pid
    return taken


def _lab(df):
    return {r.pid: (r.seed, r.assign) for r in df.collect()}


def _lcg_pts(n, span=4000, seed=5):
    pts = []
    x, m = seed, (1 << 31) - 1
    for i in range(1, n + 1):
        x = (x * 48271) % m
        px = x % span
        x = (x * 48271) % m
        py = x % span
        pts.append((i, px, py))
    return pts


def test_greedy_matches_serial_reference(spark, monkeypatch):
    pts = _lcg_pts(400)
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    default = drivertier.SERIAL_ROWS
    for radius in (90, 300):
        ref = serial_greedy(pts, radius)
        # BOTH tiers: the pure distributed wavefront (SERIAL_ROWS = 0)
        # and the bounded-collect finish must equal the sweep exactly
        for cap in (0, default):
            monkeypatch.setattr(drivertier, "SERIAL_ROWS", cap)
            lab = _lab(sc.greedy_cluster(df, radius))
            assert len(lab) == len(pts)
            assert {p: a for p, (_, a) in lab.items()} == ref
            # seed flag is consistent with the assignment
            for p, (s, a) in lab.items():
                assert s == (a == p)


def test_boundary_tie_is_inclusive(spark):
    # d2 == r^2 exactly: (0,0) and (3,4) at radius 5 must merge
    df = spark.createDataFrame([(1, 0, 0), (2, 3, 4)],
                               "pid long, px long, py long")
    lab = _lab(sc.greedy_cluster(df, 5))
    assert lab == {1: (True, 1), 2: (False, 1)}
    lab4 = _lab(sc.greedy_cluster(df, 4))
    assert lab4 == {1: (True, 1), 2: (True, 2)}


def test_colocated_blob_single_cluster(spark, monkeypatch):
    # 64 points at ONE position: min id seeds, everyone else absorbs,
    # and the wavefront needs only two rounds (max_rounds=2 passes)
    df = spark.createDataFrame([(i, 7, 9) for i in range(1, 65)],
                               "pid long, px long, py long")
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", 0)
    lab = _lab(sc.greedy_cluster(df, 10, max_rounds=2))
    assert all(a == 1 for _, a in lab.values())
    assert sum(s for s, _ in lab.values()) == 1


def test_descending_chain_is_the_worst_case(spark, monkeypatch):
    # ids DESCEND along a spatial path with only-adjacent neighbors:
    # point k sits at x=(n-k)*60 with radius 60, so deciding pid k
    # requires pid k-1 first — rounds == n, the true dependency depth
    n = 16
    pts = [(k, (n - k) * 60, 0) for k in range(1, n + 1)]
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    ref = serial_greedy(pts, 60)
    with monkeypatch.context() as m:
        m.setattr(drivertier, "SERIAL_ROWS", 0)
        lab = _lab(sc.greedy_cluster(df, 60, max_rounds=n + 1))
        assert {p: a for p, (_, a) in lab.items()} == ref
        # alternating seeds up the chain: 1 seeds, absorbs 2; 3 seeds
        assert [a for _, (_, a) in sorted(lab.items())][:4] == [1, 1, 3, 3]
        with pytest.raises(RuntimeError, match="did not converge"):
            sc.greedy_cluster(df, 60, max_rounds=3)
    # the bounded-collect tier finishes the same chain in ONE pass
    assert _lab(sc.greedy_cluster(df, 60, max_rounds=1)) == lab


def test_pyramid_conservation_nesting_monotone(spark):
    pts = _lcg_pts(500, span=60000)
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    lv = sc.supercluster_levels(df, radius=256, min_zoom=0, max_zoom=4) \
        .toPandas()
    tx = sum(p[1] for p in pts)
    ty = sum(p[2] for p in pts)
    by_zoom = {}
    for z, g in lv.groupby("zoom"):
        assert g["n_points"].sum() == len(pts)
        assert g["sum_x"].sum() == tx and g["sum_y"].sum() == ty
        # quantized centroid law rides every row
        assert (g["cx"] == g["sum_x"] // g["n_points"]).all()
        assert (g["cy"] == g["sum_y"] // g["n_points"]).all()
        by_zoom[z] = set(g["cluster_id"])
    counts = [len(by_zoom[z]) for z in sorted(by_zoom)]
    assert counts == sorted(counts) and counts[0] < counts[-1]
    for z in range(0, 4):
        assert by_zoom[z] <= by_zoom[z + 1]  # seeds nest up the ladder
    assert by_zoom[4] == {p[0] for p in pts}


def test_pyramid_serial_tier_equals_distributed(spark, monkeypatch):
    """The r6 driver-serial PYRAMID tier (one collect, numpy rollups)
    must reproduce the distributed per-level loop exactly — every
    levels row and every edge row, including the div-quantized
    centroids and the sum_v accumulator."""
    pts = [(pid, px, py, (pid * 7) % 13) for pid, px, py
           in _lcg_pts(600, span=50000)]
    df = spark.createDataFrame(pts, "pid long, px long, py long, v long")

    def _norm(t):
        lv, ed = t
        return (sorted(map(tuple, lv.collect())),
                sorted(map(tuple, ed.collect())))

    fast = _norm(sc.supercluster_hierarchy(
        df, radius=512, min_zoom=0, max_zoom=4, value_col="v"))
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", 0)
    slow = _norm(sc.supercluster_hierarchy(
        df, radius=512, min_zoom=0, max_zoom=4, value_col="v"))
    assert fast == slow


def test_cluster_tiles_parse_lint_and_conserve_mass(spark):
    pts = _lcg_pts(400, span=65536)
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    lv = sc.supercluster_levels(df, radius=512, min_zoom=0, max_zoom=3)
    lvp = lv.toPandas()
    tiles = sc.cluster_tiles(lv).collect()
    assert tiles
    seen_mass = {}
    for r in tiles:
        buf = bytes(r["tile_bytes"])
        assert not lint_tile_bytes(buf), (r["z"], r["x"], r["y"])
        layers = T.parse_tile(buf)
        assert [l.name for l in layers] == ["clusters"]
        lyr = layers[0]
        for f in lyr.features:
            props = {k.decode(): V.decode_value(v)[1]
                     for k, v in lyr.properties(f)}
            seen_mass.setdefault(r["z"], {})[f.id] = props["point_count"]
    for z, g in lvp.groupby("zoom"):
        want = dict(zip(g["cluster_id"], g["n_points"]))
        assert seen_mass[int(z)] == want  # every cluster served, once
        assert sum(seen_mass[int(z)].values()) == 400


def test_duckdb_oracle_pin(spark, sf_dir):
    """The driver-gate replica: supercluster_sql (wavefront iterated
    inside one recursive CTE, state as LIST<STRUCT>) equals the Spark
    rollup on the synth cluster-point table — rows, schema, values."""
    import __spark_entry__ as em

    sdf = em.q_supercluster(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM "
                f"'{sf_dir}/customer.parquet'")
    odf = con.execute(em.oracle_sql()["supercluster"]).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True).astype("int64")
    b = odf[cols].sort_values(cols).reset_index(drop=True).astype("int64")
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b)


def test_token_stats_oracle_pin(spark, sf_dir):
    """token_stats left the 50-entry window in round-5 session 19 (its
    whitespace-token and length expressions stay under the driver gate
    inside curation's oracle); this pin keeps the standalone query
    DuckDB-parity-tested, mirroring the quality/lang_id/fingerprint
    sibling retirements."""
    import __spark_entry__ as em
    from vtzero_spark.engine import textops

    sdf = em.q_token_stats(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    odf = con.execute(textops.TOKEN_STATS_SQL).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_no_cartesian_and_cell_join_plan(spark):
    pts = _lcg_pts(200)
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    lab = sc.greedy_cluster(df, 100)
    plan = lab._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pyramid_value_reduce_conserves(spark):
    """The supercluster ``reduce`` accumulator (value_col): per-point
    integer weights sum EXACTLY through every pyramid level, and each
    cluster's sum_v equals the sum over its absorbed base points."""
    pts = [(i, x, y, 10 * i + 1) for i, x, y in _lcg_pts(300, span=50000)]
    df = spark.createDataFrame(pts, "pid long, px long, py long, v long")
    lv = sc.supercluster_levels(df, radius=512, min_zoom=1, max_zoom=4,
                                value_col="v").toPandas()
    total = sum(p[3] for p in pts)
    for _, g in lv.groupby("zoom"):
        assert g["sum_v"].sum() == total
    # spot-law at the coarsest level: rebuild memberships serially
    base = {p[0]: p for p in pts}
    assign = {p[0]: p[0] for p in pts}
    for z in (3, 2, 1):
        r_z = 512 << (3 - z)
        items = {}
        for _, row in lv[lv["zoom"] == z + 1].iterrows():
            items[row["cluster_id"]] = (row["cluster_id"],
                                        row["cx"], row["cy"])
        lab = serial_greedy(sorted(items.values()), r_z)
        assign = {p: lab[assign[p]] for p in assign}
        got = dict(zip(lv[lv["zoom"] == z]["cluster_id"],
                       lv[lv["zoom"] == z]["sum_v"]))
        want = {}
        for p, a in assign.items():
            want[a] = want.get(a, 0) + base[p][3]
        assert got == want


def test_hierarchy_leaves_and_expansion_zooms(spark):
    """The mapbox API surface over the edge ladder: cluster_leaves is
    the getLeaves table (ownership closure — per-(zoom, cluster) leaf
    counts equal n_points, and each level partitions the base set);
    expansion_zooms is getClusterExpansionZoom for every cluster (no
    split strictly before it, a real split at it, max_zoom+1 for
    clusters that never break — including seed children that KEEP a
    split cluster's id below the split)."""
    pts = _lcg_pts(300, span=50000)
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    lv, edges = sc.supercluster_hierarchy(df, radius=512,
                                          min_zoom=0, max_zoom=4)
    lvp = lv.toPandas()
    leaves = sc.cluster_leaves(df, edges, 0, 4).toPandas()
    cnt = leaves.groupby(["zoom", "cluster_id"]).size()
    for r in lvp.itertuples():
        assert cnt.get((r.zoom, r.cluster_id), 0) == r.n_points
    base = sorted(p[0] for p in pts)
    for _, g in leaves.groupby("zoom"):
        assert sorted(g["pid"]) == base  # a partition at every level
    ez = sc.expansion_zooms(lv, edges, 4).toPandas()
    assert len(ez) == len(lvp)  # exactly one row per cluster row
    nch = edges.toPandas().groupby(["zoom", "parent_id"]).size()
    split_seen = unsplit_seen = carried_id_seen = 0
    for r in ez.itertuples():
        z, c, e = r.zoom, r.cluster_id, r.expansion_zoom
        assert z < e <= 5
        for zz in range(z, min(e - 1, 4)):
            assert nch.get((zz, c), 1) == 1  # intact until expansion
        if e <= 4:
            assert nch.get((e - 1, c)) > 1
            split_seen += 1
        else:
            unsplit_seen += 1
        if nch.get((z - 1, c), 0) > 1:
            carried_id_seen += 1  # a seed child below its own split
    assert split_seen and unsplit_seen and carried_id_seen


def test_serial_radius_pairs_equal_cell_join_pairs(spark):
    """The driver-tier vectorized pair build must produce EXACTLY the
    pair set of the distributed cell join (ordered half-plane probe),
    across radii that exercise same-cell, cross-cell and boundary-
    inclusive pairs."""
    import numpy as np
    from vtzero_spark.engine.dbscan import neighbor_pairs

    pts = _lcg_pts(600)
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    pid = np.array([p[0] for p in pts], np.int64)
    px = np.array([p[1] for p in pts], np.int64)
    py = np.array([p[2] for p in pts], np.int64)
    for radius in (5, 90, 300, 1000):
        jvm = {(r["u"], r["v"]) for r in neighbor_pairs(
            df, radius, ordered=True).select("u", "v").collect()}
        p_arr, q_arr = sc._serial_radius_pairs(pid, px, py, radius)
        drv = set(zip(p_arr.tolist(), q_arr.tolist()))
        assert drv == jvm, f"radius {radius}: pair sets differ"


def test_dense_blob_falls_back_to_distributed(spark, monkeypatch):
    """A candidate volume past the driver cap must NOT collect: the
    serial tier bails and the distributed wavefront answers,
    label-identical."""
    monkeypatch.setattr(sc, "_SERIAL_CAND_CAP", 100)
    df = spark.createDataFrame([(i, 7, 9) for i in range(1, 65)],
                               "pid long, px long, py long")
    lab = _lab(sc.greedy_cluster(df, 10, n_points=64))
    assert all(a == 1 for _, a in lab.values())
    assert sum(s for s, _ in lab.values()) == 1
