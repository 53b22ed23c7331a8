"""Distributed DBSCAN (engine/dbscan.py) — brute-force parity of the
cell-bucketed neighbor cull, the deterministic label semantics (min
core id per component, min component per border point), translation
invariance, the DuckDB oracle twin, and the JVM-only pair-stage plan.

The driver's hash gate (q_dbscan at sf0.01) checks the full pipeline
against the recursive-CTE closure oracle; these tests pin the parts
the gate can't see — exact agreement with a from-first-principles
O(n^2) reference on adversarial fuzz (duplicates, boundary-exact
distances, cell-edge neighbors), and the plan shape.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import dbscan as D
from vtzero_spark.engine import drivertier
from vtzero_spark.engine import synth


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# ---------------------------------------------------------- reference

def dbscan_brute(ids, xs, ys, eps, min_pts):
    """O(n^2) DBSCAN from the definition: boundary-inclusive d2,
    min_pts includes self, components labeled by min core id, border
    joins min neighbor-core component, noise -1."""
    ids = np.asarray(ids, dtype=np.int64)
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    n = ids.size
    d2 = (xs[:, None] - xs) ** 2 + (ys[:, None] - ys) ** 2
    nbr = d2 <= eps * eps
    core = nbr.sum(axis=1) >= min_pts
    comp = np.full(n, -1, dtype=np.int64)
    seen = np.zeros(n, dtype=bool)
    for i in np.flatnonzero(core):
        if seen[i]:
            continue
        stack, members = [i], []
        seen[i] = True
        while stack:
            j = stack.pop()
            members.append(j)
            for k in np.flatnonzero(nbr[j] & core & ~seen):
                seen[k] = True
                stack.append(k)
        lbl = ids[members].min()
        comp[members] = lbl
    is_core = core.copy()
    for i in np.flatnonzero(~core):
        cn = nbr[i] & core
        if cn.any():
            comp[i] = comp[cn].min()
    return pd.DataFrame({"pid": ids, "component": comp,
                         "is_core": is_core}).sort_values(
        "pid").reset_index(drop=True)


def run_spark(spark, ids, xs, ys, eps, min_pts):
    pdf = pd.DataFrame({"pid": np.asarray(ids, np.int64),
                        "px": np.asarray(xs, np.int64),
                        "py": np.asarray(ys, np.int64)})
    df = spark.createDataFrame(pdf)
    return (D.dbscan(df, eps=eps, min_pts=min_pts)
            .toPandas().sort_values("pid").reset_index(drop=True))


# -------------------------------------------------------- fuzz parity

@pytest.mark.parametrize("seed,eps,min_pts", [
    (1, 50, 3), (2, 120, 5), (3, 7, 2), (4, 300, 4),
])
def test_fuzz_matches_brute_force(spark, seed, eps, min_pts):
    rng = np.random.default_rng(seed)
    n = 220
    # clumpy points plus exact duplicates plus isolated noise
    centers = rng.integers(500, 60000, (8, 2))
    which = rng.integers(0, 8, n)
    pts = centers[which] + rng.integers(-eps * 2, eps * 2 + 1, (n, 2))
    pts[-20:] = rng.integers(0, 65536, (20, 2))
    pts[10:15] = pts[5:10]  # duplicates
    ids = rng.permutation(n * 3)[:n]  # non-contiguous, shuffled ids
    got = run_spark(spark, ids, pts[:, 0], pts[:, 1], eps, min_pts)
    want = dbscan_brute(ids, pts[:, 0], pts[:, 1], eps, min_pts)
    pd.testing.assert_frame_equal(got, want)


def test_boundary_exact_distance_is_inside(spark):
    # two 3-chains joined by an edge of EXACTLY eps: one cluster
    eps = 100
    xs = [0, 60, 120, 220, 280, 340]   # gap 120->220 is exactly eps
    ys = [0] * 6
    ids = [10, 11, 12, 13, 14, 15]
    got = run_spark(spark, ids, xs, ys, eps, min_pts=2)
    assert (got.component == 10).all() and got.is_core.all()
    # one unit farther: two clusters
    xs2 = [0, 60, 120, 221, 281, 341]
    got2 = run_spark(spark, ids, xs2, ys, eps, min_pts=2)
    assert set(got2.component) == {10, 13}


def test_border_takes_min_component(spark):
    # two tight 4-point clusters, one non-core bridge that sees
    # exactly one endpoint of each (neighborhood {self, 15, 120} = 3
    # < min_pts=4), so it is BORDER between two distinct components
    eps, mp = 55, 4
    xs = [0, 5, 10, 15, 120, 125, 130, 135, 67]
    ys = [0] * 9
    ids = [7, 8, 9, 12, 3, 4, 5, 11, 6]
    got = run_spark(spark, ids, xs, ys, eps, mp)
    row = got[got.pid == 6].iloc[0]
    assert not row.is_core
    assert row.component == 3          # min of the two components {7, 3}
    assert set(got[got.is_core].component) == {3, 7}
    # and the brute-force reference agrees on the whole frame
    pd.testing.assert_frame_equal(got, dbscan_brute(ids, xs, ys, eps, mp))


def test_min_pts_one_every_point_core(spark):
    rng = np.random.default_rng(9)
    pts = rng.integers(0, 65536, (40, 2))
    got = run_spark(spark, np.arange(40), pts[:, 0], pts[:, 1], 64, 1)
    assert got.is_core.all()
    assert (got.component >= 0).all()


def test_translation_invariance(spark):
    rng = np.random.default_rng(11)
    pts = rng.integers(1000, 30000, (120, 2))
    ids = np.arange(120)
    a = run_spark(spark, ids, pts[:, 0], pts[:, 1], 200, 3)
    # shift by a non-multiple of the cell size: cell walls move, the
    # clustering must not
    b = run_spark(spark, ids, pts[:, 0] + 77, pts[:, 1] + 131, 200, 3)
    pd.testing.assert_frame_equal(a, b)


def test_param_validation(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": [1], "px": [0], "py": [0]}))
    with pytest.raises(ValueError, match="eps"):
        D.neighbor_pairs(df, 0)
    with pytest.raises(ValueError, match="min_pts"):
        D.dbscan(df, 10, 0)


# ----------------------------------------------------- oracle + plan

def test_duckdb_oracle_parity_dense_params(spark, sf_dir):
    """sf0.001 with a dense parameterization (clusters exist at 150
    points) — the same CTE text the driver runs at sf0.01."""
    duckdb = pytest.importorskip("duckdb")
    pts = synth.cluster_points(spark, sf_dir)
    got = (D.dbscan(pts, eps=400, min_pts=4)
           .toPandas().sort_values("pid").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{sf_dir}/customer.parquet')")
    sql = ("WITH RECURSIVE " + synth.cluster_points_sql("cpoints")
           + "," + D.dbscan_sql("cpoints", 400, 4))
    want = con.execute(sql).df().sort_values("pid").reset_index(drop=True)
    assert (got.component >= 0).any()          # non-vacuous: clusters
    assert not got.is_core.all()               # and noise/border exist
    pd.testing.assert_frame_equal(
        got, want.astype(got.dtypes.to_dict()))


def test_pair_stage_is_jvm_only_no_cartesian(spark, sf_dir):
    pts = synth.cluster_points(spark, sf_dir)
    pr = D.neighbor_pairs(pts, eps=120)
    p = plan(pr)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert not re.search(r"(ArrowEvalPython|BatchEvalPython|FlatMapsInPandas|MapInPandas)", p)
    # self-join is a hash EQUI-join on the cell key; at pytest scale
    # Catalyst may broadcast one side (fine — at 100 TB the stats flip
    # it to the shuffled form on the same key, both sides co-hashed)
    assert re.search(r"(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)", p)
    assert "cx" in p and "cy" in p


def test_merge_tiers_row_identical(spark, sf_dir, monkeypatch):
    """The bounded-collect driver union-find and the distributed
    pointer-jumping fallback label identically (SERIAL_ROWS = 0
    forces the fallback on the same input)."""
    pts = synth.cluster_points(spark, sf_dir)
    a = (D.dbscan(pts, eps=400, min_pts=4)
         .toPandas().sort_values("pid").reset_index(drop=True))
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", 0)
    b = (D.dbscan(pts, eps=400, min_pts=4)
         .toPandas().sort_values("pid").reset_index(drop=True))
    assert (a.component >= 0).any()
    pd.testing.assert_frame_equal(a, b)


def test_local_contraction_matches_flat_components(spark):
    """Cells deliberately SMALLER than the cluster span: one cluster's
    core graph crosses many cell groups, so the star-edge knit (not
    the in-cell union-find alone) is what connects it. eps=7 ->
    cell=8, chain spacing 6 crosses a wall every other point."""
    n = 40
    xs = np.arange(n, dtype=np.int64) * 6
    ys = np.zeros(n, dtype=np.int64)
    got = run_spark(spark, np.arange(n) + 100, xs, ys, 7, 2)
    assert (got.component == 100).all() and got.is_core.all()


def test_half_plane_ordered_pairs_match_symmetric(spark, sf_dir):
    """ordered=True (5-offset half-plane probe, each unordered pair
    once) yields EXACTLY the symmetric 3x3 pair set filtered to
    v < u — incl. same-cell, cross-cell, boundary-tie (d2 == eps^2),
    and co-located duplicate positions."""
    rng = [(i, (i * 1103515245 + 12345) % 3000,
            (i * 69069 + 1) % 3000) for i in range(1, 301)]
    rng += [(500, 70, 70), (501, 70, 70), (502, 70, 70)]  # co-located
    df = spark.createDataFrame(rng, "pid long, px long, py long")
    for eps in (60, 250):
        sym = (D.neighbor_pairs(df, eps)
               .where(F.col("v") < F.col("u"))
               .select("u", "v", "d2").toPandas())
        half = D.neighbor_pairs(df, eps, ordered=True).toPandas()
        a = set(map(tuple, sym.to_numpy().tolist()))
        b = set(map(tuple, half.to_numpy().tolist()))
        assert a == b and len(half) == len(b)  # no dup rows either
