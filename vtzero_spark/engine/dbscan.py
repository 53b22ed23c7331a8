"""Distributed DBSCAN — exact density clustering over integer points.

Semantics (the published DBSCAN definition, made deterministic):

- neighborhood: squared Euclidean distance ``d2 <= eps*eps`` (boundary
  inclusive, all int64 — no sqrt, no floats anywhere);
- a point is CORE when its eps-neighborhood holds at least ``min_pts``
  points INCLUDING itself (the scikit-learn ``min_samples``
  convention);
- clusters are the connected components of core points under
  eps-reachability, labeled by the MIN core id in the component;
- a BORDER point (non-core with at least one core neighbor) joins the
  MIN component among its core neighbors — the sequential algorithm
  assigns border points first-come-first-served, which is
  order-dependent; taking the min is the canonical deterministic
  refinement, and it is what the DuckDB oracle computes too;
- NOISE points carry ``component = -1``.

Scale shape (the 100 TB story):

1. Neighbor pairs are a cell-bucketed SELF-join: each point lands in
   one home cell of side ``2^shift >= eps`` and probes the 3x3 cells
   around it, so the join is a plain shuffle-hash join on the cell key
   — the probe side replicates x9, the home side not at all, and pair
   volume is bounded by true neighborhood density (the refine is pure
   int64 column math inside codegen). Same covering-grid discipline as
   ``joins.dwithin_join``; being a self-join there is no broadcastable
   small side, so both sides hash-partition on the SAME key (co-located
   by the exchange).  The pair set is localCheckpoint'ed once — three
   consumers (degree census, core graph, border assignment) read it
   without recomputing the join.
2. Core census is one map-side-combined groupBy count.
3. Cluster labels follow the published MR-DBSCAN / PDSDBSCAN merge
   discipline (local clustering + boundary merge): core-core edges are
   grouped by the home CELL of their target point and each group is
   union-found LOCALLY in one applyInPandas pass (per-task state: one
   cell's edge list), contracting every in-group component to its min
   core id. A point reached from several cells carries several local
   roots; star edges (min root, other root) per point knit them into a
   CONTRACTED graph that is smaller than the core graph by the average
   in-cell component size. The contracted merge then takes one of two
   tiers — the same bounded-collect discipline as ``joins.pip_join``'s
   hot-cell census: under ``drivertier.SERIAL_ROWS`` edges it is
   union-found on the driver (the contracted graph of a
   density-clustered corpus is
   cell-count-sized, not point-count-sized) and the root->component
   map rides back as a broadcast join; past the cap it falls back to
   ``textops.neardup_components`` — fully distributed min-label
   pointer jumping, O(log diameter) rounds. Either tier yields the
   identical min-core-id labeling.
4. Border assignment is one join + min-agg on the checkpointed pairs.

The only driver collect is the bounded merge tier, and no stage is
quadratic in anything but true neighbor density.  Reference analog: none — vtzero
is a tile codec (SURVEY §2 scope); this operator extends the engine's
spatial-join family (pip/knn/dwithin, BASELINE.json north rule) with
the clustering primitive a geo feature-store runs for POI
deduplication and region discovery.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from . import drivertier
from .textops import neardup_components


def _shift_for(eps: int) -> int:
    """Smallest s with 2^s >= eps: the home-cell side, so any point
    within eps lies in the 3x3 cells around the probe's own cell.
    shiftright is an ARITHMETIC shift — floor division even for
    negative coordinates."""
    s = 0
    while (1 << s) < eps:
        s += 1
    return s


def neighbor_pairs(points: DataFrame, eps: int,
                   point_id: str = "pid", x_col: str = "px",
                   y_col: str = "py",
                   join_hint: str | None = None,
                   ordered: bool = False) -> DataFrame:
    """All ordered pairs (u, v) with d2(u, v) <= eps^2 — INCLUDING the
    self pair (u, u, 0), so a groupBy-count on u is the DBSCAN
    neighborhood size with the min_pts-includes-self convention.
    Columns (u, v, d2, cx, cy) — (cx, cy) is v's HOME cell, the key
    the local-contraction stage groups on (every pair lands in exactly
    one group; the reverse pair lands in u's home cell).

    ``ordered=True`` is the HALF-PLANE variant for callers that want
    each unordered conflict once, as (u, v, d2) with v < u and no
    self pair: the probe explodes only the 5 half-plane offsets
    {(0,0),(1,0),(1,1),(0,1),(-1,1)} instead of all 9 — the other 4
    are these negated, so every adjacent distinct-cell pair matches
    in exactly one orientation, and same-cell pairs (offset (0,0),
    matched in both) keep the probe-id-larger one.  5/9 the join
    volume and none of the matched rows discarded, vs building the
    symmetric set and filtering v < u.

    ``join_hint`` pins the join strategy (e.g. "shuffle_hash") for
    callers whose inputs are stats-less checkpointed frames — left
    alone, Catalyst's size estimate can pick a BROADCAST of the
    exploded probe side (a driver-built multi-million-row hashed
    relation; measured 9 s at sf0.1 and an OOM at scale).  dbscan's
    own parquet-derived inputs estimate correctly, so the default
    stays None."""
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    s = _shift_for(eps)
    pts = points.select(
        F.col(point_id).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"))
    home = pts.select(
        F.col("pid").alias("v"), F.col("px").alias("vx"),
        F.col("py").alias("vy"),
        F.shiftright("px", s).alias("cx"),
        F.shiftright("py", s).alias("cy"))
    if ordered:
        offs = F.array(*[F.struct(F.lit(dx).alias("dx"),
                                  F.lit(dy).alias("dy"))
                         for dx, dy in ((0, 0), (1, 0), (1, 1),
                                        (0, 1), (-1, 1))])
        probe = (
            pts.withColumn("_o", F.explode(offs))
               .select(
                   (F.shiftright("px", s) + F.col("_o.dx")).alias("cx"),
                   (F.shiftright("py", s) + F.col("_o.dy")).alias("cy"),
                   F.col("pid").alias("u"), F.col("px").alias("ux"),
                   F.col("py").alias("uy"),
                   ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0))
                   .alias("_same")))
        dx = F.col("ux") - F.col("vx")
        dy = F.col("uy") - F.col("vy")
        if join_hint is not None:
            probe = probe.hint(join_hint)
        return (
            probe.join(home, ["cx", "cy"])
            .where(~F.col("_same") | (F.col("u") > F.col("v")))
            .withColumn("d2", dx * dx + dy * dy)
            .where(F.col("d2") <= eps * eps)
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"), "d2"))
    off = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    probe = (
        pts.withColumn("_dx", F.explode(off))
           .withColumn("_dy", F.explode(off))
           .select(
               (F.shiftright("px", s) + F.col("_dx")).alias("cx"),
               (F.shiftright("py", s) + F.col("_dy")).alias("cy"),
               F.col("pid").alias("u"), F.col("px").alias("ux"),
               F.col("py").alias("uy")))
    dx = F.col("ux") - F.col("vx")
    dy = F.col("uy") - F.col("vy")
    if join_hint is not None:
        probe = probe.hint(join_hint)
    return (
        probe.join(home, ["cx", "cy"])
        .withColumn("d2", dx * dx + dy * dy)
        .where(F.col("d2") <= eps * eps)
        .select("u", "v", "d2", "cx", "cy"))


def _contract_cell(pdf):
    """Union-find over ONE cell group's core-core edges: every point
    in the group is labeled with the MIN core id of its in-group
    component. Root-is-min invariant: unions always attach the larger
    root under the smaller, so find() returns the component min."""
    import pandas as pd

    us = pdf["u"].to_numpy()
    vs = pdf["v"].to_numpy()
    ids = np.unique(np.concatenate([us, vs]))
    pos = {int(i): k for k, i in enumerate(ids)}
    parent = np.arange(ids.size, dtype=np.int64)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in zip(us, vs):
        ra, rb = find(pos[int(a)]), find(pos[int(b)])
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    lroot = ids[np.fromiter((find(k) for k in range(ids.size)),
                            np.int64, ids.size)]
    return pd.DataFrame({"pid": ids, "lroot": lroot})


def dbscan(points: DataFrame, eps: int, min_pts: int,
           point_id: str = "pid", x_col: str = "px",
           y_col: str = "py", max_rounds: int = 20) -> DataFrame:
    """Exact DBSCAN labels: one row per input point with columns
    (pid, component, is_core); noise carries component = -1.  See the
    module docstring for semantics and the distributed shape."""
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    spark = points.sparkSession
    pts = points.select(F.col(point_id).cast("long").alias("pid"))
    pairs = neighbor_pairs(points, eps, point_id, x_col, y_col) \
        .localCheckpoint(eager=True)

    core = (pairs.groupBy("u").agg(F.count("*").alias("_n"))
            .where(F.col("_n") >= min_pts)
            .select(F.col("u").alias("pid")))

    edges = (pairs.where(F.col("u") != F.col("v"))
             .join(core.select(F.col("pid").alias("u")), "u")
             .join(core.select(F.col("pid").alias("v")), "v")
             .select("cx", "cy", "u", "v"))
    # MR-DBSCAN local stage: per-cell union-find contraction
    lr = edges.groupBy("cx", "cy") \
        .applyInPandas(_contract_cell, "pid long, lroot long") \
        .localCheckpoint(eager=True)
    # star edges knit the local roots a point received from different
    # cell groups; the contracted graph is cell-sized, not point-sized
    rmin = lr.groupBy("pid").agg(F.min("lroot").alias("rmin"))
    # LAZY checkpoint + ONE capped collect: it both decides the tier
    # and, in the common small tier, already holds the rows — the rare
    # distributed tier re-reads the checkpoint
    star = (lr.join(rmin, "pid")
            .where(F.col("lroot") != F.col("rmin"))
            .select("rmin", "lroot").distinct()
            .localCheckpoint(eager=False))
    sp = drivertier.collect_within(star, drivertier.SERIAL_ROWS)
    crt = rmin.select("pid", F.col("rmin").alias("lroot"))
    if sp is None:
        root_comp = neardup_components(
            star, a_col="rmin", b_col="lroot", max_rounds=max_rounds) \
            .select(F.col("doc_id").alias("lroot"), "component")
    else:
        # bounded-collect tier (the pip_join hot-census discipline):
        # driver union-find with the same root-is-min invariant
        parent: dict[int, int] = {}

        def dfind(a: int) -> int:
            while parent.setdefault(a, a) != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for ra_, rb_ in zip(sp["rmin"].to_numpy(),
                            sp["lroot"].to_numpy()):
            ra, rb = dfind(int(ra_)), dfind(int(rb_))
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        import pandas as pd

        keys = list(parent)
        root_comp = F.broadcast(spark.createDataFrame(
            pd.DataFrame({
                "lroot": pd.Series(keys, dtype="int64"),
                "component": pd.Series([dfind(k) for k in keys],
                                       dtype="int64")}),
            "lroot long, component long"))
    comp = crt.join(root_comp, "lroot", "left").select(
        "pid", F.coalesce("component", F.col("lroot")).alias("component"))
    # a core with min_pts satisfied purely by border neighbors has no
    # core-core edge: it is its own singleton cluster
    core_lbl = core.join(comp, "pid", "left").select(
        "pid", F.coalesce("component", F.col("pid")).alias("component"))

    border = (pairs.where(F.col("u") != F.col("v"))
              .join(core.select(F.col("pid").alias("u")), "u", "left_anti")
              .join(core_lbl.select(F.col("pid").alias("v"), "component"),
                    "v")
              .groupBy("u").agg(F.min("component").alias("component"))
              .select(F.col("u").alias("pid"), "component"))

    lab = core_lbl.select("pid", "component",
                          F.lit(True).alias("is_core")) \
        .unionByName(border.select("pid", "component",
                                   F.lit(False).alias("is_core")))
    return pts.join(lab, "pid", "left").select(
        "pid",
        F.coalesce("component", F.lit(-1).cast("long")).alias("component"),
        F.coalesce("is_core", F.lit(False)).alias("is_core"))


def dbscan_sql(points_cte: str, eps: int, min_pts: int) -> str:
    """DuckDB oracle: brute-force cross-join neighborhood (the cell
    bucketing is a pure candidate cull, row-identical), recursive-CTE
    transitive closure over the core graph labeled by MIN reachable
    core id, border = MIN component among core neighbors.  The caller
    prepends ``WITH RECURSIVE <points cte>,`` — ``points_cte`` is the
    cte NAME exposing (pid, px, py)."""
    p = points_cte
    return f"""
nbr AS (
  SELECT a.pid AS u, b.pid AS v
  FROM {p} a, {p} b
  WHERE (a.px - b.px) * (a.px - b.px)
      + (a.py - b.py) * (a.py - b.py) <= {eps * eps}
),
core AS (
  SELECT u AS pid FROM nbr GROUP BY u HAVING COUNT(*) >= {min_pts}
),
ce AS (
  SELECT n.u, n.v FROM nbr n
  JOIN core cu ON n.u = cu.pid
  JOIN core cv ON n.v = cv.pid
  WHERE n.u <> n.v
),
reach(pid, r) AS (
  SELECT pid, pid FROM core
  UNION
  SELECT ce.u, reach.r FROM ce JOIN reach ON ce.v = reach.pid
),
core_lbl AS (SELECT pid, MIN(r) AS component FROM reach GROUP BY pid),
border AS (
  SELECT n.u AS pid, MIN(l.component) AS component
  FROM nbr n
  JOIN core_lbl l ON n.v = l.pid
  WHERE n.u <> n.v AND n.u NOT IN (SELECT pid FROM core)
  GROUP BY n.u
)
SELECT p.pid,
       COALESCE(cl.component, b.component, -1) AS component,
       (cl.pid IS NOT NULL) AS is_core
FROM {p} p
LEFT JOIN core_lbl cl ON p.pid = cl.pid
LEFT JOIN border b ON p.pid = b.pid"""
