"""kNN lookup by iterative k-ring expansion with early termination.

Per BASELINE.json north_star: "kNN runs as iterative k-ring expansion
with early termination". Each round is one hash join between the
unfinished queries' ring-r cells and the cell-bucketed points. The
round ranks each query's carried top k together with the new band's
candidates and keeps the new top k; one count over that (lazily
checkpointed) top k both materializes it and counts the finished
queries, so a round is one Spark action. The unfinished set is an
anti-join of the queries against the finished ones, so no query id
ever reaches the driver or the plan as a literal — the loop stays
distributed at any query cardinality.

Correctness bound: after exploring all cells with Chebyshev cell
distance <= r, any unexplored point is at Euclidean distance
>= r*cell + 1, so a query is finished once it holds k candidates with
kth distance <= r*cell (integer-exact). Rounds explore disjoint
Chebyshev bands, so the top k of everything explored is the top k of
(previous top k ∪ this band). Ties are broken by point id, the same
total order the brute-force oracle uses, so the result rows match
exactly.

Distances use the engine's integer world coordinates, i.e. vtzero's
decoded int32 coordinate space (SURVEY §2.11).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .synth import EXTENT

# size-aware ring strategy (the joins.py broadcast-vs-shuffle
# discipline): a query set up to this size broadcasts its ring cells so
# the POINT side never shuffles or persists; a larger one
# co-partitions the points once and shuffles the rings to them (same
# cells explored, same rows)
BCAST_QUERIES = 100_000


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cell: int = EXTENT,
    world: int | None = None,
    point_id: str = "image_id",
    max_rounds: int = 64,
    start_radius: int | None = None,
) -> DataFrame:
    """Exact k nearest points for each query.

    points: (point_id, wx, wy); queries: (qid, qx, qy).
    Returns (qid, point_id, dist_sq, rank) with rank 1..k ordered by
    (dist_sq, point_id). The frame is the last round's checkpointed
    top k: reading it runs no further shuffle.

    The first round explores the whole Chebyshev DISK of
    ``start_radius`` cells rather than ring 0 alone: the certified
    bound at radius 0 is zero, so no query can terminate before ring 1
    has been explored. Every later round explores one ring and carries
    only each query's top k forward (row_number over the previous top
    k and the ring's candidates; Spark cuts each partition to its top
    k before the shuffle). A round is one Spark action: the count of
    queries whose kth distance is within the certified bound, which
    also materializes the round's top k.

    start_radius=None (default) derives the first disk from the
    measured point DENSITY: one map-side-combined aggregate over all
    points (row count + approx distinct cells, a 1-row result), run in
    the same action as the query count. The disk is sized so
    (2r+1)^2 cells are expected to hold ~2k candidates; for k much
    larger than points-per-cell the radius-1 disk is guaranteed
    insufficient, so this saves those rounds without touching
    exactness (any start disk is explored the same way). The number of
    expansion rounds actually run is exposed as
    ``knn_join.last_rounds`` for diagnostics.
    """
    pts = points.select(
        point_id,
        F.expr("CAST(wx AS BIGINT) AS wx"),
        F.expr("CAST(wy AS BIGINT) AS wy"),
        F.expr(f"CAST(wx AS BIGINT) div {cell} AS cell_x"),
        F.expr(f"CAST(wy AS BIGINT) div {cell} AS cell_y"),
    )
    q_all = queries.selectExpr(
        "qid", "CAST(qx AS BIGINT) AS qx", "CAST(qy AS BIGINT) AS qy",
        f"qx div {cell} AS qcx", f"qy div {cell} AS qcy",
    ).localCheckpoint(eager=False)  # the size aggregate below materializes it
    max_cells = None if world is None else world // cell
    sizes = q_all.agg(F.count("*"), F.lit(0), F.lit(0))
    if start_radius is None:
        # the density aggregate rides in the query count's action: one
        # more row, aggregated in parallel with it
        sizes = sizes.union(pts.agg(
            F.lit(0), F.count("*"),
            F.approx_count_distinct(F.struct("cell_x", "cell_y"))))
    n_queries, n, c = map(sum, zip(*sizes.collect()))
    if start_radius is None:
        density = n / max(c, 1) if n else 1.0
        start_radius = max(1, math.ceil(
            (math.sqrt(2.0 * k / max(density, 1e-9)) - 1.0) / 2.0))
        if max_cells is not None:
            # a disk covering the whole world is the upper bound
            start_radius = min(start_radius, max_cells)
    bcast_rings = n_queries <= BCAST_QUERIES
    if not bcast_rings:
        pts = pts.repartition("cell_x", "cell_y").persist()

    w = Window.partitionBy("qid").orderBy("dist_sq", point_id)
    dist_sq = F.expr("(wx - qx) * (wx - qx) + (wy - qy) * (wy - qy) AS dist_sq")
    top = None
    unfinished = q_all
    rounds = 0
    for i in range(max_rounds):
        rounds = i + 1
        # round 0: the full disk 0..start_radius; then ring r per round.
        # Offset j of the (2r+1)^2 square is (j div side - r, j % side - r).
        r = start_radius + i
        side = 2 * r + 1
        dx, dy = f"(j div {side} - {r})", f"(j % {side} - {r})"
        keep = f"greatest(abs({dx}), abs({dy})) >= {0 if i == 0 else r}"
        if max_cells is not None:
            keep += (f" AND qcx + {dx} BETWEEN 0 AND {max_cells - 1}"
                     f" AND qcy + {dy} BETWEEN 0 AND {max_cells - 1}")
        ring = unfinished.selectExpr(
            "qid", "qx", "qy",
            f"inline(transform(filter(sequence(0, {side * side - 1}), j -> {keep}),"
            f" j -> named_struct('cell_x', qcx + {dx}, 'cell_y', qcy + {dy})))")
        if bcast_rings:
            ring = F.broadcast(ring)
        cand = ring.join(pts, ["cell_x", "cell_y"]).select("qid", point_id, dist_sq)
        if top is not None:
            cand = top.drop("rank").unionByName(cand)
        top = (cand.withColumn("rank", F.row_number().over(w))
               .where(f"rank <= {k}").localCheckpoint(eager=False))
        bound = (r * cell) * (r * cell)
        finished = top.where(f"rank = {k} AND dist_sq <= {bound}").select("qid")
        if finished.count() >= n_queries:
            break
        if max_cells is not None and r >= 2 * max_cells:
            break
        unfinished = q_all.join(finished, "qid", "left_anti")

    knn_join.last_rounds = rounds
    knn_join.last_start_radius = start_radius
    if not bcast_rings:
        pts.unpersist()
    return top


def knn_sql(points_cte: str, queries_cte: str, k: int = 5,
            point_id: str = "image_id") -> str:
    """DuckDB brute-force oracle with the identical total order."""
    return f"""
  SELECT qid, {point_id},
         (p.wx - q.qx) * (p.wx - q.qx) + (p.wy - q.qy) * (p.wy - q.qy) AS dist_sq,
         CAST(row_number() OVER (
           PARTITION BY qid
           ORDER BY (p.wx - q.qx) * (p.wx - q.qx) + (p.wy - q.qy) * (p.wy - q.qy),
                    {point_id}
         ) AS INT) AS rank
  FROM {points_cte} p CROSS JOIN {queries_cte} q
  QUALIFY rank <= {k}"""
