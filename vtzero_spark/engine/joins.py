"""Cell-indexed spatial joins: point-in-polygon (broadcast + salted),
distance-within, nearest-fence and zonal statistics.

Scale design (north_rule):
- small polygon sets: the cell->polygon covering index is exploded and
  **broadcast** (vtzero's small-table linear-scan-vs-hash-index
  threshold philosophy, builder_impl.hpp:67-71, mapped to Spark's
  broadcast-vs-shuffle decision);
- hot cells / huge polygon sets: **salted repartition join** — probe
  side gets a deterministic salt, the covering index is replicated
  per salt value — plus AQE skew-join splitting (enabled in
  session.py) as the runtime backstop.

The exact refine step is pure column math: an integer cross-product
convex point-in-ring test (no UDF, stays inside whole-stage codegen).
Ring orientation follows vtzero's y-down shoelace convention
(geometry.hpp:120-123,161-169). General (non-convex) rings get a
vectorized ray-casting pandas UDF fallback.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from . import drivertier
from .synth import EXTENT

# hot-cell census bound: hot cells are few by definition, so a larger
# census means hot_threshold is mis-set for the grid — pip_join fails
# loudly instead of OOMing the driver with an unbounded collect
_HOT_CELL_CAP = 100_000


def polygon_cell_index(polys: DataFrame, cell: int = EXTENT) -> DataFrame:
    """Explode each polygon's bbox into covering cells.

    Uses (cx, cy, r) bbox columns (L-inf bound of the ring). Output:
    one row per (cell_x, cell_y, pid, ring) — the broadcastable
    covering index ("cells" side of FIXTURES.md F2).
    """
    return (
        polys.withColumn(
            "cell_x",
            F.explode(F.sequence(
                F.expr(f"(cx - r) div {cell}"), F.expr(f"(cx + r) div {cell}")
            )),
        )
        .withColumn(
            "cell_y",
            F.explode(F.sequence(
                F.expr(f"(cy - r) div {cell}"), F.expr(f"(cy + r) div {cell}")
            )),
        )
    )


def with_ring_edges(index: DataFrame, ring: str = "ring") -> DataFrame:
    """Precompute each ring's edge structs (ax, ay, dx, dy) ON THE
    INDEX SIDE (dimension-sized, computed once before the broadcast):
    the per-candidate refine then evaluates one cross product per
    edge over a ready array instead of materializing two slices and
    a zip_with per probe row (measured ~2x off the refine wall at
    sf0.1)."""
    return index.withColumn("_edges", F.expr(
        f"zip_with(slice({ring}, 1, size({ring}) - 1), slice({ring}, 2, size({ring}) - 1),"
        " (a, b) -> named_struct('ax', a.x, 'ay', a.y, 'dx', b.x - a.x, 'dy', b.y - a.y))"))


def pip_refine(joined: DataFrame, *keys: str) -> DataFrame:
    """The exact refine of a covering-cell join of points (wx, wy) to
    a with_ring_edges index (cx, cy, r, _edges); drops ``keys`` and the
    edges.

    A scalar L-inf bbox prefilter runs first: cells are coarse (one
    covering cell can dwarf the polygon), so it culls most candidates
    before the ring-array refine ever allocates — row-identical (bbox
    contains the ring), ~17% off the join wall at sf0.1. The refine is
    the integer cross-product convex point-in-ring test: on or inside
    when every edge's cross has one sign (zeros allowed)."""
    c = "((wy - e.ay) * e.dx - (wx - e.ax) * e.dy)"
    return (
        joined.where("abs(wx - cx) <= r AND abs(wy - cy) <= r")
        .where(f"forall(_edges, e -> {c} >= 0) OR forall(_edges, e -> {c} <= 0)")
        .drop(*keys, "_edges")
    )


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    cell: int = EXTENT,
    salt: int | None = None,
    point_id: str = "image_id",
    hot_threshold: int | None = None,
) -> DataFrame:
    """Point-in-polygon join: points (wx, wy) x polygons (pid, cx, cy,
    r, ring) -> one row per containment (boundary inclusive).

    salt=None: broadcast the covering index (small polygon sets).
    salt=N: salted repartition join for hot cells — the index is
    replicated N times, the probe side picks a deterministic salt from
    its point id, so result rows are identical to the unsalted join.
    hot_threshold=T (with salt=N): TWO-TIER salting, the 100 TB shape —
    a cheap per-cell probe count (map-side combine collapses it to one
    row per distinct cell) finds the cells holding more than T points;
    only THOSE cells' index rows are replicated N ways, while the cold
    cells take a plain shuffle join with zero replication. Cell sets
    are disjoint, so rows are identical to the always-salted form at a
    fraction of its index replication (always-on salting replicates
    the whole index N times no matter how few cells are hot).
    """
    if hot_threshold is not None and salt is None:
        raise ValueError(
            "hot_threshold requires salt=N (two-tier salting); with "
            "salt=None the broadcast join would silently ignore it")
    index = with_ring_edges(polygon_cell_index(polys, cell))
    pts = (
        points.withColumn("cell_x", F.expr(f"wx div {cell}"))
        .withColumn("cell_y", F.expr(f"wy div {cell}"))
    )
    if salt is None:
        joined = pts.join(F.broadcast(index), ["cell_x", "cell_y"])
    elif hot_threshold is None:
        index_salted = index.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        pts_salted = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(point_id)), F.lit(salt)).cast("int")
        )
        joined = pts_salted.join(index_salted, ["cell_x", "cell_y", "_salt"]).drop("_salt")
    else:
        # hot-cell census, COLLECTED once: the census subtree would
        # otherwise be re-planned into every tier branch (4-6 extra
        # full scans of the probe side, no exchange reuse across the
        # branches). Hot cells are few by definition, so the collect
        # is bounded and the joins consume a literal broadcast.
        hot_pd = drivertier.collect_within(
            pts.groupBy("cell_x", "cell_y")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > hot_threshold)
            .select("cell_x", "cell_y"), _HOT_CELL_CAP)
        if hot_pd is None:
            raise ValueError(
                f"hot-cell census exceeds {_HOT_CELL_CAP} cells — "
                f"hot_threshold={hot_threshold} is too low for this "
                "cell grid (raise it, or use always-on salting)")
        if not len(hot_pd):
            # no hot cells: a two-tier join degenerates to one plain
            # shuffle join with zero replication
            joined = pts.join(index, ["cell_x", "cell_y"])
        else:
            hot = F.broadcast(
                points.sparkSession.createDataFrame(
                    hot_pd, "cell_x long, cell_y long")
                .withColumn("_hot", F.lit(True)))
            # ONE join carries both tiers (was: cold join UNION hot
            # join — which scanned the probe source twice and planned
            # two join subtrees; a localCheckpoint of the flagged
            # probe side was tried against that shape and lost to the
            # materialization cost).  Hot-cell probe rows salt by id,
            # cold rows take salt 0; hot index rows explode salt
            # ways, cold rows stay single at salt 0.  Within a cell
            # both sides agree on hotness (same broadcast census), so
            # the matched pairs are EXACTLY the two-branch union's —
            # and the hot cells still spread across the salt space,
            # which is the entire point of the tier.
            pts_t = pts.join(hot, ["cell_x", "cell_y"], "left")
            idx_t = index.join(hot, ["cell_x", "cell_y"], "left")
            pts_j = pts_t.withColumn(
                "_salt",
                F.when(F.col("_hot").isNotNull(),
                       F.pmod(F.xxhash64(F.col(point_id)),
                              F.lit(salt)).cast("int"))
                .otherwise(F.lit(0))).drop("_hot")
            idx_j = idx_t.withColumn(
                "_salt",
                F.explode(F.when(
                    F.col("_hot").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salt - 1)))
                    .otherwise(F.array(F.lit(0))))).drop("_hot")
            joined = pts_j.join(
                idx_j, ["cell_x", "cell_y", "_salt"]).drop("_salt")
    return pip_refine(joined, "cell_x", "cell_y")


def pip_join_sql(points_cte: str, polys_cte: str = "polys") -> str:
    """DuckDB mirror: diamonds are L1 balls, so the exact predicate is
    |wx-cx| + |wy-cy| <= r (boundary inclusive) — equivalent to the
    engine's convex cross-product refine for these rings."""
    return f"""
  SELECT p.image_id, q.pid
  FROM {points_cte} p, {polys_cte} q
  WHERE abs(p.wx - q.cx) + abs(p.wy - q.cy) <= q.r"""


# ------------------------------------------------- general-ring refine

@F.pandas_udf(BooleanType())
def point_in_ring_udf(px: pd.Series, py: pd.Series, ring_x: pd.Series, ring_y: pd.Series) -> pd.Series:
    """Even-odd ray casting for arbitrary (non-convex) rings; boundary
    points count as inside. Fully batch-vectorized: the whole Arrow
    batch's edges are flattened into one edge array (offset-indexed),
    all cross/intersection math runs in single numpy passes, and
    per-row verdicts come from reduceat — no per-row Python loop (the
    Spark-facing fallback when rings aren't convex)."""
    import numpy as np

    n = len(px)
    rxs = [np.asarray(r, dtype=np.int64) for r in ring_x]
    rys = [np.asarray(r, dtype=np.int64) for r in ring_y]
    elens = np.fromiter((max(len(r) - 1, 0) for r in rxs), np.int64, n)
    if n == 0 or int(elens.sum()) == 0:
        return pd.Series(np.zeros(n, dtype=bool))
    ax = np.concatenate([r[:-1] for r in rxs if len(r) > 1])
    ay = np.concatenate([r[:-1] for r in rys if len(r) > 1])
    bx = np.concatenate([r[1:] for r in rxs if len(r) > 1])
    by = np.concatenate([r[1:] for r in rys if len(r) > 1])
    X = np.repeat(px.to_numpy(np.int64), elens)
    Y = np.repeat(py.to_numpy(np.int64), elens)

    cross = (bx - ax) * (Y - ay) - (X - ax) * (by - ay)
    on_seg = (cross == 0) \
        & (np.minimum(ax, bx) <= X) & (X <= np.maximum(ax, bx)) \
        & (np.minimum(ay, by) <= Y) & (Y <= np.maximum(ay, by))
    cond = (ay > Y) != (by > Y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = ax + (Y - ay) * (bx - ax) / np.where(by - ay == 0, 1, by - ay)
    hit = cond & (X < xint)

    # per-row reduction: sentinel element keeps reduceat legal for
    # zero-edge rows (masked to False below)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(elens[:-1], out=offs[1:])
    on_any = np.logical_or.reduceat(
        np.append(on_seg, False), offs) & (elens > 0)
    crossings = np.add.reduceat(np.append(hit, 0), offs)
    inside = on_any | (((crossings % 2) == 1) & (elens > 0))
    return pd.Series(inside)


# ------------------------------------------- distance-within join

def dwithin_join(
    points: DataFrame,
    queries: DataFrame,
    radius: int,
    point_id: str = "image_id",
    query_id: str = "qid",
) -> DataFrame:
    """Radius join (ST_DWithin analog): one row per (query, point)
    pair at Euclidean distance <= radius, boundary inclusive, with the
    exact squared distance as ``d2``.

    Scale shape: both sides bucket on a square grid whose cell size is
    the smallest power of two >= radius, so any point within `radius`
    of a query lies in one of the 3x3 cells around the query's cell.
    The QUERY side (the small one) explodes x9 and **broadcasts**; the
    point side — the 10^12-image side of the north rule — computes two
    div's and never shuffles or replicates. The refine is pure int64
    column math (squared distance, no sqrt, no UDF), inside
    whole-stage codegen. Same small-side covering-index philosophy as
    pip_join (vtzero's linear-scan-vs-index threshold,
    builder_impl.hpp:67-71, mapped to Spark's broadcast decision); for
    query sets too large to broadcast the same two-tier salting as
    pip_join applies on the shared cell key.
    """
    cell = 1
    while cell < radius:
        cell <<= 1
    neighbors = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    q = (
        queries
        .withColumn("_dx", F.explode(neighbors))
        .withColumn("_dy", F.explode(neighbors))
        .select(
            (F.expr(f"qx div {cell}") + F.col("_dx")).alias("cell_x"),
            (F.expr(f"qy div {cell}") + F.col("_dy")).alias("cell_y"),
            query_id, "qx", "qy",
        )
    )
    pts = points.withColumn("cell_x", F.expr(f"wx div {cell}")) \
                .withColumn("cell_y", F.expr(f"wy div {cell}"))
    dx = F.col("wx") - F.col("qx")
    dy = F.col("wy") - F.col("qy")
    return (
        pts.join(F.broadcast(q), ["cell_x", "cell_y"])
        .withColumn("d2", dx * dx + dy * dy)
        .where(F.col("d2") <= radius * radius)
        .drop("cell_x", "cell_y")
    )


def dwithin_sql(points_cte: str, queries_cte: str, radius: int) -> str:
    """DuckDB mirror: plain cross join + exact squared-distance filter
    (the cell bucketing is a pure candidate cull, row-identical)."""
    return f"""
  SELECT q.qid, p.image_id,
         (p.wx - q.qx) * (p.wx - q.qx) + (p.wy - q.qy) * (p.wy - q.qy) AS d2
  FROM {points_cte} p, {queries_cte} q
  WHERE (p.wx - q.qx) * (p.wx - q.qx) + (p.wy - q.qy) * (p.wy - q.qy)
        <= {radius * radius}"""


# ------------------------------------------------ zonal statistics

def zonal_stats(pixels: DataFrame, polys: DataFrame,
                cell: int = EXTENT) -> DataFrame:
    """Zonal statistics: aggregate a dense raster band under polygon
    zones with pixel-center sample semantics (a pixel belongs to a
    zone iff its CENTER is on-or-inside the ring — the GDAL default).

    Composition, not new machinery: pixel centers are points, so the
    candidate step IS pip_join (broadcast covering index; the raster
    side never shuffles before the partial aggregate), and the per-zone
    rollup is a map-side-combining groupBy. Output: one row per zone
    (pid, n_pix, sum_v, min_v, max_v) — all int64, oracle-exact.
    """
    j = pip_join(pixels, polys, cell=cell)
    return j.groupBy("pid").agg(
        F.count("*").alias("n_pix"),
        F.sum("value").alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


def zonal_stats_sql(pix_cte: str = "pix", polys_cte: str = "polys") -> str:
    """DuckDB mirror of zonal_stats over the diamond zones (L1-ball
    containment, boundary inclusive)."""
    return f"""
  SELECT q.pid, COUNT(*) AS n_pix,
         CAST(SUM(p.value) AS BIGINT) AS sum_v,
         MIN(p.value) AS min_v, MAX(p.value) AS max_v
  FROM {pix_cte} p, {polys_cte} q
  WHERE abs(p.wx - q.cx) + abs(p.wy - q.cy) <= q.r
  GROUP BY q.pid"""


# --------------------------------------------- nearest-fence join

def nearest_fence(points: DataFrame, polys: DataFrame) -> DataFrame:
    """Nearest-polygon join for DIAMOND fences: each point gets the
    closest fence (Euclidean distance to the fence SET, 0 inside) as
    (point columns..., pid, d2x2) where ``d2x2 = 2 * distance^2`` is
    an EXACT int64: under u = dx+dy, v = dx-dy the L1 ball is the
    square max(|u|,|v|) <= r, the rotation scales d^2 by exactly 2,
    and the square-clamp distance is
    ``d2x2 = max(|u|-r, 0)^2 + max(|v|-r, 0)^2``. Ties break to the
    smallest pid.

    Scale shape: the fence table is collected (bounded, same
    broadcast-dimension assumption as pip_join's broadcast tier) into
    ONE array-of-structs column literal; the argmin is `transform` +
    `array_min` over struct (d2x2, pid) — lexicographic struct
    comparison IS the tie rule — so the whole operator is a single
    zero-join, zero-shuffle projection inside whole-stage codegen. A
    fence set too large to inline would use knn.py's ring expansion
    over the cell index instead.
    """
    rows = polys.select("pid", "cx", "cy", "r").collect()
    if not rows:
        raise ValueError("nearest_fence needs at least one fence")
    if len(rows) > 10_000:
        raise ValueError("fence set too large to inline as a literal "
                         "array — use cell-ring expansion (knn.py)")
    fences = F.array(*[
        F.struct(
            F.lit(int(r["pid"])).cast("long").alias("pid"),
            F.lit(int(r["cx"])).cast("long").alias("cx"),
            F.lit(int(r["cy"])).cast("long").alias("cy"),
            F.lit(int(r["r"])).cast("long").alias("r"),
        ) for r in rows
    ])
    zero = F.lit(0).cast("long")

    def _d2x2(f):
        du = F.greatest(
            F.abs((F.col("wx") - f["cx"]) + (F.col("wy") - f["cy"])) - f["r"],
            zero)
        dv = F.greatest(
            F.abs((F.col("wx") - f["cx"]) - (F.col("wy") - f["cy"])) - f["r"],
            zero)
        return du * du + dv * dv  # pure int64, no float anywhere

    cand = F.transform(
        fences,
        lambda f: F.struct(_d2x2(f).alias("d2x2"), f["pid"].alias("pid")),
    )
    best = F.array_min(cand)
    return points.withColumn("_best", best) \
        .withColumn("pid", F.col("_best.pid")) \
        .withColumn("d2x2", F.col("_best.d2x2")) \
        .drop("_best")


def nearest_fence_sql(points_cte: str, polys_cte: str = "polys") -> str:
    """DuckDB mirror: cross join + QUALIFY argmin with the same
    integer rotated-clamp distance and (d2x2, pid) tie rule."""
    d2x2 = ("POWER(GREATEST(abs((p.wx - q.cx) + (p.wy - q.cy)) - q.r, 0), 2)"
            " + POWER(GREATEST(abs((p.wx - q.cx) - (p.wy - q.cy)) - q.r, 0), 2)")
    return f"""
  SELECT p.image_id, q.pid, CAST({d2x2} AS BIGINT) AS d2x2
  FROM {points_cte} p, {polys_cte} q
  QUALIFY row_number() OVER (
    PARTITION BY p.image_id ORDER BY {d2x2}, q.pid) = 1"""
