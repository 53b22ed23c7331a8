"""Map matching: snap points to the nearest road SEGMENT.

The missing last piece of the trajectory surface (trajectory.py:
tracks -> stays -> OD flows): GPS positions are noisy, so every real
pipeline snaps them onto the road network before computing usage —
PostGIS ST_ClosestPoint / Sedona ST_Snap territory, re-expressed as a
Spark plan in which the 10^12-point side NEVER shuffles, replicates,
or fans out.

Exactness contract (the driver hash gate applies end to end): road
polylines are densified to UNIFORM squared segment length ``len2``
(the 8 Pythagorean norm-5 directions give len2 = 25 on the integer
grid), so for segment AB and point P with tn = clamp(AP.AB, 0, len2),

    d2xl = |AP|^2 * len2  -  2 * tn * (AP.AB)  +  tn^2
         = (distance to segment)^2 * len2      ... exact int64

is directly comparable ACROSS segments — no float anywhere, no
division. The snapped position rides along as exact numerators
(sxn, syn) over the constant denominator len2. Uniform densification
is standard practice (OSRM/Valhalla both resample edges); for ragged
segments the key would need a cross-multiplied rational compare that
overflows int64 at this coordinate range, so ragged input raises.

Candidate discipline (same covering-index philosophy as pip_join /
dwithin_join, vtzero's linear-scan-vs-index threshold
builder_impl.hpp:67-71): each segment's bbox is inflated by the snap
radius and exploded to the flat grid cells it overlaps — any point
within `radius` of the segment lies inside that inflated bbox, so a
point only ever probes its OWN cell (proof in snap_points). The
segment table ships to every worker as a numpy CSR index (cell ->
candidates sorted by (road_id, seg)), so the point side does two
integer divs per point and one vectorized argmin per Arrow batch —
zero joins, zero shuffles, zero fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import synth

# the 8 integer directions of norm exactly 5: uniform len2 = 25
DIRS = [(5, 0), (4, 3), (3, 4), (0, 5), (-3, 4), (-4, 3), (4, -3), (3, -4)]
LEN2 = 25
K_SEGS = 256          # segments per road
RADIUS = 160          # default snap radius (world units)
_RA, _RB = 40503, 2654435761 % (1 << 31)  # direction LCG multipliers


# ------------------------------------------------ road network synthesis

def roads(spark: SparkSession, sf_dir: str, k: int = K_SEGS) -> DataFrame:
    """Deterministic road network in SEGMENT form: one road per
    supplier, each a k-segment polyline of uniform-length-5 steps in
    LCG-chosen Pythagorean directions, start anchored so the whole
    walk stays in-world. Columns (road_id, seg, ax, ay, bx, by) —
    pure integer column math, so roads_sql() derives the identical
    table in DuckDB."""
    margin = 5 * k + 5
    span = synth.WORLD - 2 * margin
    sup = synth.load(spark, sf_dir, "supplier") \
        .select(F.col("s_suppkey").cast("long").alias("road_id"))
    segs = sup.select(
        "road_id",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.lit(k - 1).cast("long"))).alias("seg"))
    d = (F.col("road_id") * _RA + F.col("seg") * _RB) % 8
    dx = F.element_at(F.array(*[F.lit(x) for x, _ in DIRS]),
                      (d + 1).cast("int"))
    dy = F.element_at(F.array(*[F.lit(y) for _, y in DIRS]),
                      (d + 1).cast("int"))
    x0 = (F.col("road_id") * 48271 + 327) % span + margin
    y0 = (F.col("road_id") * 69621 + 129) % span + margin
    w = (Window.partitionBy("road_id").orderBy("seg")
         .rowsBetween(Window.unboundedPreceding, -1))
    ax = (x0 + F.coalesce(F.sum(dx).over(w), F.lit(0))).cast("long")
    ay = (y0 + F.coalesce(F.sum(dy).over(w), F.lit(0))).cast("long")
    return segs.select(
        "road_id", F.col("seg").cast("long").alias("seg"),
        ax.alias("ax"), ay.alias("ay"),
        (ax + dx).cast("long").alias("bx"), (ay + dy).cast("long").alias("by"))


def roads_sql(alias: str = "segs", k: int = K_SEGS) -> str:
    """DuckDB CTE reproducing roads() exactly."""
    margin = 5 * k + 5
    span = synth.WORLD - 2 * margin
    dxs = ",".join(str(x) for x, _ in DIRS)
    dys = ",".join(str(y) for _, y in DIRS)
    return f"""
seg_base AS (
  SELECT CAST(s_suppkey AS BIGINT) AS road_id, CAST(g.seg AS BIGINT) AS seg,
         ([{dxs}])[CAST((s_suppkey * {_RA} + g.seg * {_RB}) % 8 + 1 AS INT)] AS dx,
         ([{dys}])[CAST((s_suppkey * {_RA} + g.seg * {_RB}) % 8 + 1 AS INT)] AS dy,
         (s_suppkey * 48271 + 327) % {span} + {margin} AS x0,
         (s_suppkey * 69621 + 129) % {span} + {margin} AS y0
  FROM supplier, generate_series(0, {k - 1}) AS g(seg)
),
{alias} AS (
  SELECT road_id, seg,
         CAST(x0 + COALESCE(SUM(dx) OVER w, 0) AS BIGINT) AS ax,
         CAST(y0 + COALESCE(SUM(dy) OVER w, 0) AS BIGINT) AS ay,
         CAST(x0 + COALESCE(SUM(dx) OVER w, 0) + dx AS BIGINT) AS bx,
         CAST(y0 + COALESCE(SUM(dy) OVER w, 0) + dy AS BIGINT) AS by
  FROM seg_base
  WINDOW w AS (PARTITION BY road_id ORDER BY seg
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)"""


# ------------------------------------------------------- the snap join

def _nc(radius: int, cell: int) -> int:
    """Row stride of the flat (cx, cy) -> cx*nc + cy cell encoding:
    strictly greater than the largest covering index so distinct
    (cx, cy) never alias. (An alias would only ADD candidates — the
    exact refine culls them — but the encoding should be injective.)"""
    return (synth.WORLD + radius) // cell + 2


def _snap_pandas(points: DataFrame, segs: DataFrame,
                 radius: int, cell: int, len2: int) -> DataFrame:
    """The snap: the segment table (a bounded
    dimension, same contract as pip_join's broadcast tier) ships to
    every worker as plain numpy arrays; each Arrow batch of points is
    snapped by PER-CELL VECTORIZED argmin — the candidate scan that
    costs ~1 microsecond per element as an interpreted higher-order
    function (measured 7.5-36 s at sf0.1, BENCH.md session 13) runs
    as an (n_points x n_candidates) numpy matrix instead (0.9 s).
    Zero joins, zero shuffles, zero per-row Python: mapInPandas
    preserves the point partitioning, and the tie rule falls out of
    argmin-returns-first over candidates pre-sorted by (road_id, seg).
    """
    import numpy as np

    spark = points.sparkSession
    seg_pdf = segs.select("road_id", "seg", "ax", "ay", "bx", "by") \
        .toPandas()
    arrs = {c: seg_pdf[c].to_numpy(np.int64) for c in seg_pdf.columns}
    ab2 = ((arrs["bx"] - arrs["ax"]) ** 2
           + (arrs["by"] - arrs["ay"]) ** 2)
    if len(ab2) and not (ab2 == len2).all():
        k = int(np.flatnonzero(ab2 != len2)[0])
        raise ValueError(
            f"snap_points: segment (road {arrs['road_id'][k]}, seg "
            f"{arrs['seg'][k]}) has |AB|^2 != {len2}; densify the "
            "network to uniform length first")
    bc = spark.sparkContext.broadcast(arrs)
    nc = _nc(radius, cell)
    thresh = radius * radius * len2
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in points.schema.fields)
    schema = (f"{out_fields}, road_id long, seg long, d2xl long, "
              "sxn long, syn long")
    pt_cols = [f.name for f in points.schema.fields]

    def build_index(a):
        """CSR candidate index: (sorted unique cell ids, offsets,
        flat candidate-row array). Within a cell, candidates are
        sorted by (road_id, seg) so first-min IS the tie rule. Fully
        vectorized: one (dx, dy) offset pass per covering-span combo."""
        ax, ay, bx, by = a["ax"], a["ay"], a["bx"], a["by"]
        cx_lo = np.maximum(np.minimum(ax, bx) - radius, 0) // cell
        cx_hi = (np.maximum(ax, bx) + radius) // cell
        cy_lo = np.maximum(np.minimum(ay, by) - radius, 0) // cell
        cy_hi = (np.maximum(ay, by) + radius) // cell
        nx, ny = cx_hi - cx_lo, cy_hi - cy_lo
        cells_l, rows_l = [], []
        base = np.arange(len(ax), dtype=np.int64)
        for dx in range(int(nx.max()) + 1 if len(nx) else 0):
            for dy in range(int(ny.max()) + 1 if len(ny) else 0):
                m = (dx <= nx) & (dy <= ny)
                if not m.any():
                    continue
                cells_l.append((cx_lo[m] + dx) * nc + cy_lo[m] + dy)
                rows_l.append(base[m])
        if not cells_l:
            return (np.empty(0, np.int64), np.zeros(1, np.int64),
                    np.empty(0, np.int64))
        cells = np.concatenate(cells_l)
        rows = np.concatenate(rows_l)
        order = np.lexsort((a["seg"][rows], a["road_id"][rows], cells))
        cells, rows = cells[order], rows[order]
        uniq, starts = np.unique(cells, return_index=True)
        offsets = np.append(starts, len(rows)).astype(np.int64)
        return uniq, offsets, rows

    _memo: dict = {}

    def snap_batches(batches):
        import pandas as pd

        a = bc.value
        if "idx" not in _memo:
            _memo["idx"] = build_index(a)
        uniq, offsets, flat = _memo["idx"]
        ax, ay = a["ax"], a["ay"]
        abx, aby = a["bx"] - ax, a["by"] - ay
        for pdf in batches:
            if not len(pdf):
                continue
            wx = pdf["wx"].to_numpy(np.int64)
            wy = pdf["wy"].to_numpy(np.int64)
            pc = (wx // cell) * nc + wy // cell
            if not len(uniq):
                continue
            # points whose cell holds candidates (ragged CSR gather)
            pos = np.minimum(np.searchsorted(uniq, pc), len(uniq) - 1)
            live = np.flatnonzero(uniq[pos] == pc)
            if not len(live):
                continue
            p_pos = pos[live]
            cnt = offsets[p_pos + 1] - offsets[p_pos]
            total = int(cnt.sum())
            # flat (point, candidate) pairs without any python loop
            prep = np.repeat(np.arange(len(live)), cnt)
            cum0 = np.cumsum(cnt) - cnt
            g = flat[np.repeat(offsets[p_pos], cnt)
                     + np.arange(total) - np.repeat(cum0, cnt)]
            px = wx[live][prep] - ax[g]
            py = wy[live][prep] - ay[g]
            dot = px * abx[g] + py * aby[g]
            tn = np.clip(dot, 0, len2)
            d2 = (px * px + py * py) * len2 - 2 * tn * dot + tn * tn
            # per-point min value, then FIRST index achieving it
            # (candidates are (road_id, seg)-sorted -> the tie rule)
            starts_ = cum0
            dmin = np.minimum.reduceat(d2, starts_)
            eq = d2 == np.repeat(dmin, cnt)
            in_grp = np.arange(total) - np.repeat(cum0, cnt)
            first = np.minimum.reduceat(
                np.where(eq, in_grp, total), starts_)
            win = (cum0 + first).astype(np.int64)
            keep = dmin <= thresh
            if not keep.any():
                continue
            rows_b = live[keep]
            w = win[keep]
            gk, tk = g[w], tn[w]
            res = pdf.iloc[rows_b].reset_index(drop=True)
            res["road_id"] = a["road_id"][gk]
            res["seg"] = a["seg"][gk]
            res["d2xl"] = dmin[keep]
            res["sxn"] = ax[gk] * len2 + tk * abx[gk]
            res["syn"] = ay[gk] * len2 + tk * aby[gk]
            yield res[pt_cols + ["road_id", "seg", "d2xl", "sxn", "syn"]]

    return points.mapInPandas(snap_batches, schema=schema)


def snap_points(points: DataFrame, segs: DataFrame,
                radius: int = RADIUS, cell: int | None = None,
                len2: int = LEN2) -> DataFrame:
    """Snap each point to its nearest road segment within `radius`
    (Euclidean, boundary inclusive). Appends (road_id, seg, d2xl,
    sxn, syn) where d2xl = distance^2 * len2 and (sxn/len2, syn/len2)
    is the exact projected position; points farther than `radius`
    from every segment are dropped (inner semantics — the unmatched
    long tail is the caller's filter, not a null flood). Ties break
    to the smallest (d2xl, road_id, seg).

    Why a point only needs its OWN cell: d(P, AB) <= radius means P
    lies within radius of some point of AB, hence inside AB's bbox
    inflated by radius (L-inf >= L2), and the dimension side exploded
    that bbox to every cell it overlaps — including P's. Extra
    candidates are culled by the exact d2xl <= radius^2*len2 refine,
    so the result is row-identical to the brute-force cross join
    (pinned in tests/test_snap.py; DuckDB twin in snap_points_sql).

    Scale shape: the point side NEVER shuffles, replicates, or fans
    out. _snap_pandas ships the numpy candidate index once per
    worker and runs a per-cell vectorized argmin inside mapInPandas —
    zero joins, zero exchanges, an order of magnitude faster than an
    interpreted transform/array_min refine (A/B in BENCH.md session
    13).
    """
    cell = radius if cell is None else cell
    if cell < radius:
        raise ValueError("cell must be >= radius (own-cell covering proof)")
    return _snap_pandas(points, segs, radius, cell, len2)


def snap_points_sql(points_cte: str, segs_cte: str = "segs",
                    point_id: str = "image_id",
                    radius: int = RADIUS, len2: int = LEN2) -> str:
    """DuckDB mirror: brute-force cross join + the same exact integer
    key, QUALIFY argmin per point — the SPEC, deliberately free of
    the cell-covering machinery it verifies. The radius cut sits in
    WHERE (filter-then-argmin == argmin-then-filter for a min key,
    and it keeps the window input tiny instead of all N x M pairs)."""
    ap2 = "((p.wx - s.ax) * (p.wx - s.ax) + (p.wy - s.ay) * (p.wy - s.ay))"
    dot = "((p.wx - s.ax) * (s.bx - s.ax) + (p.wy - s.ay) * (s.by - s.ay))"
    tn = f"LEAST(GREATEST({dot}, 0), {len2})"
    d2xl = f"({ap2} * {len2} - 2 * {tn} * {dot} + {tn} * {tn})"
    return f"""
  SELECT p.{point_id}, s.road_id, s.seg, {d2xl} AS d2xl,
         s.ax * {len2} + {tn} * (s.bx - s.ax) AS sxn,
         s.ay * {len2} + {tn} * (s.by - s.ay) AS syn
  FROM {points_cte} p, {segs_cte} s
  WHERE p.wx BETWEEN LEAST(s.ax, s.bx) - {radius}
                 AND GREATEST(s.ax, s.bx) + {radius}
    AND p.wy BETWEEN LEAST(s.ay, s.by) - {radius}
                 AND GREATEST(s.ay, s.by) + {radius}
    AND {d2xl} <= {radius * radius * len2}
  QUALIFY row_number() OVER (PARTITION BY p.{point_id}
                             ORDER BY {d2xl}, s.road_id, s.seg) = 1"""


# ------------------------------------------------- composed road usage

def road_usage(points: DataFrame, segs: DataFrame,
               radius: int = RADIUS, user_col: str = "user_id"
               ) -> DataFrame:
    """Road usage rollup: snap every GPS event, then aggregate hits
    and distinct users per road — the map-matched completion of the
    OD flow matrix (trajectory.tile_flows). One map-side-combined
    groupBy on top of the shuffle-free snap; exact-count distinct
    (the hash gate needs exactness; swap approx_count_distinct at
    100 TB the same way tileset_stats' exact=False tier does)."""
    snapped = snap_points(points, segs, radius=radius)
    return snapped.groupBy("road_id").agg(
        F.count("*").alias("n_hits"),
        F.countDistinct(user_col).alias("n_users"),
        F.min("d2xl").alias("best_d2xl"))


def road_usage_sql(points_cte: str, segs_cte: str = "segs",
                   point_id: str = "event_id", user_col: str = "user_id",
                   radius: int = RADIUS, len2: int = LEN2) -> str:
    """DuckDB mirror of road_usage over snap_points_sql."""
    inner = snap_points_sql(points_cte, segs_cte, point_id=point_id,
                            radius=radius, len2=len2)
    # ride the user column through the argmin subquery
    inner = inner.replace(f"SELECT p.{point_id},",
                          f"SELECT p.{point_id}, p.{user_col},")
    return f"""
  SELECT road_id, COUNT(*) AS n_hits,
         COUNT(DISTINCT {user_col}) AS n_users,
         MIN(d2xl) AS best_d2xl
  FROM ({inner})
  GROUP BY road_id"""
