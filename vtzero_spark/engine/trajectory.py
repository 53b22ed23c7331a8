"""Per-entity trajectory assembly and exact-integer track statistics.

The ST_MakeLine / MovingPandas surface of the engine: the events
table carries per-user timestamped observations; planting each event
at a deterministic integer position (a per-user anchor plus a bounded
per-event offset — a synthetic GPS track, derived by the same pure
LCG column math as synth.images so the DuckDB oracle reproduces it
bit-for-bit) turns it into a trajectory corpus, and ``track_stats``
reduces each user's time-ordered point sequence to exact-int64 track
metrics: leg-wise L1 path length, squared-leg sums, the longest leg,
the track bounding box, the first->last net displacement, and the
time span.

Scale shape: ONE shuffle. The analytic window partitions by
``user_id`` (lag + ordered first/last), and the following
groupBy(user_id) reuses the exchange — Catalyst sees the child
already hash-partitioned on the aggregation key, so no second
exchange is planned (asserted in tests/test_trajectory.py). Every
expression is a built-in JVM column op inside whole-stage codegen;
no Python anywhere.

Skew honesty at 100 TB: a window cannot be salted the way a join can
— one pathological user's track lands on one task. Every aggregate
here except the ordered lag is monoidal (sums, min/max, bbox), and
the lag itself only couples ADJACENT points, so the mitigation is
range-chunking a hot user's track by time and merging chunk results
(the chunk boundary contributes one stitching leg computed from the
per-chunk first/last points).

Reference analog: none in vtzero (batch tile codec only) — this is
north_star-side trajectory support over the same integer world model
(synth.py WORLD) the tiling operators serve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import synth

# bounded per-event wander box (world units); keeps legs local so the
# track is GPS-shaped rather than a world-size teleport scatter
WANDER = 2048

_AX, _BX = 48271, 11        # per-user anchor mixers (synth.py constants)
_AY, _BY = 69621, 23
_OX, _PX = 7919, 17         # per-event offset mixers
_OY, _PY = 6007, 5


def event_points(events: DataFrame) -> DataFrame:
    """Plant each event at a deterministic integer world position:
    per-user anchor (LCG of user_id, clamped so the wander box stays
    in-world) plus a bounded per-event offset (LCG of event_id).
    Pure int64 column math — the SQL twin below is the same text."""
    anchor_span = synth.WORLD - WANDER
    ax = (F.col("user_id") * _AX + _BX) % anchor_span
    ay = (F.col("user_id") * _AY + _BY) % anchor_span
    wx = ax + (F.col("event_id") * _OX + _PX) % WANDER
    wy = ay + (F.col("event_id") * _OY + _PY) % WANDER
    return events.select(
        "user_id", "event_id", "ts",
        wx.cast("long").alias("wx"),
        wy.cast("long").alias("wy"),
    )


def event_points_sql(events_cte: str = "events") -> str:
    span = synth.WORLD - WANDER
    return f"""
SELECT user_id, event_id, ts,
       CAST((user_id * {_AX} + {_BX}) % {span}
            + (event_id * {_OX} + {_PX}) % {WANDER} AS BIGINT) AS wx,
       CAST((user_id * {_AY} + {_BY}) % {span}
            + (event_id * {_OY} + {_PY}) % {WANDER} AS BIGINT) AS wy
FROM {events_cte}
"""


def track_stats(points: DataFrame) -> DataFrame:
    """points(user_id, event_id, ts, wx, wy) -> one exact-int64 track
    row per user. Leg i joins point i-1 to point i in (ts, event_id)
    order; all metrics are integers so the driver hash gate applies:

    - n_points, first_ts/last_ts (epoch seconds)
    - path_l1   = sum |dx|+|dy|   (exact Manhattan path length)
    - path_d2   = sum dx^2+dy^2   (squared-leg energy; the exact
      integer carrier for mean-squared-displacement style stats)
    - max_leg_d2                  (longest single leg, squared)
    - min_x/max_x/min_y/max_y     (track bbox)
    - net_d2    = squared first->last displacement
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dx = F.col("wx") - F.lag("wx").over(w)
    dy = F.col("wy") - F.lag("wy").over(w)
    legs = points.select(
        "user_id", "ts", "wx", "wy",
        dx.alias("dx"), dy.alias("dy"),
        F.first("wx").over(w).alias("first_wx"),
        F.first("wy").over(w).alias("first_wy"),
        F.last("wx").over(wall).alias("last_wx"),
        F.last("wy").over(wall).alias("last_wy"),
    )
    zero = F.lit(0).cast("long")
    d2 = F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
    ndx = F.min("last_wx") - F.min("first_wx")
    ndy = F.min("last_wy") - F.min("first_wy")
    return legs.groupBy("user_id").agg(
        F.count("*").alias("n_points"),
        F.coalesce(F.sum(F.abs("dx") + F.abs("dy")), zero).alias("path_l1"),
        F.coalesce(F.sum(d2), zero).alias("path_d2"),
        F.coalesce(F.max(d2), zero).alias("max_leg_d2"),
        F.min("wx").alias("min_x"), F.max("wx").alias("max_x"),
        F.min("wy").alias("min_y"), F.max("wy").alias("max_y"),
        F.min(F.unix_timestamp("ts")).alias("first_ts"),
        F.max(F.unix_timestamp("ts")).alias("last_ts"),
        (ndx * ndx + ndy * ndy).alias("net_d2"),
    )


def tracks(points: DataFrame) -> DataFrame:
    """points(user_id, event_id, ts, wx, wy) -> one LineString feature
    row per user in the native world-features layout (fid, gj_type,
    parts): the ST_MakeLine step. Vertices follow (ts, event_id)
    order via a sortable (seq, x, y) struct collected per user —
    collect_list order is NOT shuffle-stable, so the explicit
    array_sort on the leading seq is what makes re-runs reproduce
    identical tracks. Single-point users drop (a 1-vertex linestring
    is invalid; builder.hpp:850-852 would reject the segment)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = points.withColumn("_seq", F.row_number().over(w))
    t = ordered.groupBy("user_id").agg(
        F.array_sort(F.collect_list(
            F.struct("_seq", "wx", "wy"))).alias("_vs"))
    parts = F.array(F.transform(
        "_vs", lambda v: F.array(v["wx"], v["wy"])))
    return t.select(
        F.col("user_id").cast("long").alias("fid"),
        F.lit("LineString").alias("gj_type"),
        parts.alias("parts"),
    ).where(F.size(F.col("parts")[0]) >= 2)


def track_tiles(events: DataFrame, zoom: int | None = None,
                extent: int = 4096, buffer: int = 0,
                layer: str = "tracks") -> DataFrame:
    """The composed GPS-trace product: events -> planted positions ->
    per-user track assembly -> encoded MVT linestring tiles (the
    Strava-style trace layer), entirely through the shared
    world-features tail (bbox fan-out -> localize -> clip ->
    vectorized encode; geojson.world_features_to_tiles), so every
    stage is the SAME kernel the GeoJSON/tippecanoe front door runs.
    Tile-border cuts, consecutive-duplicate vertices and degenerate
    pieces are the clip kernels' contract. One wide track fans out to
    every tile its bbox touches — bounded by the WANDER box (<= 4
    tiles at the default grid), never a world-row explosion."""
    from . import geojson as _geojson

    if zoom is None:
        zoom = synth.ZOOM
    return _geojson.world_features_to_tiles(
        tracks(event_points(events)), zoom, extent,
        buffer=buffer, layer=layer)


def tile_flows(points: DataFrame, zoom: int | None = None) -> DataFrame:
    """Origin-destination flow matrix at tile granularity — the flow-map
    aggregation: every track leg that CROSSES a tile boundary counts as
    one (from_tile -> to_tile) movement. Pure JVM (div-by-tile-width +
    lag window + groupBy); the flow groupBy re-shuffles on the flow key
    after the user_id window, which is inherent (the output key is not
    the track key) and carries only boundary-crossing legs. n_users is
    an exact distinct count per flow cell pair."""
    if zoom is None:
        zoom = synth.ZOOM
    tw = synth.WORLD >> zoom
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = points.select(
        "user_id", "ts", "event_id",
        (F.col("wx") / tw).cast("long").alias("tx"),
        (F.col("wy") / tw).cast("long").alias("ty"),
    ).select(
        "user_id",
        F.lag("tx").over(w).alias("fx"),
        F.lag("ty").over(w).alias("fy"),
        F.col("tx"), F.col("ty"),
    ).where(F.col("fx").isNotNull()
            & ((F.col("fx") != F.col("tx")) | (F.col("fy") != F.col("ty"))))
    return t.groupBy("fx", "fy", "tx", "ty").agg(
        F.count("*").alias("n_legs"),
        F.countDistinct("user_id").alias("n_users"),
    ).select(F.lit(zoom).cast("long").alias("z"),
             "fx", "fy", "tx", "ty", "n_legs", "n_users")


def tile_flows_sql(points_cte: str = "pts", zoom: int = 4,
                   world: int = 65536) -> str:
    """DuckDB mirror of tile_flows."""
    tw = world >> zoom
    return f"""
SELECT CAST({zoom} AS BIGINT) AS z, fx, fy, tx, ty,
       count(*) AS n_legs,
       count(DISTINCT user_id) AS n_users
FROM (
  SELECT user_id,
         lag(wx // {tw}) OVER w AS fx,
         lag(wy // {tw}) OVER w AS fy,
         wx // {tw} AS tx, wy // {tw} AS ty
  FROM {points_cte}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE fx IS NOT NULL AND (fx != tx OR fy != ty)
GROUP BY fx, fy, tx, ty
"""


def track_stops(points: DataFrame, r2: int = 400,
                min_duration_s: int = 1800) -> DataFrame:
    """Stay-point (stop) detection — the trajectory-mining step that
    turns a GPS track into visits: maximal runs of consecutive SLOW
    legs (leg_d2 <= r2) lasting at least ``min_duration_s``. Exact
    integer semantics end to end (the run split is the sessionize
    gap-flag trick: run id = cumulative count of fast legs), so the
    DuckDB twin hash-matches. ONE shuffle: both analytic windows and
    the final groupBy share the user_id clustering.

    A stop row carries the run's point count (legs + 1), time span,
    and the exact coordinate sums of its points (the visit centroid's
    integer numerators; the leading point of the run is included)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dx = F.col("wx") - F.lag("wx").over(w)
    dy = F.col("wy") - F.lag("wy").over(w)
    legs = points.select(
        "user_id", "ts", "event_id", "wx", "wy",
        (dx * dx + dy * dy).alias("leg_d2"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    fast = F.when(
        F.col("leg_d2").isNull() | (F.col("leg_d2") > r2), 1).otherwise(0)
    runs = legs.withColumn("_fast", fast).withColumn(
        "run_id",
        F.sum("_fast").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    # a run groups its slow legs PLUS the leg that started it (the
    # anchor point rides in via the fast row that opened the run)
    stops = runs.groupBy("user_id", "run_id").agg(
        F.count("*").alias("n_points"),
        F.min(F.unix_timestamp("ts")).alias("first_ts"),
        F.max(F.unix_timestamp("ts")).alias("last_ts"),
        F.sum("wx").alias("sum_x"),
        F.sum("wy").alias("sum_y"),
    )
    return stops.where(
        (F.col("n_points") >= 2)
        & (F.col("last_ts") - F.col("first_ts") >= min_duration_s))


def track_stops_sql(points_cte: str = "pts", r2: int = 400,
                    min_duration_s: int = 1800) -> str:
    """DuckDB mirror of track_stops (identical run-split windows)."""
    return f"""
SELECT user_id, run_id, count(*) AS n_points,
       CAST(min(floor(epoch(ts))) AS BIGINT) AS first_ts,
       CAST(max(floor(epoch(ts))) AS BIGINT) AS last_ts,
       CAST(sum(wx) AS BIGINT) AS sum_x,
       CAST(sum(wy) AS BIGINT) AS sum_y
FROM (
  SELECT user_id, ts, event_id, wx, wy,
         SUM(CASE WHEN leg_d2 IS NULL OR leg_d2 > {r2} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS run_id
  FROM (
    SELECT user_id, ts, event_id, wx, wy,
           (wx - lag(wx) OVER w) * (wx - lag(wx) OVER w)
             + (wy - lag(wy) OVER w) * (wy - lag(wy) OVER w) AS leg_d2
    FROM {points_cte}
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )
)
GROUP BY user_id, run_id
HAVING count(*) >= 2
   AND max(floor(epoch(ts))) - min(floor(epoch(ts))) >= {min_duration_s}
"""


def track_stats_sql(points_cte: str = "pts") -> str:
    """DuckDB mirror: identical window + group formulation."""
    return f"""
SELECT user_id, count(*) AS n_points,
       CAST(coalesce(sum(abs(dx) + abs(dy)), 0) AS BIGINT) AS path_l1,
       CAST(coalesce(sum(dx * dx + dy * dy), 0) AS BIGINT) AS path_d2,
       CAST(coalesce(max(dx * dx + dy * dy), 0) AS BIGINT) AS max_leg_d2,
       min(wx) AS min_x, max(wx) AS max_x,
       min(wy) AS min_y, max(wy) AS max_y,
       CAST(min(floor(epoch(ts))) AS BIGINT) AS first_ts,
       CAST(max(floor(epoch(ts))) AS BIGINT) AS last_ts,
       CAST((min(last_wx) - min(first_wx)) * (min(last_wx) - min(first_wx))
            + (min(last_wy) - min(first_wy)) * (min(last_wy) - min(first_wy))
            AS BIGINT) AS net_d2
FROM (
  SELECT user_id, ts, wx, wy,
         wx - lag(wx) OVER w AS dx,
         wy - lag(wy) OVER w AS dy,
         first_value(wx) OVER w AS first_wx,
         first_value(wy) OVER w AS first_wy,
         last_value(wx) OVER wf AS last_wx,
         last_value(wy) OVER wf AS last_wy
  FROM {points_cte}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
) e
GROUP BY user_id
"""
