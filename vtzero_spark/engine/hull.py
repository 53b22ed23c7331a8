"""Distributed per-group convex hull (ST_ConvexHull aggregate).

The region a user's GPS track covers: for each group, the convex hull
of its planted integer points, reduced MAP-SIDE-FIRST — hull is a
monoid (hull(A ∪ B) = hull(hull(A) ∪ hull(B))), so a partition-local
partial pass (one pandas groupby per Arrow batch inside mapInPandas —
no shuffle, no per-group UDF invocation overhead) collapses every
partition's points to fragment hulls before anything moves:

    dedupe (group, x, y)                   ->  shuffle 1 (exact)
    mapInPandas partial hulls per batch    ->  NO shuffle (map-side
                                               combine for geometry)
    repartition(group) + final chain hull  ->  shuffle 2, carrying
                                               only fragment hull
                                               vertices (tiny)

At 10^12 points a hot group's raw points never congregate: each
partition forwards at most its fragment's hull (O(N^(1/3)) expected
vertices for integer point clouds), and the final task sees
(#partitions x hull size) rows per group, not the corpus. The monoid
law (one fragment per group == many fragments) is pinned in
tests/test_hull.py across partitionings. n_points rides the partial
rows (the fragment's point count on its first vertex row, 0 elsewhere
— partitions are disjoint after the dedupe, so a plain sum is exact).

An earlier form grouped (g, salt-of-point) with applyInPandas; at
sf0.1 that meant ~24k per-group UDF invocations and a 37 s wall —
the per-batch groupby form is the same algebra without the
invocation overhead (BENCH.md session 12).

Hull discipline: Andrew's monotone chain with STRICT turns — collinear
boundary points are never vertices, a fully-collinear group reduces to
its two endpoints, a single distinct point to itself. All coordinates
stay int64; the cross products are exact (domain-guarded to 2^30).

Oracle (hull_stats_sql): the maximal-edge characterization. Over the
group's DISTINCT points, a directed edge (p, q) is a CCW hull edge iff
every other point r is strictly left (cross(q-p, r-p) > 0) or collinear
and strictly BETWEEN p and q — a collinear r beyond either endpoint
disqualifies, so collinear chains collapse to their maximal edge,
exactly matching the strict chain hull. Hull vertices are the distinct
edge starts; area2 is the signed shoelace sum of cross(p, q) over the
directed hull edges (each vertex starts exactly one CCW edge). O(n^2)
candidate edges x O(n) refutation per group — pure SQL, exact, feasible
because per-group n is bounded (~67 points at every sf).

Reference analog: none in vtzero (SURVEY §2 is codec-side); this is
north_star spatial-aggregate surface over the same world model.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["chain_hull", "hull_vertices", "hull_stats", "hull_stats_sql"]


def chain_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain over int64 points -> CCW hull ring (no
    repeated closing point), strict turns only. Degenerate inputs:
    one distinct point -> itself; collinear set -> its two endpoints.
    Input need not be deduplicated (np.unique handles it).

    Domain guard: coordinates must fit 30 bits so every cross product
    AND the ring's area sum stay exact int64 (|area2| <= 2^62 for a
    2^30-bounded bbox). The engine's world grid is 2^16, far inside;
    an import of raw planet-scale int64s fails loudly instead of
    silently wrapping."""
    pts = np.asarray(pts, dtype=np.int64)
    if pts.size and int(np.abs(pts).max()) >= (1 << 30):
        raise ValueError("chain_hull requires |coordinates| < 2^30 "
                         "for exact int64 shoelace arithmetic")
    pts = np.unique(pts, axis=0)  # sorts lexicographically
    n = len(pts)
    if n <= 2:
        return pts

    # the chain walk runs on PYTHON ints (tolist once): per-element
    # numpy scalar arithmetic measured ~10x slower for the typical
    # hull-sized inputs this sees thousands of times per task
    plist = pts.tolist()

    def half(points):
        out: list[list[int]] = []
        for p in points:
            px_, py_ = p
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (py_ - o[1]) \
                        - (a[1] - o[1]) * (px_ - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(plist)
    upper = half(plist[::-1])
    ring = lower[:-1] + upper[:-1]
    if len(ring) < 2:        # fully collinear: endpoints only
        return np.array([pts[0], pts[-1]], dtype=np.int64)
    arr = np.array(ring, dtype=np.int64)
    # the cross test above builds a counter-clockwise walk in standard
    # math orientation; assert-normalize to positive shoelace so the
    # emitted ring order is a contract, not a convention
    return arr if _ring_area2(arr) >= 0 else arr[::-1]


def _ring_area2(ring: np.ndarray) -> int:
    if len(ring) < 3:
        return 0
    xs, ys = ring[:, 0].astype(np.int64), ring[:, 1].astype(np.int64)
    return int(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))


def _dedup(points: DataFrame, group_col: str, x_col: str,
           y_col: str) -> DataFrame:
    return points.select(
        F.col(group_col).cast("long").alias("g"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"),
    ).distinct()


def _partial_hulls(pts: DataFrame) -> DataFrame:
    """Map-side combine for geometry: one pandas groupby per Arrow
    batch inside mapInPandas — NO shuffle, no per-group UDF invocation
    overhead. Emits each fragment's hull vertices; the fragment's
    point count rides the FIRST vertex row (_fn, 0 elsewhere), and
    since partitions are disjoint after the upstream dedupe a plain
    downstream sum of _fn is the group's exact n_points."""

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            gs, xs, ys, fns = [], [], [], []
            for g, sub in pdf.groupby("g", sort=False):
                ring = chain_hull(sub[["px", "py"]].to_numpy())
                k = len(ring)
                gs.append(np.full(k, g, np.int64))
                xs.append(ring[:, 0])
                ys.append(ring[:, 1])
                fn_col = np.zeros(k, np.int64)
                fn_col[0] = len(sub)
                fns.append(fn_col)
            yield pd.DataFrame({
                "g": np.concatenate(gs), "px": np.concatenate(xs),
                "py": np.concatenate(ys), "_fn": np.concatenate(fns)})

    return pts.mapInPandas(fn, "g long, px long, py long, _fn long")


def _final_pass(reduced: DataFrame, build_rows):
    """repartition(g) then accumulate each group ACROSS Arrow batches
    within the partition (a group's rows may straddle batch borders)
    and emit via ``build_rows(g, points, n_points)``. Per-partition
    state holds only fragment-hull vertices — tiny post-reduction."""

    def fn(batches):
        acc: dict[int, list] = {}
        counts: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for g, sub in pdf.groupby("g", sort=False):
                gi = int(g)
                acc.setdefault(gi, []).append(
                    sub[["px", "py"]].to_numpy(np.int64))
                counts[gi] = counts.get(gi, 0) + int(sub["_fn"].sum())
        # ONE output frame per partition (one Arrow batch), not one
        # per group — 150 single-row frames each crossing the
        # boundary measured ~3x the kernels themselves
        rows = [build_rows(gi, np.concatenate(chunks), counts[gi])
                for gi, chunks in acc.items()]
        if rows:
            yield pd.concat(rows, ignore_index=True)

    # explicit partition count: a bare repartition("g") is AQE-
    # coalescable and the reduced frame is tiny, which would run all
    # groups' final kernels on 1-2 cores (the contour width lesson)
    par = reduced.sparkSession.sparkContext.defaultParallelism
    return reduced.repartition(par, "g").mapInPandas(
        fn, _OUT_SCHEMAS[build_rows])


def _vertex_rows(gi: int, pts: np.ndarray, n_points: int) -> pd.DataFrame:
    ring = chain_hull(pts)
    return pd.DataFrame({"g": gi,
                         "ord": np.arange(len(ring), dtype=np.int64),
                         "hx": ring[:, 0], "hy": ring[:, 1]})


def _stats_rows(gi: int, pts: np.ndarray, n_points: int) -> pd.DataFrame:
    ring = chain_hull(pts)
    return pd.DataFrame([{
        "g": gi,
        "n_points": n_points,
        "n_hull": len(ring),
        "sum_hx": int(ring[:, 0].sum()),
        "sum_hy": int(ring[:, 1].sum()),
        "area2": _ring_area2(ring),
    }])


_OUT_SCHEMAS = {
    _vertex_rows: "g long, ord long, hx long, hy long",
    _stats_rows: ("g long, n_points long, n_hull long, sum_hx long, "
                  "sum_hy long, area2 long"),
}


def hull_vertices(points: DataFrame, group_col: str = "user_id",
                  x_col: str = "wx", y_col: str = "wy") -> DataFrame:
    """(group, x, y) -> one row per hull vertex with its CCW ring
    position: (group, ord, hx, hy)."""
    pts = _dedup(points, group_col, x_col, y_col)
    return _final_pass(_partial_hulls(pts), _vertex_rows) \
        .withColumnRenamed("g", group_col)


def hull_stats(points: DataFrame, group_col: str = "user_id",
               x_col: str = "wx", y_col: str = "wy") -> DataFrame:
    """Per-group hull summary, every column exact int64: distinct
    point count, hull vertex count, hull-vertex coordinate sums, and
    hull area2 (shoelace; 0 for degenerate point/segment hulls).
    TWO shuffles total, no join: the dedupe and the final
    repartition(group) — the partial pass is shuffle-free and
    n_points rides its rows as per-fragment counts."""
    pts = _dedup(points, group_col, x_col, y_col)
    return _final_pass(_partial_hulls(pts), _stats_rows) \
        .withColumnRenamed("g", group_col)


def hull_tiles(points: DataFrame, zoom: int, extent: int = 4096,
               buffer: int = 0, layer: str = "hulls",
               group_col: str = "user_id", x_col: str = "wx",
               y_col: str = "wy") -> DataFrame:
    """The servable form: each group's hull as an MVT polygon, through
    the SAME world-features ingest tail every other ingest runs
    (geojson.world_features_to_tiles: bbox fan-out -> localize ->
    clip -> vectorized encode). Hull rings arrive CCW-positive from
    chain_hull — the outer-ring winding the encoder expects — and are
    closed here (GeoJSON ring convention, first == last). Degenerate
    hulls (< 3 vertices) drop: a point or segment has no polygon."""
    from . import geojson as _geojson

    verts = hull_vertices(points, group_col, x_col, y_col)
    t = verts.groupBy(group_col).agg(
        F.array_sort(F.collect_list(
            F.struct("ord", "hx", "hy"))).alias("_vs"))
    ring = F.transform("_vs", lambda v: F.array(v["hx"], v["hy"]))
    closed = F.concat(ring, F.slice(ring, 1, 1))
    p = t.select(
        F.col(group_col).cast("long").alias("fid"),
        F.lit("Polygon").alias("gj_type"),
        F.array(closed).alias("parts"),
        F.size("_vs").alias("_n"),
    ).where(F.col("_n") >= 3).drop("_n")
    return _geojson.world_features_to_tiles(p, zoom, extent,
                                            buffer=buffer, layer=layer)


def hull_stats_sql(points_cte: str = "pts",
                   group_col: str = "user_id", pre: str = "") -> str:
    """DuckDB mirror via the maximal-edge characterization (module
    docstring). Same columns as hull_stats. cross(q-p, r-p) < 0 or a
    collinear r outside segment [p, q] refutes the edge. ``pre``
    injects caller CTEs (the points synthesis) into the WITH list."""
    pre = pre.rstrip().rstrip(",") + ",\n" if pre.strip() else ""
    return f"""
WITH {pre}dpts AS (
  SELECT DISTINCT {group_col} AS g, px, py FROM {points_cte}
),
counts AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_points,
         CAST(min(px) AS BIGINT) AS only_x,
         CAST(min(py) AS BIGINT) AS only_y
  FROM dpts GROUP BY g
),
hull_edges AS (
  SELECT p.g, p.px AS ex, p.py AS ey, q.px AS qx, q.py AS qy
  FROM dpts p JOIN dpts q
    ON p.g = q.g AND (p.px != q.px OR p.py != q.py)
  WHERE NOT EXISTS (
    SELECT 1 FROM dpts r
    WHERE r.g = p.g
      AND NOT (r.px = p.px AND r.py = p.py)
      AND NOT (r.px = q.px AND r.py = q.py)
      AND (
        (q.px - p.px) * (r.py - p.py)
          - (q.py - p.py) * (r.px - p.px) < 0
        OR (
          (q.px - p.px) * (r.py - p.py)
            - (q.py - p.py) * (r.px - p.px) = 0
          AND (
            (q.px - p.px) * (r.px - p.px)
              + (q.py - p.py) * (r.py - p.py) < 0
            OR (q.px - p.px) * (r.px - p.px)
              + (q.py - p.py) * (r.py - p.py)
              > (q.px - p.px) * (q.px - p.px)
              + (q.py - p.py) * (q.py - p.py)
          )
        )
      )
  )
),
hverts AS (
  SELECT DISTINCT g, ex, ey FROM hull_edges
),
hagg AS (
  SELECT v.g, v.n_hull, v.sum_hx, v.sum_hy, e.area2
  FROM (
    SELECT g, CAST(count(*) AS BIGINT) AS n_hull,
           CAST(sum(ex) AS BIGINT) AS sum_hx,
           CAST(sum(ey) AS BIGINT) AS sum_hy
    FROM hverts GROUP BY g
  ) v
  JOIN (
    SELECT g, CAST(sum(ex * qy - qx * ey) AS BIGINT) AS area2
    FROM hull_edges GROUP BY g
  ) e ON e.g = v.g
)
SELECT c.g AS {group_col}, c.n_points,
       CASE WHEN c.n_points = 1 THEN 1 ELSE h.n_hull END AS n_hull,
       CASE WHEN c.n_points = 1 THEN c.only_x ELSE h.sum_hx END AS sum_hx,
       CASE WHEN c.n_points = 1 THEN c.only_y ELSE h.sum_hy END AS sum_hy,
       CASE WHEN c.n_points = 1 THEN CAST(0 AS BIGINT)
            ELSE h.area2 END AS area2
FROM counts c LEFT JOIN hagg h ON h.g = c.g
"""
