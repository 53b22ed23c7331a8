"""Point-density heatmap tiles — the server-side analog of the
Mapbox GL ``heatmap`` layer, and the KDE prep step of every density
analysis ("where are the photos taken?") over the geotagged corpus.

Kernel density with EXACT integer arithmetic so an independent engine
can verify every pixel: each point of weight ``w`` splats the integer
Epanechnikov kernel

    k(dr, dc) = R^2 - (dr^2 + dc^2)          (kept where k > 0)

onto the GLOBAL pixel grid around its own pixel, densities sum per
pixel, and tiles are carved from the global grid afterwards — so a
point near a tile edge contributes to its neighbor tiles and the
rendered mosaic is SEAMLESS by construction (no per-tile halo logic;
the ownership derives from the SCATTERED pixel, not the point).

Spark shape of heatmap_pixels (all JVM, whole-stage codegen, no
Python in the plan) and of heatmap_png_tiles, which renders its tiles:

    explode(literal kernel array)     ->  scatter rows, JOIN-FREE
      groupBy (px, py) sum            ->  one shuffle, map-side combine
      groupBy (tile) agg / render     ->  second (tiny) shuffle

heatmap_tiles ships the points, not the scatter: one point-sized
shuffle to tile blocks with a kernel-radius halo, each block summed in
numpy (its docstring).

The kernel is known at PLAN time (~piR^2 in-disk offsets, R default
8 -> 197 entries), so the scatter is a Generate over a literal
array-of-structs — no join node of any kind (an earlier broadcast
crossJoin form planned as BroadcastNestedLoopJoin; the explode is
the same row inflation without the join machinery or the broadcast
exchange). The scatter inflates rows by ~piR^2 BEFORE the exchange
but partial aggregation collapses them map-side, so shuffle volume
is bounded by min(points * piR^2, occupied pixels) per partition —
at 10^12 points the exchange carries the DENSITY GRID (<= 4^zoom *
size^2 rows), not the corpus. DuckDB twin: the identical
scatter-then-group formulation (heatmap_tiles_sql), integer-exact.

Scale note: zoom and size set the grid; at high zoom the grid itself
is the 100 TB-safe representation (sparse — only touched pixels
materialize). Skewed hot pixels are additive sums, so AQE skew splits
apply cleanly; no per-point state anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .synth import WORLD, ZOOM

__all__ = ["heatmap_pixels", "heatmap_tiles", "heatmap_png_tiles",
           "heatmap_tiles_sql"]

RADIUS = 8          # kernel radius, pixels
TILE_PX = 256       # pixels per tile edge


def _shifts(zoom: int, size: int, world: int) -> tuple[int, int]:
    """world-units -> global pixel shift, and pixel -> tile shift."""
    sbits = size.bit_length() - 1
    if 1 << sbits != size:
        raise ValueError(f"size {size} must be a power of two")
    wbits = world.bit_length() - 1
    if 1 << wbits != world:
        raise ValueError(f"world {world} must be a power of two")
    pshift = wbits - zoom - sbits  # wx >> pshift == global pixel
    if pshift < 0:
        raise ValueError(
            f"zoom {zoom} with size {size} exceeds the {wbits}-bit "
            f"world grid (pixel finer than a world unit)")
    return pshift, sbits


def _kernel_array(radius: int):
    """The (dr, dc, k) kernel as ONE literal array-of-structs column,
    k = R^2 - dr^2 - dc^2 > 0 (the in-disk offsets only). Known at
    plan time, so the scatter explodes it — no join in the plan."""
    entries = []
    for dr in range(-radius, radius + 1):
        for dc in range(-radius, radius + 1):
            k = radius * radius - dr * dr - dc * dc
            if k > 0:
                entries.append(F.struct(
                    F.lit(dr).cast("long").alias("dr"),
                    F.lit(dc).cast("long").alias("dc"),
                    F.lit(k).cast("long").alias("k")))
    return F.array(*entries)


def heatmap_pixels(points: DataFrame, zoom: int = ZOOM,
                   size: int = TILE_PX, radius: int = RADIUS,
                   weight_col: str | None = None,
                   world: int = WORLD) -> DataFrame:
    """(wx, wy[, weight]) points -> sparse global density grid
    (px, py, density), density = sum over points of w * k(dr, dc).
    Pixels outside the world grid are dropped (world edge, not
    wrapped)."""
    pshift, _ = _shifts(zoom, size, world)
    npx = (world >> pshift)  # global grid edge in pixels
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    pts = points.select(
        F.shiftright("wx", pshift).alias("gx"),
        F.shiftright("wy", pshift).alias("gy"),
        w.alias("wt"))
    return (
        pts.select("gx", "gy", "wt",
                   F.explode(_kernel_array(radius)).alias("o"))
        .select((F.col("gx") + F.col("o.dc")).alias("px"),
                (F.col("gy") + F.col("o.dr")).alias("py"),
                (F.col("wt") * F.col("o.k")).alias("mass"))
        .filter((F.col("px") >= 0) & (F.col("px") < npx)
                & (F.col("py") >= 0) & (F.col("py") < npx))
        .groupBy("px", "py")
        .agg(F.sum("mass").alias("density"))
    )


def heatmap_tiles(points: DataFrame, zoom: int = ZOOM,
                  size: int = TILE_PX, radius: int = RADIUS,
                  weight_col: str | None = None,
                  world: int = WORLD) -> DataFrame:
    """Per-tile density summary over the seamless global grid: tile
    ownership derives from each SCATTERED pixel, so edge points count
    toward every tile they touch. Columns aliased for the DuckDB
    twin; peak ties break on (py, px) — deterministic cross-engine.

    The contour _segments_direct shape: ONE point-sized shuffle to
    tile-aligned pixel blocks with a kernel-radius halo; each block
    accumulates its own dense density window (integer sort+reduceat —
    order-independent) and reduces to its one stats row in numpy.
    Neither the ~piR^2-fold kernel scatter nor the pixel grid ever
    crosses the wire (an all-JVM scatter-then-group plan shuffles
    min(points*piR^2, touched pixels) rows; at sf0.1 that is the whole
    16M-pixel grid)."""
    pshift, bbits = _shifts(zoom, size, world)
    B = size
    npx = world >> pshift
    R = radius
    if 2 * (R - 1) > B:
        raise ValueError(
            f"kernel radius {R} too large for tile size {B}")
    offs = [(dr, dc, R * R - dr * dr - dc * dc)
            for dr in range(-R + 1, R) for dc in range(-R + 1, R)
            if R * R - dr * dr - dc * dc > 0]
    dr_a = np.array([o[0] for o in offs], np.int64)
    dc_a = np.array([o[1] for o in offs], np.int64)
    k_a = np.array([o[2] for o in offs], np.int64)
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    pts = points.select(
        F.shiftright("wx", pshift).alias("gx"),
        F.shiftright("wy", pshift).alias("gy"), w.alias("wt"))
    # candidate blocks whose pixel window [b*B, b*B+B) the kernel
    # disk [g-(R-1), g+(R-1)] touches — at most two per axis
    hib = lambda g: F.shiftright(g + (R - 1), bbits)
    cand = F.array_distinct(F.array(*[
        F.struct(bxe.alias("bx"), bye.alias("by"))
        for bxe in (hib(F.col("gx")) - 1, hib(F.col("gx")))
        for bye in (hib(F.col("gy")) - 1, hib(F.col("gy")))]))
    sc = (pts.select("gx", "gy", "wt", F.explode(cand).alias("b"))
          .select(F.col("b.bx").alias("bx"), F.col("b.by").alias("by"),
                  "gx", "gy", "wt")
          .where((F.col("gx") + (R - 1) >= F.col("bx") * B)
                 & (F.col("gx") - (R - 1) <= F.col("bx") * B + B - 1)
                 & (F.col("gy") + (R - 1) >= F.col("by") * B)
                 & (F.col("gy") - (R - 1) <= F.col("by") * B + B - 1)
                 & (F.col("bx") >= 0) & (F.col("by") >= 0)
                 & (F.col("bx") < (npx >> bbits))
                 & (F.col("by") < (npx >> bbits))))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        bx = int(pdf["bx"].iloc[0])
        by = int(pdf["by"].iloc[0])
        x0, y0 = bx << bbits, by << bbits
        lx = (pdf["gx"].to_numpy() - x0)[:, None] + dc_a[None, :]
        ly = (pdf["gy"].to_numpy() - y0)[:, None] + dr_a[None, :]
        val = pdf["wt"].to_numpy()[:, None] * k_a[None, :]
        ok = ((lx >= 0) & (lx < B) & (ly >= 0) & (ly < B)
              & (lx + x0 >= 0) & (lx + x0 < npx)
              & (ly + y0 >= 0) & (ly + y0 < npx))
        idx = ly[ok] * B + lx[ok]
        v = val[ok]
        if idx.size == 0:
            return pd.DataFrame({c: [] for c in (
                "z", "x", "y", "n_pixels", "total_mass",
                "peak_density", "peak_px", "peak_py")})
        order = np.argsort(idx, kind="stable")
        idx_s, v_s = idx[order], v[order]
        starts = np.flatnonzero(np.r_[True, idx_s[1:] != idx_s[:-1]])
        sums = np.add.reduceat(v_s, starts)
        cells = idx_s[starts]
        peak = int(sums.max())
        # struct-max tie rule (density, py, px): among peak pixels
        # take max global py then px; cells sort by (ly, lx) == by
        # (py, px) within the tile, so the LAST peak cell wins
        pk_cell = int(cells[np.flatnonzero(sums == peak)[-1]])
        return pd.DataFrame([{
            "z": zoom, "x": bx, "y": by,
            "n_pixels": len(cells), "total_mass": int(sums.sum()),
            "peak_density": peak,
            "peak_px": x0 + (pk_cell % B),
            "peak_py": y0 + (pk_cell // B)}])

    # explicit block-keyed width pinned under the groupBy: the point
    # scatter is a few narrow MB, so AQE otherwise coalesces the
    # kernel exchange to 1-4 partitions (the contour _segments_direct
    # lesson); HashPartitioning satisfies the ClusteredDistribution,
    # so no second exchange appears
    par = points.sparkSession.sparkContext.defaultParallelism * 2
    sc = sc.repartition(par, "bx", "by")
    return sc.groupBy("bx", "by").applyInPandas(
        fn, schema="z int, x int, y int, n_pixels long, "
                   "total_mass long, peak_density long, "
                   "peak_px long, peak_py long")


def heatmap_tiles_sql(src: str = "images", zoom: int = ZOOM,
                      size: int = TILE_PX, radius: int = RADIUS,
                      weight_col: str | None = None,
                      world: int = WORLD) -> str:
    """DuckDB twin of heatmap_tiles over a (wx, wy[, weight]) CTE:
    the same scatter-then-group formulation (a range self-join via
    BETWEEN is ~65x slower in DuckDB — measured for the kNN oracle)."""
    pshift, sbits = _shifts(zoom, size, world)
    npx = world >> pshift
    n = 2 * radius + 1
    wexpr = f"CAST(p.{weight_col} AS BIGINT)" if weight_col else "1"
    return f"""
offs AS (
  SELECT (i // {n}) - {radius} AS dr, (i % {n}) - {radius} AS dc,
         {radius * radius} - ((i // {n}) - {radius}) * ((i // {n}) - {radius})
           - ((i % {n}) - {radius}) * ((i % {n}) - {radius}) AS k
  FROM range({n * n}) t(i)
  WHERE {radius * radius} - ((i // {n}) - {radius}) * ((i // {n}) - {radius})
           - ((i % {n}) - {radius}) * ((i % {n}) - {radius}) > 0
),
hm_pixels AS (
  SELECT (p.wx // {1 << pshift}) + o.dc AS px,
         (p.wy // {1 << pshift}) + o.dr AS py,
         CAST(SUM({wexpr} * o.k) AS BIGINT) AS density
  FROM {src} p CROSS JOIN offs o
  WHERE (p.wx // {1 << pshift}) + o.dc BETWEEN 0 AND {npx - 1}
    AND (p.wy // {1 << pshift}) + o.dr BETWEEN 0 AND {npx - 1}
  GROUP BY 1, 2
),
hm_tiles AS (
  SELECT CAST({zoom} AS INT) AS z,
         CAST(px // {size} AS INT) AS x, CAST(py // {size} AS INT) AS y,
         CAST(COUNT(*) AS BIGINT) AS n_pixels,
         CAST(SUM(density) AS BIGINT) AS total_mass,
         CAST(MAX(density) AS BIGINT) AS peak_density,
         CAST((MAX(struct_pack(density := density, py := py,
                               px := px))).px AS BIGINT) AS peak_px,
         CAST((MAX(struct_pack(density := density, py := py,
                               px := px))).py AS BIGINT) AS peak_py
  FROM hm_pixels GROUP BY 2, 3
)"""


def heatmap_png_tiles(points: DataFrame, zoom: int = ZOOM,
                      size: int = TILE_PX, radius: int = RADIUS,
                      weight_col: str | None = None,
                      world: int = WORLD) -> DataFrame:
    """Render the density grid into grayscale PNG raster tiles
    (z, x, y, png bytes): the servable form. Intensity is normalized
    PER TILE (255 at the tile's own peak — deterministic, no global
    pass; a styling choice, documented, like GL's per-view ramp).
    Only touched tiles materialize."""
    from . import png as P

    _, sbits = _shifts(zoom, size, world)
    pix = heatmap_pixels(points, zoom, size, radius, weight_col, world)
    keyed = pix.select(
        F.shiftright("px", sbits).cast("int").alias("x"),
        F.shiftright("py", sbits).cast("int").alias("y"),
        (F.col("px") - (F.shiftright("px", sbits) * size)).alias("lx"),
        (F.col("py") - (F.shiftright("py", sbits) * size)).alias("ly"),
        "density")

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        img = np.zeros((size, size), np.int64)
        img[pdf["ly"].to_numpy(), pdf["lx"].to_numpy()] = \
            pdf["density"].to_numpy()
        peak = img.max()
        gray = (img * 255 // peak).astype(np.uint8) if peak else \
            img.astype(np.uint8)
        return pd.DataFrame([{
            "z": zoom, "x": int(pdf["x"].iloc[0]),
            "y": int(pdf["y"].iloc[0]),
            "png": P.encode(gray)}])

    return keyed.groupBy("x", "y").applyInPandas(
        render, schema="z int, x int, y int, png binary")
