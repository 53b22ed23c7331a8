"""Tile assignment: world coords -> (z, x, y) + tile-local int32 coords.

Pure column math (no UDFs): Catalyst folds these expressions into
whole-stage codegen, they push down through scans, and the plan is
shuffle-free until an aggregation. Buffered membership mirrors the
reference's buffered-clipping fixtures 053-056
(/root/reference/test/fixture_tests.cpp:910-988): a feature within
``buffer`` units of a tile edge is also assigned to the neighbor tile,
with tile-local coordinates allowed to be negative or beyond the
extent (vtzero round-trips such coordinates untouched; vtzero-check
only warns beyond ±extent, examples/vtzero-check.cpp:81-88).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .synth import EXTENT, ZOOM


def assign_tiles(
    df: DataFrame,
    zoom: int = ZOOM,
    extent: int = EXTENT,
    buffer: int = 0,
    wx: str = "wx",
    wy: str = "wy",
) -> DataFrame:
    """Assign each point to its tile(s) at ``zoom``.

    With buffer == 0 this is a 1:1 projection (no explode, no shuffle).
    With buffer > 0 a point near an edge is duplicated into adjacent
    tiles; local coords are relative to each owning tile.

    Output columns: z, x, y (tile address), loc_x, loc_y (tile-local,
    int, possibly outside [0, extent) for buffered copies).
    """
    ntiles = 1 << zoom
    # world units per tile: world is ntiles * extent wide by construction
    if buffer == 0:
        return (
            df.withColumn("z", F.lit(zoom))
            .withColumn("x", F.expr(f"{wx} div {extent}"))
            .withColumn("y", F.expr(f"{wy} div {extent}"))
            .withColumn("loc_x", (F.col(wx) % extent).cast("int"))
            .withColumn("loc_y", (F.col(wy) % extent).cast("int"))
        )
    # one DataFrame op per step (each is a py4j round trip and a full
    # re-analysis): the 9 neighbour offsets, the projection, the filter
    shifts = ", ".join(f"named_struct('_dx', {dx}, '_dy', {dy})"
                       for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    tx, ty = f"({wx} div {extent} + _dx)", f"({wy} div {extent} + _dy)"
    new = {"x": tx, "y": ty,
           "loc_x": f"CAST({wx} - {tx} * {extent} AS INT)",
           "loc_y": f"CAST({wy} - {ty} * {extent} AS INT)",
           "z": str(zoom)}
    cols = [F.expr(new[c]).alias(c) if c in new else F.col(f"`{c}`")
            for c in df.columns]
    cols += [F.expr(e).alias(c) for c, e in new.items() if c not in df.columns]
    return (
        df.selectExpr("*", f"inline(array({shifts}))")
        .select(*cols)
        .where(f"x >= 0 AND x < {ntiles} AND y >= 0 AND y < {ntiles}"
               f" AND loc_x >= -{buffer} AND loc_x < {extent + buffer}"
               f" AND loc_y >= -{buffer} AND loc_y < {extent + buffer}")
    )


def assign_tiles_sql(
    source_sql: str,
    zoom: int = ZOOM,
    extent: int = EXTENT,
    buffer: int = 0,
) -> str:
    """DuckDB mirror of assign_tiles over a CTE named ``source_sql``."""
    ntiles = 1 << zoom
    if buffer == 0:
        return f"""
  SELECT s.*, {zoom} AS z,
         wx // {extent} AS x,
         wy // {extent} AS y,
         CAST(wx % {extent} AS INT) AS loc_x,
         CAST(wy % {extent} AS INT) AS loc_y
  FROM {source_sql} s"""
    return f"""
  SELECT * FROM (
    SELECT s.*, {zoom} AS z,
           wx // {extent} + d.dx AS x,
           wy // {extent} + d.dy AS y,
           CAST(wx - (wx // {extent} + d.dx) * {extent} AS INT) AS loc_x,
           CAST(wy - (wy // {extent} + d.dy) * {extent} AS INT) AS loc_y
    FROM {source_sql} s
    CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) d(dx, dy)
  ) t
  WHERE x >= 0 AND x < {ntiles} AND y >= 0 AND y < {ntiles}
    AND loc_x >= -{buffer} AND loc_x < {extent} + {buffer}
    AND loc_y >= -{buffer} AND loc_y < {extent} + {buffer}"""


# ---------------------------------------------------------- lon/lat path

def lonlat_to_world(df: DataFrame, zoom: int, extent: int = EXTENT,
                    lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Web-Mercator projection to integer world units at ``zoom``
    (engine path for real-world coordinates; FP, so pytest-verified
    against a Python oracle rather than hash-matched in SQL)."""
    world = (1 << zoom) * extent
    pi = math.pi
    xnorm = (F.col(lon) + 180.0) / 360.0
    lat_rad = F.radians(F.col(lat))
    ynorm = (1.0 - F.log(F.tan(lat_rad) + 1.0 / F.cos(lat_rad)) / pi) / 2.0
    return (
        df.withColumn("wx", F.least(F.lit(world - 1),
                                    F.greatest(F.lit(0), F.floor(xnorm * world))))
        .withColumn("wy", F.least(F.lit(world - 1),
                                  F.greatest(F.lit(0), F.floor(ynorm * world))))
    )


def pyramid_assign(df: DataFrame, max_zoom: int, extent: int = EXTENT,
                   wx: str = "wx", wy: str = "wy") -> DataFrame:
    """Assign each point to its tile at EVERY zoom level 0..max_zoom —
    the tile-pyramid rollup. Tile-local coordinates are rescaled to
    the fixed MVT extent at each level (integer-exact: world is
    2^max_zoom * extent wide, so the scale shift is (max_zoom - z)).
    One explode, no shuffle; downstream per-level aggregation or tile
    encode shuffles on (z, x, y) exactly like the single-level path."""
    import math

    log2e = int(math.log2(extent))
    wb = max_zoom + log2e
    ts = f"shiftleft(CAST(1 AS BIGINT), {wb} - z)"  # tile size at level z
    sc = f"shiftleft(CAST(1 AS BIGINT), {max_zoom} - z)"  # loc rescale
    return (
        df.withColumn("z", F.explode(F.sequence(F.lit(0), F.lit(max_zoom))))
        .withColumn("x", F.expr(f"CAST({wx} AS BIGINT) div {ts}"))
        .withColumn("y", F.expr(f"CAST({wy} AS BIGINT) div {ts}"))
        .withColumn("loc_x", F.expr(f"CAST(({wx} % {ts}) div {sc} AS INT)"))
        .withColumn("loc_y", F.expr(f"CAST(({wy} % {ts}) div {sc} AS INT)"))
    )


def pyramid_assign_sql(source_sql: str, max_zoom: int, extent: int = EXTENT) -> str:
    """DuckDB mirror of pyramid_assign."""
    import math

    log2e = int(math.log2(extent))
    wb = max_zoom + log2e
    return f"""
  SELECT s.*, l.z,
         wx // (1 << ({wb} - l.z)) AS x,
         wy // (1 << ({wb} - l.z)) AS y,
         CAST((wx % (1 << ({wb} - l.z))) // (1 << ({max_zoom} - l.z)) AS INT) AS loc_x,
         CAST((wy % (1 << ({wb} - l.z))) // (1 << ({max_zoom} - l.z)) AS INT) AS loc_y
  FROM {source_sql} s
  CROSS JOIN (SELECT unnest(range(0, {max_zoom + 1})) AS z) l"""


def feature_budget(df: DataFrame, per_tile: int,
                   ordinal: str = "feature_ordinal") -> DataFrame:
    """Deterministic per-tile feature budget: keep the first
    ``per_tile`` features (ordinal order) of every (z, x, y, layer)
    group. This is the standard tiling discipline at scale — tile
    payloads have size budgets, and low-zoom tiles would otherwise
    aggregate the entire dataset into one encode group (the skew that
    kills a 1000-executor job). Window rank = one shuffle on the same
    key the encode groups on, so AQE plans them together."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("z", "x", "y", "layer_name").orderBy(ordinal)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= per_tile)
        .drop("_rn")
    )


def raster_tiles(df: DataFrame, zoom_r: int, world: int,
                 wx: str = "wx", wy: str = "wy") -> DataFrame:
    """Raster-side tile address at zoom_r (rx, ry)."""
    tile = world >> zoom_r
    return (
        df.withColumn("zr", F.lit(zoom_r))
        .withColumn("rx", F.expr(f"{wx} div {tile}"))
        .withColumn("ry", F.expr(f"{wy} div {tile}"))
    )
