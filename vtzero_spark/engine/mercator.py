"""Web Mercator (EPSG:3857) boundary — the projection every real
slippy map serves. The engine's integer world grid is projection-
agnostic; this module is the bridge from REAL GPS coordinates
(lon/lat degrees, WGS84) onto that grid, so assign_tiles / heatmap /
flows / hulls run unchanged over real-world data:

    lon/lat -> lonlat_to_world -> (wx, wy) -> any operator

Everything is pure-JVM column math (ln/tan/atan/sinh/exp inside
whole-stage codegen — no Python in the plan, plan-asserted). Floats
are inherent to the projection, so this boundary is pytest-pinned
(round-trip fixpoint, independent numpy oracle, known anchors)
rather than driver-hash-gated; the INTEGER grid it lands on is where
the engine's exactness contract takes over.

Conventions (match OSM/Google slippy math exactly):
- wx = (lon + 180)/360 * world, floored to the integer grid
- wy = (1 - asinh(tan(lat))/pi)/2 * world, floored — y grows SOUTH
- latitude clamps to +/-85.05112878 (the Mercator square's edge)
- the inverse reads CELL CENTERS (wx + 0.5), so world -> lonlat ->
  world is an exact fixpoint on every cell (tested over the full
  grid edge), the property that makes the boundary safe to round-trip
  in pipelines.

Reference analog: none in vtzero (tiles arrive already projected;
SURVEY §2) — this is the ingest-side companion the north_star's
geotagged corpus needs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .synth import WORLD

__all__ = ["MAX_LAT", "lonlat_to_world", "world_to_lonlat"]

# tan/atan-exact edge of the Mercator square: atan(sinh(pi)) in degrees
MAX_LAT = math.degrees(math.atan(math.sinh(math.pi)))  # 85.05112877980659


def lonlat_to_world(lon: Column, lat: Column,
                    world: int = WORLD) -> tuple[Column, Column]:
    """(lon, lat) degree columns -> integer world-grid columns.
    Longitude wraps into [-180, 180); latitude clamps to the Mercator
    square. Output is floored to the grid and clamped to
    [0, world-1] (lon exactly +180 and lat exactly -MAX_LAT land on
    the last cell, not one past it)."""
    lon = ((lon + F.lit(180.0)) % F.lit(360.0) + F.lit(360.0)) \
        % F.lit(360.0)
    lat = F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat))
    xf = lon / F.lit(360.0) * F.lit(float(world))
    latr = F.radians(lat)
    # asinh(tan(lat)) via ln(tan + sec) — ln/tan/cos are codegen'd
    merc = F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr))
    yf = (F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) \
        * F.lit(float(world))
    wmax = F.lit(world - 1).cast("long")
    zero = F.lit(0).cast("long")
    wx = F.least(wmax, F.greatest(zero, F.floor(xf).cast("long")))
    wy = F.least(wmax, F.greatest(zero, F.floor(yf).cast("long")))
    return wx, wy


def world_to_lonlat(wx: Column, wy: Column,
                    world: int = WORLD) -> tuple[Column, Column]:
    """Integer world-grid columns -> (lon, lat) degrees at the CELL
    CENTER — the choice that makes world -> lonlat -> world an exact
    fixpoint on every cell."""
    cx = (wx.cast("double") + F.lit(0.5)) / F.lit(float(world))
    cy = (wy.cast("double") + F.lit(0.5)) / F.lit(float(world))
    lon = cx * F.lit(360.0) - F.lit(180.0)
    n = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * cy)
    lat = F.degrees(F.atan(F.sinh(n)))
    return lon, lat


def project(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
            world: int = WORLD) -> DataFrame:
    """Convenience: append (wx, wy) world columns to a lon/lat frame —
    the one-liner between a real GPS table and every engine operator."""
    wx, wy = lonlat_to_world(F.col(lon_col), F.col(lat_col), world)
    return df.withColumns({"wx": wx, "wy": wy})


def world_to_lonlat_np(wx, wy, world: int = WORLD):
    """Vectorized numpy twin of world_to_lonlat (same cell-center
    inverse), for batch kernels (e.g. polyline.encode_tracks)."""
    import numpy as np

    cx = (np.asarray(wx, np.float64) + 0.5) / world
    cy = (np.asarray(wy, np.float64) + 0.5) / world
    lon = cx * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * cy))))
    return lon, lat
