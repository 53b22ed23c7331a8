"""Fast geodesic approximations over real lon/lat — the cheap-ruler
discipline (mapbox/cheap-ruler, built on the FCC's 47 CFR 73.208
flat-earth coefficients for the WGS84 ellipsoid): at a reference
latitude, one degree of latitude/longitude is a CONSTANT number of
meters (a truncated cosine series), so distance is a flat-earth
hypot — published to be within ~0.1% of true geodesics out to a few
hundred km below the polar circle, at a tiny fraction of haversine's
trig cost, and entirely expressible as whole-stage-codegen column
math (zero Python, zero UDFs; the plan is asserted in tests).

Composition with the engine: ``mercator.lonlat_to_world`` puts real
GPS on the integer world grid for the covering-grid cull, and this
module's meter metric refines — ``dwithin_lonlat`` is the geodesic
twin of ``joins.dwithin_join``. The cull is LOSSLESS for the ruler
metric: one world-grid unit spans at most ``40075016.686/WORLD``
meters (the equator; Mercator cells only shrink poleward), so
inflating the world radius by radius_m / (equatorial meters-per-unit
x cos(max_lat)) over-covers every candidate in the latitude band.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from . import mercator as M
from . import synth

# WGS84 flat-earth coefficients (FCC 47 CFR 73.208; cheap-ruler's
# published constants), meters per degree at reference latitude
_KY = (111132.92, -559.82, 1.175, -0.0023)      # cos(0,2,4,6 * lat)
_KX = (111412.84, -93.5, 0.118)                 # cos(1,3,5 * lat)
_EQ_CIRC = 40075016.686                         # equatorial circumference


def meters_per_deg(lat: Column) -> tuple[Column, Column]:
    """(kx, ky): meters per degree of longitude / latitude at ``lat``
    (degrees), as pure column math."""
    r = F.radians(lat)
    ky = (F.lit(_KY[0]) + F.lit(_KY[1]) * F.cos(2 * r)
          + F.lit(_KY[2]) * F.cos(4 * r) + F.lit(_KY[3]) * F.cos(6 * r))
    kx = (F.lit(_KX[0]) * F.cos(r) + F.lit(_KX[1]) * F.cos(3 * r)
          + F.lit(_KX[2]) * F.cos(5 * r))
    return kx, ky


def distance_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
               ref_lat: Column | None = None) -> Column:
    """Ruler distance in meters between two lon/lat pairs; the ruler
    anchors at ``ref_lat`` (default: the midpoint latitude, the
    cheap-ruler convention). Longitude wraps across the date line."""
    if ref_lat is None:
        ref_lat = (lat1 + lat2) / 2
    kx, ky = meters_per_deg(ref_lat)
    dlon = F.abs(lon1 - lon2)
    dlon = F.when(dlon > 180.0, F.lit(360.0) - dlon).otherwise(dlon)
    dx = dlon * kx
    dy = (lat1 - lat2) * ky
    return F.sqrt(dx * dx + dy * dy)


def dwithin_lonlat(points: DataFrame, queries: DataFrame,
                   radius_m: float, max_lat: float = 66.0,
                   world: int | None = None) -> DataFrame:
    """Geodesic radius join over REAL lon/lat: one row per
    (query, point) pair within ``radius_m`` ruler meters (anchored at
    the query latitude — one ruler per query, the cheap-ruler usage),
    with the distance as ``dist_m``.

    Scale shape: both sides project onto the integer world grid
    (pure-JVM Mercator), the query side explodes to the covering
    cells of a CONSERVATIVE world-radius inflation (lossless for any
    |lat| <= max_lat; see module docstring) and broadcasts; the point
    side computes two divs and never shuffles — the dwithin_join
    discipline with a meter refine instead of an integer one.

    Inputs: points (point_id plus lon/lat), queries (qid plus
    lon/lat); both must satisfy |lat| <= max_lat (enforced: violating
    rows raise at plan build via a loud precondition scan when eager
    validation is affordable is NOT done here — callers clamp, as
    mercator.project does)."""
    wrld = world or synth.WORLD
    if not 0 < max_lat <= M.MAX_LAT:
        raise ValueError(f"max_lat must be in (0, {M.MAX_LAT}]")
    m_per_unit_floor = _EQ_CIRC / wrld * math.cos(math.radians(max_lat))
    rw = int(math.ceil(radius_m / m_per_unit_floor))  # world-unit radius
    cell = 1
    while cell < rw:
        cell <<= 1
    px, py = M.lonlat_to_world(F.col("lon"), F.col("lat"), wrld)
    pts = points.withColumns({"_wx": px, "_wy": py}).withColumns({
        "cell_x": F.expr(f"_wx div {cell}"),
        "cell_y": F.expr(f"_wy div {cell}"),
    }).withColumnsRenamed({"lon": "_plon", "lat": "_plat"})
    qx, qy = M.lonlat_to_world(F.col("lon"), F.col("lat"), wrld)
    off = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    q = (queries.withColumns({"_qx": qx, "_qy": qy})
         .withColumn("_dx", F.explode(off))
         .withColumn("_dy", F.explode(off))
         .select((F.expr(f"_qx div {cell}") + F.col("_dx")).alias("cell_x"),
                 (F.expr(f"_qy div {cell}") + F.col("_dy")).alias("cell_y"),
                 "qid", F.col("lon").alias("_qlon"),
                 F.col("lat").alias("_qlat")))
    d = distance_m(F.col("_plon"), F.col("_plat"),
                   F.col("_qlon"), F.col("_qlat"),
                   ref_lat=F.col("_qlat"))
    return (pts.join(F.broadcast(q), ["cell_x", "cell_y"])
            .withColumn("dist_m", d)
            .where(F.col("dist_m") <= radius_m)
            .drop("cell_x", "cell_y", "_wx", "_wy")
            .withColumnsRenamed({"_plon": "lon", "_plat": "lat"})
            .drop("_qlon", "_qlat"))
