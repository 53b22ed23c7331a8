"""Web Mercator boundary: anchors, fixpoint law, Spark==scalar, and
the all-JVM plan contract."""

import math

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from vtzero_spark.engine import mercator, synth
import scalar_reference as SR


def test_known_anchors():
    w = synth.WORLD
    assert SR.lonlat_to_world_py(0.0, 0.0) == (w // 2, w // 2)
    assert SR.lonlat_to_world_py(-180.0, 0.0)[0] == 0
    # +180 wraps to the date line's own cell, not one past the grid
    assert SR.lonlat_to_world_py(180.0, 0.0)[0] == 0
    assert SR.lonlat_to_world_py(0.0, mercator.MAX_LAT)[1] == 0
    assert SR.lonlat_to_world_py(0.0, -mercator.MAX_LAT)[1] == w - 1
    # poles clamp to the square's edge rows
    assert SR.lonlat_to_world_py(0.0, 90.0)[1] == 0
    assert SR.lonlat_to_world_py(0.0, -90.0)[1] == w - 1
    # slippy-math cross-check at zoom 4 over the 2^16 world: Greenwich
    # longitude 0 sits at tile x = 8 of 16
    wx, _ = SR.lonlat_to_world_py(0.0, 51.4779)
    assert wx // synth.EXTENT == 8


def test_fixpoint_world_to_lonlat_to_world():
    """Cell-center inverse makes world -> lonlat -> world exact on
    every cell (swept over the full grid edge on both axes)."""
    w = synth.WORLD
    for v in range(0, w, 97):
        lon, lat = SR.world_to_lonlat_py(v, v)
        assert SR.lonlat_to_world_py(lon, lat) == (v, v)
    # and the four extreme cells
    for wx, wy in ((0, 0), (w - 1, 0), (0, w - 1), (w - 1, w - 1)):
        lon, lat = SR.world_to_lonlat_py(wx, wy)
        assert SR.lonlat_to_world_py(lon, lat) == (wx, wy)


def test_lonlat_roundtrip_error_bound():
    """lon/lat -> world -> lon/lat moves a coordinate at most one grid
    cell (the projection's resolution), nowhere more."""
    rng = np.random.RandomState(7)
    cell_deg = 360.0 / synth.WORLD
    for _ in range(500):
        lon = float(rng.uniform(-180, 180))
        lat = float(rng.uniform(-85, 85))
        wx, wy = SR.lonlat_to_world_py(lon, lat)
        lon2, lat2 = SR.world_to_lonlat_py(wx, wy)
        assert abs(lon2 - lon) <= cell_deg
        # latitude cells stretch toward the poles; bound via y-space
        latr = math.radians(lat)
        merc = math.log(math.tan(latr) + 1 / math.cos(latr))
        latr2 = math.radians(lat2)
        merc2 = math.log(math.tan(latr2) + 1 / math.cos(latr2))
        assert abs(merc2 - merc) <= 2 * math.pi / synth.WORLD


def test_spark_matches_scalar_and_plan_is_jvm(spark):
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({
        "lon": rng.uniform(-200, 200, 400),   # includes wrap range
        "lat": rng.uniform(-90, 90, 400),     # includes clamp range
    })
    df = mercator.project(spark.createDataFrame(pdf))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan
    got = df.toPandas()
    for _, r in got.iterrows():
        wx, wy = SR.lonlat_to_world_py(float(r["lon"]),
                                             float(r["lat"]))
        assert (int(r["wx"]), int(r["wy"])) == (wx, wy), (r["lon"], r["lat"])


def test_projected_points_feed_assign_tiles(spark):
    """The boundary composes: project real lon/lat, assign tiles, and
    the tile of Greenwich at zoom 4 is (8, y) with y in the northern
    half."""
    from vtzero_spark.engine import tiling

    pdf = pd.DataFrame({"image_id": ["a"], "lon": [0.0], "lat": [51.4779],
                        "w": [16], "h": [16], "fmt": ["png"],
                        "caption": ["x"], "phash": [1], "iid": [0],
                        "layer_name": ["L0"]})
    df = mercator.project(spark.createDataFrame(pdf))
    out = tiling.assign_tiles(df, zoom=synth.ZOOM, extent=synth.EXTENT,
                              buffer=0).select("x", "y").first()
    assert out["x"] == 8 and out["y"] < 8
