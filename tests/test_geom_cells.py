"""Polygon/linestring distributed round-trips (engine/geomops.py) and
the quadkey cell index (engine/cells.py).

The round-trip assertions mirror vtzero's builder/decoder contracts:
ring orientation and signed area per geometry.hpp:120-123,161-169,
closing-point re-emission per geometry.hpp:373, cursor continuity per
builder.hpp:368.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from vtzero_spark.engine import cells, geomops, joins, synth, tiling
from vtzero_spark.engine.synth import EXTENT, WORLD, ZOOM
import scalar_reference as SR


def _assigned(spark, sf_dir):
    img = synth.images(spark, sf_dir)
    return tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)


# ------------------------------------------------------------- geomops

def test_stream_encode_matches_parts_encode(spark, sf_dir):
    """encode_geom_tiles on plan-side command streams is byte-identical
    to the generic parts-based encode_layers->encode_tiles path."""
    from vtzero_spark.engine import assemble

    for parts_fn, stream_fn in [
        (geomops.rect_footprint_features, geomops.rect_stream_features),
        (SR.path_features, geomops.path_stream_features),
    ]:
        assigned = _assigned(spark, sf_dir).limit(500)
        a = assemble.encode_tiles(assemble.encode_layers(parts_fn(assigned))) \
            .select("z", "x", "y", "num_layers", "tile_bytes").toPandas()
        b = assemble.encode_geom_tiles(stream_fn(assigned)) \
            .select("z", "x", "y", "num_layers", "tile_bytes").toPandas()
        key = ["z", "x", "y"]
        a = a.set_index(key).sort_index()
        b = b.set_index(key).sort_index()
        assert len(a) == len(b) and len(a) > 0
        assert (a["num_layers"] == b["num_layers"]).all()
        assert (a["tile_bytes"].map(bytes) == b["tile_bytes"].map(bytes)).all()


def test_uniform_stats_matches_scalar_decode(spark, sf_dir):
    """The vectorized uniform-pattern stats equal the per-row decoder
    on the same geometries (force the per-row path with tiny groups)."""
    import numpy as np

    from vtzero_spark.engine.geomops import _uniform_batch_stats
    from vtzero_spark.mvt import geometry as G

    rng = np.random.RandomState(3)
    rows = []
    for _ in range(50):
        x0, y0 = rng.randint(-64, 4096, 2)
        w, h = rng.randint(16, 300, 2)
        ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                         [x0, y0 + h], [x0, y0]], dtype=np.int64)
        rows.append(G.encode_polygon([ring]).tolist())
    M = np.array(rows, dtype=np.int64)
    stats = _uniform_batch_stats(M, G.GEOM_POLYGON)
    assert stats is not None
    n_parts, n_points, sum_x, sum_y, area2, cxn, cyn = stats
    from vtzero_spark.engine.geomops import _ring_centroid_terms
    for i, cmds in enumerate(rows):
        parts, rtypes = G.decode_geometry(G.GEOM_POLYGON, np.array(cmds))
        pts = np.concatenate(parts)
        assert n_parts[i] == len(parts)
        assert n_points[i] == pts.shape[0]
        assert sum_x[i] == pts[:, 0].sum() and sum_y[i] == pts[:, 1].sum()
        assert area2[i] == sum(G.ring_signed_area2(r) for r in parts)
        terms = [_ring_centroid_terms(r) for r in parts]
        assert cxn[i] == sum(t[1] for t in terms)
        assert cyn[i] == sum(t[2] for t in terms)


def test_rect_footprint_roundtrip(spark, sf_dir):
    from vtzero_spark.engine import assemble

    assigned = _assigned(spark, sf_dir).limit(200)
    feats = geomops.rect_footprint_features(assigned)
    tiles = assemble.encode_tiles(assemble.encode_layers(feats))
    stats = geomops.geometry_stats(
        assemble.decode_tiles(tiles).where(F.col("decode_status") == "ok")
    ).toPandas()
    assert (stats["decode_status"] == "ok").all()
    # every rectangle decodes to one outer ring of 5 points (closing
    # point re-emitted) with area2 = 2*w*h > 0
    assert (stats["n_parts"] == 1).all()
    assert (stats["n_points"] == 5).all()
    assert (stats["area2"] > 0).all()

    expected = (
        _assigned(spark, sf_dir).limit(200)
        .select(F.col("iid").alias("feature_id"),
                (2 * F.col("w") * F.col("h")).alias("exp_area2"),
                (5 * F.col("loc_x") + 2 * F.col("w")).alias("exp_sx"),
                (5 * F.col("loc_y") + 2 * F.col("h")).alias("exp_sy"))
        .toPandas().set_index("feature_id")
    )
    got = stats.set_index("feature_id")
    joined = got.join(expected, how="inner")
    assert len(joined) == len(got)
    assert (joined["area2"] == joined["exp_area2"]).all()
    assert (joined["sum_x"] == joined["exp_sx"]).all()
    assert (joined["sum_y"] == joined["exp_sy"]).all()


def test_path_roundtrip(spark, sf_dir):
    from vtzero_spark.engine import assemble

    assigned = _assigned(spark, sf_dir).limit(200)
    feats = SR.path_features(assigned)
    tiles = assemble.encode_tiles(assemble.encode_layers(feats))
    stats = geomops.geometry_stats(
        assemble.decode_tiles(tiles).where(F.col("decode_status") == "ok")
    ).toPandas()
    assert (stats["decode_status"] == "ok").all()
    assert (stats["n_parts"] == 1).all()
    assert (stats["n_points"] == 3).all()
    assert (stats["area2"] == 0).all()


# --------------------------------------------------------------- cells

def _py_morton(x: int, y: int, level: int) -> int:
    out = 0
    for i in range(level):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


@pytest.mark.parametrize("level", [1, 4, 6, 10])
def test_cell_id_matches_python(spark, level):
    pts = [(0, 0), (1, 0), (0, 1), (3, 5), ((1 << level) - 1, (1 << level) - 1)]
    df = spark.createDataFrame(pts, "gx long, gy long")
    got = df.select(
        "gx", "gy", cells.cell_id(F.col("gx"), F.col("gy"), level).alias("cell")
    ).collect()
    for r in got:
        assert r["cell"] == (1 << (2 * level)) | _py_morton(r["gx"], r["gy"], level)


def test_parent_children_roundtrip(spark):
    level = 6
    df = spark.createDataFrame([(13, 27)], "gx long, gy long").select(
        cells.cell_id(F.col("gx"), F.col("gy"), level).alias("cell")
    )
    row = df.select(
        "cell",
        cells.parent_cell(F.col("cell")).alias("parent"),
        cells.children_cells(F.col("cell")).alias("children"),
        cells.cell_level(F.col("cell")).alias("level"),
    ).collect()[0]
    assert row["level"] == level
    # parent is the level-5 cell of (13>>1, 27>>1)
    assert row["parent"] == (1 << (2 * (level - 1))) | _py_morton(6, 13, level - 1)
    # each child's parent is the cell itself
    assert all(c >> 2 == row["cell"] for c in row["children"])
    assert len(set(row["children"])) == 4


def test_pip_two_tier_salting_row_identical(spark, sf_dir):
    """Two-tier salted PIP == broadcast PIP == always-salted PIP, on
    (a) the uniform synth data at every threshold regime (all-cold,
    mixed, all-hot) and (b) a PLANTED hot cell holding half the
    points — the skew case the hot tier exists for."""
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    want = sorted(
        joins.pip_join(pts, polys).select("image_id", "pid").collect())
    assert len(want) > 0
    for thr in (0, 180, 10**9):  # all-hot / mixed / all-cold
        got = sorted(
            joins.pip_join(pts, polys, salt=4, hot_threshold=thr)
            .select("image_id", "pid").collect())
        assert got == want, f"threshold {thr} diverged"

    # planted skew: half the probe points stacked on one world coord
    from pyspark.sql import functions as F
    hot_pt = pts.limit(1).select("wx", "wy").collect()[0]
    skewed = pts.withColumn(
        "wx", F.when(F.col("iid") % 2 == 0, F.lit(hot_pt["wx"]))
        .otherwise(F.col("wx"))
    ).withColumn(
        "wy", F.when(F.col("iid") % 2 == 0, F.lit(hot_pt["wy"]))
        .otherwise(F.col("wy")))
    want_s = sorted(
        joins.pip_join(skewed, polys).select("image_id", "pid").collect())
    got_s = sorted(
        joins.pip_join(skewed, polys, salt=4, hot_threshold=500)
        .select("image_id", "pid").collect())
    assert got_s == want_s and len(got_s) > 0


def test_pip_hot_threshold_without_salt_raises(spark, sf_dir):
    """hot_threshold with salt=None used to be silently ignored (the
    broadcast branch won) — now an explicit ValueError."""
    import pytest

    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    with pytest.raises(ValueError, match="hot_threshold requires salt"):
        joins.pip_join(pts, polys, hot_threshold=100)


def test_pip_hot_cell_census_cap_fails_loudly(spark, sf_dir,
                                              monkeypatch):
    """The hot-cell census is a bounded driver collect: a census past
    _HOT_CELL_CAP means hot_threshold is mis-set, and pip_join raises
    instead of collecting it.  At threshold 0 every occupied cell is
    hot, far more than 2."""
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    monkeypatch.setattr(joins, "_HOT_CELL_CAP", 2)
    with pytest.raises(ValueError,
                       match="hot-cell census exceeds 2 cells"):
        joins.pip_join(pts, polys, salt=4, hot_threshold=0)


def test_pip_cells_equals_pip_join(spark, sf_dir):
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    a = sorted(
        cells.pip_join_cells(pts, polys, 4, WORLD)
        .select("image_id", "pid").distinct().collect()
    )
    b = sorted(
        joins.pip_join(pts, polys).select("image_id", "pid").distinct().collect()
    )
    assert a == b
    assert len(a) > 0
