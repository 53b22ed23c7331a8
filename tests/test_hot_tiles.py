"""Chunked hot-tile encode: byte-identical to the single-group fused
encoder, including when chunks are tiny (maximal parallel split)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

from vtzero_spark.engine import assemble, geomops, synth, tiling
from vtzero_spark.engine.hot_tiles import (
    encode_geom_tiles_chunked, encode_point_tiles_chunked,
)
from vtzero_spark.engine.synth import EXTENT, ZOOM


@pytest.mark.parametrize("chunk_rows", [7, 100_000])
def test_chunked_encode_byte_parity(spark, sf_dir, chunk_rows):
    feats = entry._features(spark, sf_dir).select(*entry.POINT_COLS)
    single = assemble.encode_point_tiles(feats, prop_spec=entry.PROP_SPEC) \
        .select("z", "x", "y", "num_layers", "tile_bytes").toPandas()
    chunked = encode_point_tiles_chunked(feats, entry.PROP_SPEC,
                                         chunk_rows=chunk_rows) \
        .select("z", "x", "y", "num_layers", "tile_bytes").toPandas()
    key = ["z", "x", "y"]
    a = single.set_index(key).sort_index()
    b = chunked.set_index(key).sort_index()
    assert len(a) == len(b) and len(a) > 0
    assert (a["num_layers"] == b["num_layers"]).all()
    mismatch = a["tile_bytes"].map(bytes) != b["tile_bytes"].map(bytes)
    assert not mismatch.any(), f"{int(mismatch.sum())} tiles differ"


@pytest.mark.parametrize("ordinals", [
    "dense",      # 0..n-1 per layer
    "sparse",     # global ids spread across layers (the bench shape)
    "clustered",  # bursts with huge gaps — worst case for span math
])
def test_chunked_parity_under_ordinal_distributions(spark, ordinals):
    """Adaptive chunk spans must stay byte-identical to the
    single-group encoder for ANY monotone unique ordinal layout."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    for li, lname in enumerate(("L0", "L1")):
        n = 120
        if ordinals == "dense":
            ords = np.arange(n)
        elif ordinals == "sparse":
            ords = np.arange(n) * 997 + li
        else:
            gaps = np.where(np.arange(n) % 17 == 0, 100_003, 1)
            ords = np.cumsum(gaps) + li
        for i in range(n):
            rows.append((2, 1, 1, lname, int(ords[i]), int(ords[i]),
                         int(rng.randint(0, 4096)), int(rng.randint(0, 4096)),
                         int(rng.randint(0, 1 << 30)),
                         ["png", "jpeg"][i % 2], f"c{i % 9}"))
    feats = spark.createDataFrame(
        rows, "z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, loc_x long, "
              "loc_y long, phash long, fmt string, caption string")
    single = assemble.encode_point_tiles(feats, prop_spec=entry.PROP_SPEC) \
        .select("tile_bytes").toPandas()
    chunked = encode_point_tiles_chunked(feats, entry.PROP_SPEC,
                                         chunk_rows=13) \
        .select("tile_bytes").toPandas()
    assert len(single) == len(chunked) == 1
    assert bytes(single["tile_bytes"].iloc[0]) == \
        bytes(chunked["tile_bytes"].iloc[0])


@pytest.mark.parametrize("chunk_rows", [5, 100_000])
def test_chunked_geom_encode_byte_parity(spark, sf_dir, chunk_rows):
    """Skew-safe geometry-stream encode == single-group encoder, byte
    for byte (polygon command streams, no props)."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    feats = geomops.rect_stream_features(assigned)
    single = assemble.encode_geom_tiles(feats) \
        .select("z", "x", "y", "num_layers", "tile_bytes").toPandas()
    chunked = encode_geom_tiles_chunked(feats, chunk_rows=chunk_rows) \
        .select("z", "x", "y", "num_layers", "tile_bytes").toPandas()
    key = ["z", "x", "y"]
    a = single.set_index(key).sort_index()
    b = chunked.set_index(key).sort_index()
    assert len(a) == len(b) and len(a) > 0
    assert (a["num_layers"] == b["num_layers"]).all()
    mismatch = a["tile_bytes"].map(bytes) != b["tile_bytes"].map(bytes)
    assert not mismatch.any(), f"{int(mismatch.sum())} tiles differ"


def test_chunked_parity_float_double_props(spark):
    """7-type parity: a prop_spec carrying float and double values must
    encode byte-identically through the chunked path (fixed32/fixed64
    entries, types.hpp:141-186) — Spark's shortest-round-trip
    cast-to-string is the dictionary identity, so parsing it back must
    reproduce the exact wire bytes. A double column declared VT_FLOAT
    is keyed on its float32: 0.1 and 0.1 + 1e-12 are one entry, +0.0
    and -0.0 are two, as in the batch encoder."""
    import numpy as np

    from vtzero_spark.mvt import values as V

    rng = np.random.RandomState(11)
    rows = []
    for li, lname in enumerate(("L0", "L1")):
        for i in range(90):
            f32 = np.float32(rng.randn() * (10.0 ** rng.randint(-6, 7)))
            f64 = float(rng.randn() * (10.0 ** rng.randint(-12, 13)))
            rows.append((3, 2, 1, lname, i, i + li * 1000,
                         int(rng.randint(0, 4096)), int(rng.randint(0, 4096)),
                         float(f32), f64, f"s{i % 7}",
                         [0.1, 0.1 + 1e-12, 0.0, -0.0][i % 4]))
    feats = spark.createDataFrame(
        rows, "z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, loc_x long, "
              "loc_y long, fval float, dval double, sval string, "
              "dfval double")
    spec = [("f", V.VT_FLOAT, "fval"), ("d", V.VT_DOUBLE, "dval"),
            ("s", V.VT_STRING, "sval"), ("df", V.VT_FLOAT, "dfval")]
    single = assemble.encode_point_tiles(feats, prop_spec=spec) \
        .select("tile_bytes").toPandas()
    chunked = encode_point_tiles_chunked(feats, spec, chunk_rows=13) \
        .select("tile_bytes").toPandas()
    assert len(single) == len(chunked) == 1
    assert bytes(single["tile_bytes"].iloc[0]) == \
        bytes(chunked["tile_bytes"].iloc[0])


def test_chunked_null_prop_value_errors_loudly(spark):
    """A NULL in a prop_spec column must raise a clear error, not
    silently drop the feature from the chunked encode (the tag
    equi-join would never match NULL)."""
    feats = spark.createDataFrame(
        [(1, 0, 0, "L", 0, 1, 5, 5, "png"),
         (1, 0, 0, "L", 1, 2, 6, 6, None)],
        "z long, x long, y long, layer_name string, "
        "feature_ordinal long, feature_id long, loc_x long, "
        "loc_y long, fmt string")
    from vtzero_spark.mvt import values as V
    spec = [("fmt", V.VT_STRING, "fmt")]
    with pytest.raises(Exception, match="non-null"):
        encode_point_tiles_chunked(feats, spec, chunk_rows=10).collect()


@pytest.mark.parametrize("chunk_rows", [1, 100_000])
def test_chunked_null_feature_id_is_omitted(spark, chunk_rows):
    """A NULL feature_id is written without an id on both the chunked
    and the single-group path (not as id 2^63), and decodes as NULL."""
    from vtzero_spark.mvt import values as V

    rows = [(2, 1, 1, "L", i, None if i == 1 else 10 + i, 3,
             [9, 2 * i, 2 * i, 18, 4, 6, 3, 15], f"r{i % 2}")
            for i in range(3)]
    feats = spark.createDataFrame(
        rows, "z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, geom_type int, "
              "geometry array<long>, region string")
    spec = [("region", V.VT_STRING, "region")]
    single = assemble.encode_geom_tiles(feats, prop_spec=spec).collect()
    chunked = encode_geom_tiles_chunked(feats, spec,
                                        chunk_rows=chunk_rows).collect()
    assert len(single) == len(chunked) == 1
    assert (chunked[0]["num_layers"], bytes(chunked[0]["tile_bytes"])) == \
        (single[0]["num_layers"], bytes(single[0]["tile_bytes"]))
    ids = [r["feature_id"] for r in assemble.decode_tiles(
        spark.createDataFrame(chunked).select("z", "x", "y", "tile_bytes"))
        .orderBy("feature_ordinal").collect()]
    assert ids == [10, None, 12]
