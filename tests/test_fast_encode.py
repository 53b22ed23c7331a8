"""Vectorized point-layer encoder parity: encode_point_layers must be
byte-identical to the generic encode_layers (same dictionary order,
same field emission order) on the flagship feature set."""

from __future__ import annotations

import __spark_entry__ as entry

from pyspark.sql import functions as F

from vtzero_spark.engine import assemble

from scalar_reference import decode_tile_batch

# the generic (per-feature, props-array) encoder's input columns
_GENERIC_COLS = ["z", "x", "y", "layer_name", "feature_ordinal",
                 "feature_id", "geom_type", "loc_x", "loc_y", "props"]


def test_fast_point_encode_byte_parity(spark, sf_dir):
    feats = entry._features(spark, sf_dir)

    generic = assemble.encode_layers(feats.select(*_GENERIC_COLS)).select(
        "z", "x", "y", "layer_name", "layer_bytes").toPandas()

    fast = entry._encode_image_layers(feats).select(
        "z", "x", "y", "layer_name", "layer_bytes"
    ).toPandas()

    key = ["z", "x", "y", "layer_name"]
    g = generic.set_index(key)["layer_bytes"].map(bytes)
    f = fast.set_index(key)["layer_bytes"].map(bytes)
    assert len(g) == len(f) and len(g) > 0
    joined = g.to_frame("g").join(f.to_frame("f"), how="inner")
    assert len(joined) == len(g)
    mismatch = joined[joined["g"] != joined["f"]]
    assert mismatch.empty, f"{len(mismatch)} layers differ, e.g. {mismatch.index[0]}"


def test_fused_tile_encode_byte_parity(spark, sf_dir):
    feats = entry._features(spark, sf_dir)
    staged = assemble.encode_tiles(entry._encode_image_layers(feats)).select(
        "z", "x", "y", "num_layers", "tile_bytes"
    ).toPandas()
    fused = entry._encode_image_tiles(feats).select(
        "z", "x", "y", "num_layers", "tile_bytes"
    ).toPandas()
    key = ["z", "x", "y"]
    s = staged.set_index(key).sort_index()
    f = fused.set_index(key).sort_index()
    assert len(s) == len(f) and len(s) > 0
    assert (s["num_layers"] == f["num_layers"]).all()
    assert (s["tile_bytes"].map(bytes) == f["tile_bytes"].map(bytes)).all()


def test_arrow_tile_encode_byte_parity(spark, sf_dir):
    """encode_point_tiles_arrow (the batch point encoder) == the
    generic encode_tiles(encode_layers(...)) tile for tile."""
    feats = entry._features(spark, sf_dir)
    generic_tiles = assemble.encode_tiles(assemble.encode_layers(
        feats.select(*_GENERIC_COLS))) \
        .select("z", "x", "y", "num_layers", "tile_bytes").toPandas()
    arrow_tiles = assemble.encode_point_tiles_arrow(
        feats.select(*entry.POINT_COLS), prop_spec=entry.PROP_SPEC) \
        .select("z", "x", "y", "num_layers", "tile_bytes").toPandas()
    key = ["z", "x", "y"]
    p = generic_tiles.set_index(key).sort_index()
    a = arrow_tiles.set_index(key).sort_index()
    assert len(p) == len(a) and len(p) > 0
    assert (p["num_layers"] == a["num_layers"]).all()
    assert (p["tile_bytes"].map(bytes) == a["tile_bytes"].map(bytes)).all()


def test_fast_encode_tiles_decode_ok(spark, sf_dir):
    feats = entry._features(spark, sf_dir)
    tiles = assemble.encode_tiles(entry._encode_image_layers(feats))
    decoded = assemble.decode_tiles(tiles)
    bad = decoded.where(F.col("decode_status") != "ok").count()
    assert bad == 0
    assert decoded.count() > 0


def test_arrow_decode_matches_pandas_decode(spark, sf_dir):
    """decode_tiles_arrow == decode_tiles row-for-row, including
    malformed tiles surfacing as decode_status rows (the zero-copy
    geometry ListArray must carry identical command streams)."""
    feats = entry._features(spark, sf_dir).select(*entry.POINT_COLS)
    tiles = entry._encode_image_tiles(feats)
    # append one corrupt tile: errors must round through both paths
    bad = spark.createDataFrame(
        [(9, 9, 9, bytearray(b"\x1a\x05garb"))],
        "z long, x long, y long, tile_bytes binary")
    allt = tiles.select("z", "x", "y", "tile_bytes").unionByName(bad)
    key = ["z", "x", "y", "layer_ordinal", "feature_ordinal", "feature_id"]
    a = assemble.decode_tiles(allt).toPandas() \
        .sort_values(key).reset_index(drop=True)
    b = assemble.decode_tiles_arrow(allt).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert (a["decode_status"] != "ok").sum() >= 1
    for c in a.columns:
        if c == "geometry":
            assert all(
                (p is None and q is None)
                or (p is not None and q is not None and list(p) == list(q))
                for p, q in zip(a[c], b[c])), c
        else:
            assert (a[c].fillna(-1) == b[c].fillna(-1)).all(), c


def test_arrow_props_decode_matches_pandas_props_decode(spark, sf_dir):
    """decode_tiles_arrow(properties=True) (the columnar MapArray tag
    resolution, now the decode_tiles default) must equal the scalar
    pandas reference `decode_tile_batch(want_props=True)` map-for-map
    (layer.hpp:424-508 parity carried by both paths)."""
    feats = entry._features(spark, sf_dir)
    tiles = entry._encode_image_tiles(feats)
    key = ["z", "x", "y", "layer_ordinal", "feature_ordinal", "feature_id"]
    a = tiles.mapInPandas(
        lambda it: decode_tile_batch(it, want_props=True),
        schema=assemble.FEATURE_PROPS_SCHEMA).toPandas() \
        .sort_values(key).reset_index(drop=True)
    b = assemble.decode_tiles_arrow(tiles, properties=True).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert (a["decode_status"] == "ok").all()
    for pa_, pb in zip(a["properties"], b["properties"]):
        assert (pa_ is None) == (pb is None)
        if pa_ is None:
            continue
        assert set(pa_) == set(pb)
        for k in pa_:
            ca, cb = pa_[k], pb[k]
            for fld in ("vtype", "sval", "dval", "ival"):
                assert ca[fld] == cb[fld], (k, fld)


def _geom_tiles_reference(feats, prop_spec=None):
    """(z, x, y) -> (num_layers, tile bytes) built feature by feature
    from the collected rows by the sequential builder
    (tile.assemble_layer: layers by name, features by ordinal)."""
    import itertools

    import numpy as np

    from vtzero_spark.mvt import tile as T
    from vtzero_spark.mvt import values as V

    rows = sorted(feats.collect(), key=lambda r: (
        r["z"], r["x"], r["y"], r["layer_name"].encode("utf-8"),
        r["feature_ordinal"]))
    out = {}
    for zxy, trows in itertools.groupby(
            rows, key=lambda r: (r["z"], r["x"], r["y"])):
        blobs = [T.assemble_layer(name, [
            (r["feature_id"], r["geom_type"],
             np.array(r["geometry"] or [], np.int64),
             [(k.encode("utf-8"), V.encode_value(vt, r[c]))
              for k, vt, c in prop_spec or []])
            for r in lrows])
            for name, lrows in itertools.groupby(
                trows, key=lambda r: r["layer_name"])]
        out[zxy] = (len(blobs), T.build_tile(blobs))
    return out


def test_geom_tiles_arrow_matches_pandas(spark, sf_dir):
    """encode_geom_tiles (the batch Arrow encoder over command
    streams) must be byte-identical to the sequential builder fed the
    same rows — with and without a prop_spec, across rect and donut
    streams (mixed ring windings)."""
    from pyspark.sql import functions as F
    from vtzero_spark.engine import geomops, synth, tiling

    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=4, extent=4096, buffer=0)
    for feats in (geomops.rect_stream_features(assigned),
                  geomops.donut_stream_features(assigned)):
        a = _geom_tiles_reference(feats)
        b = {(r["z"], r["x"], r["y"]): (r["num_layers"], bytes(r["tile_bytes"]))
             for r in assemble.encode_geom_tiles(feats).collect()}
        assert a == b and len(a) > 0
    # prop_spec path (the join_attrs shape): region property rides
    f = geomops.rect_stream_features(assigned).withColumn(
        "region", F.concat(F.lit("R"), (F.col("feature_id") % 7).cast("string")))
    spec = [("region", 1, "region")]
    a = {k: v[1] for k, v in _geom_tiles_reference(f, spec).items()}
    b = {(r["z"], r["x"], r["y"]): bytes(r["tile_bytes"])
         for r in assemble.encode_geom_tiles(f, prop_spec=spec).collect()}
    assert a == b and len(a) > 0


def test_point_layers_match_generic_encode_layers(spark, sf_dir):
    """encode_point_layers (the batch point encoder, one row per layer)
    must be byte- and stats-identical to the generic encode_layers."""
    import __spark_entry__ as em

    f = em._features(spark, sf_dir)
    sel = f.select(*em.POINT_COLS)
    a = {(r["z"], r["x"], r["y"], r["layer_name"]):
         (r["num_features"], r["key_table_size"],
          r["value_table_size"], bytes(r["layer_bytes"]))
         for r in assemble.encode_layers(f.select(*_GENERIC_COLS)).collect()}
    b = {(r["z"], r["x"], r["y"], r["layer_name"]):
         (r["num_features"], r["key_table_size"],
          r["value_table_size"], bytes(r["layer_bytes"]))
         for r in assemble.encode_point_layers(
             sel, prop_spec=em.PROP_SPEC).collect()}
    assert a == b and len(a) > 0
