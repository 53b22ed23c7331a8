"""The batch tile encoder (assemble._encode_point_batches) against
the sequential vtzero-order builder (tile.assemble_layer +
tile.build_tile), byte for byte, for every way Arrow may cut the
sorted input into batches — including cuts through a tile and tiles
larger than one encode chunk — on point rows (loc_x/loc_y) and on
pre-built command streams (geom_type + geometry)."""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vtzero_spark.engine import assemble
from vtzero_spark.mvt import geometry as G
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V

# (key, vtype, column, arrow type, value strategy); "s" and "s2" draw
# from one pool and "d"/"d2" both draw +-0.0, so equal values meet
# across columns and must share one value entry
_STRS = st.sampled_from(["", "png", "jpg", "a" * 130, "é✓"])
_ZEROS = st.sampled_from([0.0, -0.0, 1.5])
_PROPS = [
    ("s", V.VT_STRING, "s", pa.string(), _STRS),
    ("s2", V.VT_STRING, "s2", pa.string(), _STRS),
    ("i", V.VT_INT, "i", pa.int64(), st.integers(-2**63, 2**63 - 1)),
    ("u", V.VT_UINT, "u", pa.uint64(), st.integers(0, 2**64 - 1)),
    ("si", V.VT_SINT, "si", pa.int64(), st.integers(-300, 300)),
    ("b", V.VT_BOOL, "b", pa.bool_(), st.booleans()),
    ("f", V.VT_FLOAT, "f", pa.float32(),
     st.floats(width=32, allow_nan=False) | _ZEROS),
    ("d", V.VT_DOUBLE, "d", pa.float64(),
     st.floats(allow_nan=False) | _ZEROS),
    ("d2", V.VT_DOUBLE, "d2", pa.float64(), _ZEROS),
]
_KEY_COLS = [("z", pa.int64()), ("x", pa.int64()), ("y", pa.int64()),
             ("layer_name", pa.string()), ("feature_ordinal", pa.int64()),
             ("feature_id", pa.int64())]
_POINT_COLS = [("loc_x", pa.int64()), ("loc_y", pa.int64())]
_GEOM_COLS = [("geom_type", pa.int32()), ("geometry", pa.list_(pa.int64()))]
_STREAM = st.lists(st.integers(0, 2**32 - 1), max_size=20)


@st.composite
def _tile_input(draw):
    """(rows sorted like the encode plan, prop_spec or None, schema).
    A row is the key columns, then (loc_x, loc_y) or, for stream
    input, (geom_type, geometry), then the property values. Ids may
    be NULL; a layer may end in one NULL ordinal (the plan sorts it
    last) and, for stream input, in empty or NULL streams."""
    chosen = draw(st.none() | st.lists(st.sampled_from(_PROPS), min_size=1,
                                       max_size=len(_PROPS), unique=True))
    streams = draw(st.booleans())
    tiles = draw(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 3),
                                    st.integers(0, 3)),
                          min_size=1, max_size=6, unique=True))
    rows = []
    for z, x, y in sorted(tiles):
        names = draw(st.lists(st.sampled_from(["a", "b", "roads", "é"]),
                              min_size=1, max_size=3, unique=True))
        for name in sorted(names, key=lambda s: s.encode("utf-8")):
            n = draw(st.integers(1, 12))
            null_last = draw(st.booleans())
            empty_tail = draw(st.integers(0, 2)) if streams else 0
            for ordinal in range(n):
                if streams:
                    geom = ([] if ordinal >= n - empty_tail
                            else draw(st.none() | _STREAM))
                    shape = [draw(st.integers(1, 3)), geom]
                else:
                    shape = [draw(st.integers(-64, 4160)),
                             draw(st.integers(-64, 4160))]
                rows.append([z, x, y, name,
                             None if null_last and ordinal == n - 1
                             else ordinal,
                             draw(st.none() | st.integers(-5, 2**63 - 1))]
                            + shape + [draw(p[4]) for p in chosen or []])
    spec = [p[:3] for p in chosen] if chosen is not None else None
    schema = pa.schema(_KEY_COLS + (_GEOM_COLS if streams else _POINT_COLS)
                       + [(p[2], p[3]) for p in chosen or []])
    return rows, spec, schema


def _reference(rows, spec, streams):
    """(z, x, y) -> (num_layers, tile bytes) and (z, x, y, name) ->
    (num_features, keys, values, layer bytes) from the sequential
    builder."""
    tiles, layers = {}, {}
    for zxy, trows in itertools.groupby(rows, key=lambda r: tuple(r[:3])):
        blobs = []
        for name, lrows in itertools.groupby(trows, key=lambda r: r[3]):
            lrows = list(lrows)
            feats = []
            for r in lrows:
                if streams:
                    gtype, cmds = r[6], np.array(r[7] or [], np.int64)
                else:
                    gtype = G.GEOM_POINT
                    cmds = np.array([9] + [((v << 1) ^ (v >> 63)) & 0xFFFFFFFF
                                           for v in r[6:8]], np.int64)
                props = [(k.encode("utf-8"), V.encode_value(vt, v))
                         for (k, vt, _), v in zip(spec or [], r[8:])]
                feats.append((r[5], gtype, cmds, props))
            lb = T.assemble_layer(name, feats)
            parsed = T.parse_layer(lb, parse_features=False)
            layers[zxy + (name,)] = (len(lrows), len(parsed.keys),
                                     len(parsed.values), lb)
            blobs.append(lb)
        tiles[zxy] = (len(blobs), T.build_tile(blobs))
    return tiles, layers


def _encode(batches, spec, per_layer):
    out = {}
    for rb in assemble._encode_point_batches(iter(batches), spec, per_layer):
        for r in rb.to_pylist():
            if per_layer:
                out[(r["z"], r["x"], r["y"], r["layer_name"])] = (
                    r["num_features"], r["key_table_size"],
                    r["value_table_size"], r["layer_bytes"])
            else:
                out[(r["z"], r["x"], r["y"])] = (r["num_layers"],
                                                 r["tile_bytes"])
    return out


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=_tile_input(), cuts=st.lists(st.integers(0, 200), max_size=6),
       chunk_rows=st.sampled_from([1, 7, 8192]))
def test_batch_encoder_matches_sequential_builder(data, cuts, chunk_rows):
    rows, spec, schema = data
    whole = pa.RecordBatch.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)
    bounds = [0] + sorted(c % (len(rows) + 1) for c in cuts) + [len(rows)]
    batches = [whole.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
    want_tiles, want_layers = _reference(rows, spec,
                                         "geometry" in schema.names)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(assemble, "ENCODE_CHUNK_ROWS", chunk_rows)
        assert _encode(batches, spec, per_layer=False) == want_tiles
        assert _encode(batches, spec, per_layer=True) == want_layers


@pytest.mark.parametrize("col", ["geom_type", "loc_x", "loc_y",
                                 "layer_name", "fmt"])
@pytest.mark.parametrize("per_layer", [False, True])
def test_batch_encoder_rejects_nulls(col, per_layer):
    """A NULL coordinate, geometry type, layer name or property value
    has no wire form here: the encoder names the column instead of
    failing on an index."""
    cols = {"z": [1, 1], "x": [0, 0], "y": [0, 0], "layer_name": ["L", "L"],
            "feature_ordinal": [0, 1], "feature_id": [1, 2],
            "loc_x": [5, 6], "loc_y": [5, 6], "fmt": ["png", "jpg"]}
    if col == "geom_type":
        del cols["loc_x"], cols["loc_y"]
        cols["geom_type"] = [1, 1]
        cols["geometry"] = [[9, 10, 10], [9, 12, 12]]
    cols[col][1] = None
    bad = pa.RecordBatch.from_pydict(cols)
    spec = [("fmt", V.VT_STRING, "fmt")]
    with pytest.raises(ValueError, match=f"{col}.*non-null"):
        list(assemble._encode_point_batches(iter([bad]), spec, per_layer))


_NULLS_SCHEMA = ("z long, x long, y long, layer_name string, "
                 "feature_ordinal long, feature_id long, geom_type int, "
                 "loc_x long, loc_y long, fmt string")


def test_point_encoders_reject_null_value_and_omit_null_id(spark):
    """encode_point_tiles / encode_point_layers surface the kernel's
    non-null error for a property value (same pin as the chunked
    hot-tile encode); a NULL feature_id is no error: the feature is
    written without an id and decodes with a NULL id."""
    spec = [("fmt", V.VT_STRING, "fmt")]
    first = (1, 0, 0, "L", 0, 1, 1, 5, 5, "png")
    feats = spark.createDataFrame(
        [first, (1, 0, 0, "L", 1, 2, 1, 6, 6, None)], _NULLS_SCHEMA)
    for enc in (assemble.encode_point_tiles, assemble.encode_point_layers):
        with pytest.raises(Exception, match="non-null"):
            enc(feats, prop_spec=spec).collect()
    feats = spark.createDataFrame(
        [first, (1, 0, 0, "L", 1, None, 1, 6, 6, "jpg")], _NULLS_SCHEMA)
    ids = [r["feature_id"] for r in assemble.decode_tiles(
        assemble.encode_point_tiles(feats, prop_spec=spec))
        .orderBy("feature_ordinal").collect()]
    assert ids == [1, None]
    [layer] = assemble.encode_point_layers(feats, prop_spec=spec).collect()
    views = [v for f, _, v in T.scan_fields(bytes(layer["layer_bytes"]))
             if f == T.LAYER_FEATURES]
    assert [T.parse_feature(v).id for v in views] == [1, None]


def test_null_ids_and_ordinals_match_encode_layers(spark):
    """NULL ids and a NULL ordinal give encode_layers' bytes: the id
    field is left out and the NULL ordinal sorts last in its layer
    (encode_layers' pandas sort), not first (Spark's ascending
    default)."""
    rows = [(1, 0, 0, "L", o, fid, 1, 10 * i, 7 * i, "png")
            for i, (o, fid) in enumerate([(2, 7), (None, None), (0, 5),
                                          (1, None)])]
    rows.append((1, 0, 0, "M", None, 9, 1, 3, 3, "jpg"))
    feats = spark.createDataFrame(rows, _NULLS_SCHEMA)
    generic = assemble.encode_layers(feats.drop("fmt"))
    want_layers = {(r["layer_name"], r["num_features"], bytes(r["layer_bytes"]))
                   for r in generic.collect()}
    got_layers = {(r["layer_name"], r["num_features"], bytes(r["layer_bytes"]))
                  for r in assemble.encode_point_layers(feats).collect()}
    assert got_layers == want_layers and len(want_layers) == 2
    [want] = assemble.encode_tiles(generic).collect()
    [got] = assemble.encode_point_tiles(feats).collect()
    assert (got["num_layers"], bytes(got["tile_bytes"])) == \
        (want["num_layers"], bytes(want["tile_bytes"]))


def test_point_tiles_straddling_arrow_batches_match_generic(spark, sf_dir):
    """With tiny Arrow batches every tile straddles batch boundaries;
    the tiles still equal the generic encode_tiles(encode_layers(...))."""
    import __spark_entry__ as entry

    feats = entry._features(spark, sf_dir)
    generic = {(r["z"], r["x"], r["y"]): (r["num_layers"], bytes(r["tile_bytes"]))
               for r in assemble.encode_tiles(assemble.encode_layers(
                   feats.select("z", "x", "y", "layer_name", "feature_ordinal",
                                "feature_id", "geom_type", "loc_x", "loc_y",
                                "props"))).collect()}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        batch = {(r["z"], r["x"], r["y"]): (r["num_layers"], bytes(r["tile_bytes"]))
                 for r in assemble.encode_point_tiles(
                     feats.select(*entry.POINT_COLS),
                     prop_spec=entry.PROP_SPEC).collect()}
    finally:
        spark.conf.set(key, old)
    assert batch == generic and len(batch) > 0
