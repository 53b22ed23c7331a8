"""The batch point encoder (assemble._encode_point_batches) against
the sequential vtzero-order builder (tile.assemble_layer +
tile.build_tile), byte for byte, for every way Arrow may cut the
sorted input into batches — including cuts through a tile and tiles
larger than one encode chunk."""

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
_COLS = ["z", "x", "y", "layer_name", "feature_ordinal", "feature_id",
         "loc_x", "loc_y"]
_TYPES = [pa.int64()] * 3 + [pa.string()] + [pa.int64()] * 4


@st.composite
def _point_input(draw):
    """(rows sorted like the encode plan, prop_spec or None)."""
    chosen = draw(st.none() | st.lists(st.sampled_from(_PROPS), min_size=1,
                                       max_size=len(_PROPS), unique=True))
    tiles = draw(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 3),
                                    st.integers(0, 3)),
                          min_size=1, max_size=6, unique=True))
    rows = []
    for z, x, y in sorted(tiles):
        names = draw(st.lists(st.sampled_from(["a", "b", "roads", "é"]),
                              min_size=1, max_size=3, unique=True))
        for name in sorted(names, key=lambda s: s.encode("utf-8")):
            for ordinal in range(draw(st.integers(1, 12))):
                rows.append([z, x, y, name, ordinal,
                             draw(st.integers(-5, 2**63 - 1)),
                             draw(st.integers(-64, 4160)),
                             draw(st.integers(-64, 4160))]
                            + [draw(p[4]) for p in chosen or []])
    spec = [p[:3] for p in chosen] if chosen is not None else None
    schema = pa.schema(list(zip(_COLS, _TYPES))
                       + [(p[2], p[3]) for p in chosen or []])
    return rows, spec, schema


def _reference(rows, spec):
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
                cmds = np.array([9] + [((v << 1) ^ (v >> 63)) & 0xFFFFFFFF
                                       for v in r[6:8]], np.int64)
                props = [(k.encode("utf-8"), V.encode_value(vt, v))
                         for (k, vt, _), v in zip(spec or [], r[8:])]
                feats.append((r[5], G.GEOM_POINT, cmds, props))
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
@given(data=_point_input(), cuts=st.lists(st.integers(0, 200), max_size=6),
       chunk_rows=st.sampled_from([1, 7, 8192]))
def test_batch_encoder_matches_sequential_builder(data, cuts, chunk_rows):
    rows, spec, schema = data
    whole = pa.RecordBatch.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)
    bounds = [0] + sorted(c % (len(rows) + 1) for c in cuts) + [len(rows)]
    batches = [whole.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
    want_tiles, want_layers = _reference(rows, spec)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(assemble, "ENCODE_CHUNK_ROWS", chunk_rows)
        assert _encode(batches, spec, per_layer=False) == want_tiles
        assert _encode(batches, spec, per_layer=True) == want_layers


@pytest.mark.parametrize("col", ["feature_id", "loc_x", "loc_y",
                                 "layer_name", "fmt"])
@pytest.mark.parametrize("per_layer", [False, True])
def test_batch_encoder_rejects_nulls(col, per_layer):
    """A NULL id, coordinate, layer name or property value has no wire
    form here: the encoder names the column instead of emitting a
    wrapped id or failing on an index."""
    cols = {"z": [1, 1], "x": [0, 0], "y": [0, 0], "layer_name": ["L", "L"],
            "feature_ordinal": [0, 1], "feature_id": [1, 2],
            "loc_x": [5, 6], "loc_y": [5, 6], "fmt": ["png", "jpg"]}
    cols[col][1] = None
    bad = pa.RecordBatch.from_pydict(cols)
    spec = [("fmt", V.VT_STRING, "fmt")]
    with pytest.raises(ValueError, match=f"{col}.*non-null"):
        list(assemble._encode_point_batches(iter([bad]), spec, per_layer))


def test_point_encoders_reject_null_feature_id_and_value(spark):
    """encode_point_tiles / encode_point_layers surface the kernel's
    non-null error (same pin as the chunked hot-tile encode)."""
    schema = ("z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, loc_x long, "
              "loc_y long, fmt string")
    spec = [("fmt", V.VT_STRING, "fmt")]
    for row in [(1, 0, 0, "L", 1, None, 6, 6, "png"),
                (1, 0, 0, "L", 1, 2, 6, 6, None)]:
        feats = spark.createDataFrame(
            [(1, 0, 0, "L", 0, 1, 5, 5, "png"), row], schema)
        for enc in (assemble.encode_point_tiles, assemble.encode_point_layers):
            with pytest.raises(Exception, match="non-null"):
                enc(feats, prop_spec=spec).collect()


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
