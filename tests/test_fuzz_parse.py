"""Parser crash-safety fuzz: byte-mutated tiles must either parse or
raise MVTError — never any other exception (the distributed decode
turns MVTError into decode_status rows; anything else would kill a
task at scale). Mirrors the reference's DoS-guard posture
(fixture cases 051/057/058, geometry.hpp count guards)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from vtzero_spark.mvt import geometry as G
from vtzero_spark.mvt import pbf
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V
from vtzero_spark.mvt.errors import MVTError

from scalar_reference import decode_tile_batch


def _base_tile() -> bytes:
    feats = [
        pbf.varint_field(T.FEATURE_ID, 7)
        + pbf.len_field(T.FEATURE_TAGS, pbf.encode_varint_array(
            np.array([0, 0], dtype=np.uint64)))
        + pbf.varint_field(T.FEATURE_TYPE, 1)
        + pbf.len_field(T.FEATURE_GEOMETRY, pbf.encode_varint_array(
            np.array([9, 50, 34], dtype=np.uint64)))
    ]
    layer = (
        pbf.varint_field(T.LAYER_VERSION, 2)
        + pbf.len_field(T.LAYER_NAME, b"hello")
        + pbf.varint_field(T.LAYER_EXTENT, 4096)
        + b"".join(pbf.len_field(T.LAYER_FEATURES, f) for f in feats)
        + pbf.len_field(T.LAYER_KEYS, b"key1")
        + pbf.len_field(T.LAYER_VALUES, V.encode_value(V.VT_STRING, "v"))
    )
    return pbf.len_field(T.TILE_LAYERS, layer)


BASE = _base_tile()


def _exercise(buf: bytes) -> None:
    """Full read path; only MVTError may escape."""
    try:
        for lv in T.tile_layer_views(buf):
            layer = T.parse_layer(lv)
            for f in layer.features:
                layer.properties(f)
                try:
                    G.decode_geometry(f.geom_type, f.geometry, f.geometry_nbytes)
                except MVTError:
                    pass
            for v in layer.values:
                try:
                    V.decode_value(v)
                except MVTError:
                    pass
    except MVTError:
        pass


@settings(max_examples=400, deadline=None)
@given(st.lists(st.tuples(st.integers(0, len(BASE) - 1), st.integers(0, 255)),
                min_size=1, max_size=8))
def test_mutated_tiles_never_crash(mutations):
    buf = bytearray(BASE)
    for pos, val in mutations:
        buf[pos] = val
    _exercise(bytes(buf))


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_random_bytes_never_crash(buf):
    _exercise(buf)


@settings(max_examples=200, deadline=None)
@given(st.integers(0, len(BASE) - 1), st.integers(1, len(BASE)))
def test_truncations_never_crash(start, length):
    _exercise(BASE[start:start + length])


def _exercise_distributed(buf: bytes) -> None:
    """The batch decoders (plain, properties=True; the engine's and the
    scalar reference) must NEVER raise on malformed bytes — errors
    become rows."""
    import pandas as pd

    from vtzero_spark.engine import assemble

    import pyarrow as pa

    pdf = pd.DataFrame({"z": [0], "x": [0], "y": [0],
                        "tile_bytes": [buf]})
    for want_props in (False, True):
        out = list(decode_tile_batch(iter([pdf]), want_props))
        assert len(out) == 1
        assert "decode_status" in out[0].columns
    rb = pa.RecordBatch.from_pydict(
        {"z": [0], "x": [0], "y": [0], "tile_bytes": [buf]})
    for want_props in (False, True):
        for ob in assemble._decode_tile_batches_arrow(iter([rb]), want_props):
            assert "decode_status" in ob.schema.names


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, len(BASE) - 1), st.integers(0, 255)),
                min_size=1, max_size=8))
def test_mutated_tiles_never_crash_distributed_decode(mutations):
    buf = bytearray(BASE)
    for pos, val in mutations:
        buf[pos] = val
    _exercise_distributed(bytes(buf))


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200))
def test_random_bytes_never_crash_distributed_decode(buf):
    _exercise_distributed(buf)


def test_non_utf8_layer_name_preserved():
    """vtzero hands out the raw name bytes (data_view, no validation);
    our parse must round-trip arbitrary name bytes losslessly."""
    raw = b"he\xffllo"
    layer = (
        pbf.varint_field(T.LAYER_VERSION, 2)
        + pbf.len_field(T.LAYER_NAME, raw)
    )
    buf = pbf.len_field(T.TILE_LAYERS, layer)
    name = T.parse_tile(buf)[0].name
    assert name.encode("utf-8", errors="surrogateescape") == raw
    assert T.layer_name_only(T.tile_layer_views(buf)[0]) == name


def test_base_tile_is_valid():
    ly = T.parse_tile(BASE)[0]
    assert ly.name == "hello" and len(ly.features) == 1
    parts, _ = G.decode_geometry(1, ly.features[0].geometry)
    assert parts[0].tolist() == [[25, 17]]
