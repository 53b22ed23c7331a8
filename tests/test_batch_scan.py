"""Batch-columnar tile scan (mvt/tile.scan_tile_batch) and what it is
built on: the one-byte fast paths of pbf.scan_fields and
values.decode_value against their plain walks, tile.parse_layer's
inline field walk against the scan_fields walk, values.decode_values
against decode_value entry by entry, parse_features_block against
parse_feature feature by feature, and the decode built on the scan
against the scalar reference decoder (scalar_reference.py), across
scan-chunk boundaries."""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vtzero_spark.engine import assemble
from vtzero_spark.mvt import pbf
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V
from vtzero_spark.mvt.errors import FormatError, MVTError

from scalar_reference import decode_tile_batch, parse_layer as parse_layer_ref
from test_mvt_fixtures import POINT_25_17, feat, layer, tile
import scalar_reference as SR


# ------------------------------------------------- plain reference walks

def _scan_fields_ref(buf):
    """The field walk without fast paths: every key, varint and length
    through decode_varint."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = pbf.decode_varint(buf, pos)
        field = key >> 3
        wire = key & 0x7
        if field == 0:
            raise FormatError("invalid field number 0")
        if wire == pbf.WT_VARINT:
            value, pos = pbf.decode_varint(buf, pos)
        elif wire == pbf.WT_LEN:
            ln, pos = pbf.decode_varint(buf, pos)
            if pos + ln > n:
                raise FormatError("truncated length-delimited field")
            value = buf[pos:pos + ln]
            pos += ln
        elif wire == pbf.WT_FIXED64:
            if pos + 8 > n:
                raise FormatError("truncated fixed64 field")
            value = buf[pos:pos + 8]
            pos += 8
        elif wire == pbf.WT_FIXED32:
            if pos + 4 > n:
                raise FormatError("truncated fixed32 field")
            value = buf[pos:pos + 4]
            pos += 4
        else:
            raise FormatError(f"unsupported wire type {wire}")
        yield field, wire, value


def _walk(gen):
    out = []
    try:
        for item in gen:
            out.append((item[0], item[1], bytes(item[2])
                        if isinstance(item[2], memoryview) else item[2]))
    except FormatError as e:
        return out, str(e)
    return out, None


_WALK_CASES = [
    b"", b"\x08", b"\x08\x80", b"\x08\x96\x01", b"\x80", b"\x80\x01",
    b"\x80" * 11 + b"\x01",                     # overlong key
    b"\x08" + b"\xff" * 10 + b"\x01",           # overlong varint value
    b"\x0a" + b"\xff" * 11,                     # overlong length
    b"\x00\x01", b"\x02\x01", b"\x80\x00",      # field 0
    b"\x0a\x05ab", b"\x0a\x80\x01" + b"a" * 128, b"\x0a\x80",
    b"\x0d\x01\x02", b"\x0d\x01\x02\x03\x04", b"\x09" + b"\x00" * 7,
    b"\x0b", b"\x0c", b"\x0e", b"\x0f",         # unsupported wire types
    b"\x78\x01\x82\x01\x00",                    # 2-byte key (field 16)
]


@pytest.mark.parametrize("buf", _WALK_CASES)
def test_scan_fields_matches_plain_walk(buf):
    assert _walk(pbf.scan_fields(buf)) == _walk(_scan_fields_ref(buf))
    mv = memoryview(buf)
    assert _walk(pbf.scan_fields(mv)) == _walk(_scan_fields_ref(mv))


@settings(max_examples=400, deadline=None)
@given(st.binary(max_size=64))
def test_scan_fields_matches_plain_walk_fuzz(buf):
    assert _walk(pbf.scan_fields(buf)) == _walk(_scan_fields_ref(buf))


def _decode_value_ref(data):
    tag = V.value_type(data)
    _, pos = pbf.decode_varint(data, 0)
    if tag == V.VT_STRING:
        ln, pos = pbf.decode_varint(data, pos)
        if pos + ln > len(data):
            raise FormatError("truncated string value")
        return tag, data[pos:pos + ln].decode("utf-8", "surrogateescape")
    return V.decode_value(data)


@settings(max_examples=300, deadline=None)
@given(st.one_of(
    st.binary(max_size=20),
    st.text(max_size=200).map(lambda s: V.encode_value(V.VT_STRING, s)),
    st.binary(max_size=150).map(lambda b: b"\x0a" + pbf.encode_varint(
        len(b) + 1) + b)))
def test_decode_value_matches_plain_walk(data):
    def run(fn):
        try:
            return fn(data)
        except MVTError as e:
            return type(e).__name__, str(e)
    assert run(V.decode_value) == run(_decode_value_ref)


# ---------------------------------------------- columnar value decode

_ENTRY_BY_TYPE = st.one_of(
    st.text(max_size=40).map(lambda v: V.encode_value(V.VT_STRING, v)),
    st.text(min_size=120, max_size=160).map(       # 2-byte length
        lambda v: V.encode_value(V.VT_STRING, v)),
    st.floats(width=32).map(lambda v: V.encode_value(V.VT_FLOAT, v)),
    st.floats().map(lambda v: V.encode_value(V.VT_DOUBLE, v)),
    st.integers(-2**63, 2**63 - 1).map(lambda v: V.encode_value(V.VT_INT, v)),
    st.integers(0, 2**64 - 1).map(lambda v: V.encode_value(V.VT_UINT, v)),
    st.integers(-2**63, 2**63 - 1).map(lambda v: V.encode_value(V.VT_SINT, v)),
    st.booleans().map(lambda v: V.encode_value(V.VT_BOOL, v)),
    st.integers(0, 2**64 - 1).map(                 # bool holding any varint
        lambda v: b"\x38" + pbf.encode_varint(v)),
)


def _two_byte_key(e: bytes) -> bytes:
    """The same entry with its key as a two-byte (non-minimal) varint."""
    return bytes([e[0] | 0x80, 0]) + e[1:] if e else e


_VALUE_ENTRY = st.one_of(
    _ENTRY_BY_TYPE,
    _ENTRY_BY_TYPE.map(_two_byte_key),
    st.tuples(_ENTRY_BY_TYPE, st.integers(1, 12)).map(     # truncated
        lambda t: t[0][:-t[1]]),
    st.tuples(_ENTRY_BY_TYPE, st.binary(min_size=1, max_size=6)).map(
        lambda t: t[0] + t[1]),                             # overlong
    st.binary(max_size=8).map(                              # invalid UTF-8
        lambda b: b"\x0a" + pbf.encode_varint(len(b)) + b),
    st.sampled_from([b"", b"\x20" + b"\xff" * 10 + b"\x01",
                     b"\x0a" + b"\xff" * 10 + b"\x01", b"\x0a\x80",
                     b"\x48\x01", b"\x38", b"\x15\x01\x02\x03"]),
    st.binary(max_size=12),
)


def _f64_bits(v: float) -> bytes:
    return struct.pack("<d", v)


def _check_decode_values(entries):
    """Entry by entry, decode_values holds what decode_value returns
    (uint wrapped to int64, bool as 0/1, float widened, invalid UTF-8
    as U+FFFD), or the same error class and message."""
    cols = V.decode_values(entries)
    sval = cols.sval.to_pylist()
    assert cols.vtype.size == len(sval) == len(entries)
    for i, e in enumerate(entries):
        try:
            tag, pv = V.decode_value(e)
        except MVTError as err:
            got = cols.errors[i]
            assert (type(got), str(got)) == (type(err), str(err))
            assert cols.vtype[i] == 0 and sval[i] is None
            continue
        assert i not in cols.errors
        assert cols.vtype[i] == tag
        if tag == V.VT_STRING:
            assert sval[i] == pv.encode("utf-8", "surrogateescape").decode(
                "utf-8", "replace")
            continue
        assert sval[i] is None
        if tag in (V.VT_FLOAT, V.VT_DOUBLE):
            assert _f64_bits(cols.dval[i]) == _f64_bits(pv)
        else:
            iv = int(pv)
            assert cols.ival[i] == (iv - 2**64 if iv >= 2**63 else iv)


@settings(max_examples=300, deadline=None)
@given(st.lists(_VALUE_ENTRY, max_size=24))
def test_decode_values_matches_decode_value(entries):
    _check_decode_values(entries)


_VALUE_SAMPLES = [
    V.encode_value(V.VT_STRING, "héllo"), V.encode_value(V.VT_STRING, "x" * 200),
    V.encode_value(V.VT_FLOAT, 3.1), V.encode_value(V.VT_DOUBLE, -1.23),
    V.encode_value(V.VT_INT, -5), V.encode_value(V.VT_UINT, 2**64 - 1),
    V.encode_value(V.VT_SINT, -87948), b"\x38\x02",
]


def test_decode_values_matches_decode_value_on_every_prefix():
    """Every prefix of every type's entry, in one list (so an entry read
    past its end would read its neighbour), also under a two-byte key
    and with a trailing byte."""
    entries = [e[:k] for e in _VALUE_SAMPLES for k in range(len(e) + 1)]
    entries += [_two_byte_key(e) for e in entries] + \
        [e + b"\x01" for e in _VALUE_SAMPLES]
    _check_decode_values(entries)


# ------------------------------------------------------- layer field walk

_FEATURE_7 = T.build_feature(7, 1, POINT_25_17)
_LAYER_BASE = (       # the last feature sits under a two-byte key
    layer(name=b"roads", feats=[
        T.build_feature(1, 2, [9, 0, 0, 10, 2, 2], [0, 0, 1, 1]),
        T.build_feature(None, 1, POINT_25_17, [1, 0])],
        keys=[b"k", b"j" * 130], values=[
            V.encode_value(V.VT_STRING, "v"),
            V.encode_value(V.VT_DOUBLE, 2.5)])
    + b"\x92\x00" + pbf.encode_varint(len(_FEATURE_7)) + _FEATURE_7
    + pbf.varint_field(T.LAYER_EXTENT, 300))


def _walk_outcome(parse, buf: bytes, features: bool):
    try:
        ly = parse(buf, parse_features=features)
    except MVTError as e:
        return type(e).__name__, str(e)
    if features:
        body = [(f.id, f.geom_type, f.geometry.tolist(), f.geometry_nbytes,
                 f.tags.tolist()) for f in ly.features]
    else:
        body = [bytes(v) for v in ly.feature_views]
    return (ly.name, ly.version, ly.extent, [bytes(k) for k in ly.keys],
            [bytes(v) for v in ly.values], body)


def _mutate(buf: bytes, muts) -> bytearray:
    out = bytearray(buf)
    for pos, val in muts:
        out[pos] = val
    return out


_LAYER_BUF = st.one_of(
    st.lists(st.tuples(st.integers(0, len(_LAYER_BASE) - 1),
                       st.integers(0, 255)), min_size=1, max_size=6).map(
        lambda muts: bytes(_mutate(_LAYER_BASE, muts))),
    st.tuples(st.integers(0, len(_LAYER_BASE)),
              st.integers(0, len(_LAYER_BASE))).map(
        lambda t: _LAYER_BASE[t[0]:t[0] + t[1]]),
    st.binary(max_size=40),
)


@pytest.mark.parametrize("buf", [_LAYER_BASE] + _WALK_CASES + [
    b"\x0a\x01a\x78\x03",                       # version 3
    b"\x0a\x01a" + SR.fixed32_field(9, b"abcd"),  # unknown fixed32
    b"\x0a\x01a\x79" + b"\x00" * 7,               # version as fixed64
    b"\x0a\x01a\x3a\x05ab",                       # truncated unknown field
    b"\xf8\x00\x01\x8a\x80\x00\x01a",             # multi-byte known keys
])
def test_parse_layer_matches_scan_fields_walk(buf):
    for features in (False, True):
        assert _walk_outcome(T.parse_layer, buf, features) == \
            _walk_outcome(parse_layer_ref, buf, features)


@settings(max_examples=400, deadline=None)
@given(_LAYER_BUF)
def test_parse_layer_matches_scan_fields_walk_fuzz(buf):
    """Mutated, truncated and random layers: the inline walk gives the
    scan_fields walk's layer, or its exception class and message."""
    for features in (False, True):
        assert _walk_outcome(T.parse_layer, buf, features) == \
            _walk_outcome(parse_layer_ref, buf, features)


# -------------------------------------------------- columnar feature parse

_FEATURE = st.builds(
    lambda std, fid, gt, geom, tags, extra: (
        T.build_feature(fid, gt, geom, tags) + extra
        if std and gt is not None and geom else
        feat(fid=fid, gtype=gt, geom=geom, tags=tags, extra=extra)),
    st.booleans(),
    st.one_of(st.none(), st.integers(0, 2**64 - 1)),
    st.one_of(st.none(), st.integers(0, 5)),
    st.one_of(st.none(), st.lists(st.integers(0, 2**40), max_size=6)),
    st.one_of(st.none(), st.lists(st.integers(0, 300), max_size=6)),
    st.sampled_from([b"", SR.fixed32_field(9, b"abcd"),
                     pbf.varint_field(8, 3), b"\x80"]),
)


def _row(blk, i):
    g = blk["gflat"][blk["goff"][i]:blk["goff"][i + 1]]
    t = blk["tflat"][blk["toff"][i]:blk["toff"][i + 1]]
    return (int(blk["ids"][i]) if blk["has_id"][i] else None,
            int(blk["gtypes"][i]), g.tolist(), int(blk["gnb"][i]),
            t.tolist())


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(_FEATURE, st.binary(max_size=12)), max_size=8))
def test_features_block_matches_parse_feature(views):
    """A feature the block accepts parses to the same values one by
    one, whatever its neighbours hold; a feature parse_feature rejects
    is never accepted."""
    blk = T.parse_features_block(views)
    assert blk["ok"].size == len(views)
    for i, v in enumerate(views):
        try:
            f = T.parse_feature(v)
        except MVTError:
            assert not blk["ok"][i]
            continue
        if blk["ok"][i]:
            assert _row(blk, i) == (f.id, f.geom_type, f.geometry.tolist(),
                                    f.geometry_nbytes, f.tags.tolist())


def test_features_block_isolates_a_truncated_feature():
    good = T.build_feature(3, 1, POINT_25_17, [0, 0])
    trunc = good[:-1] + b"\x80"       # last varint runs off the end
    blk = T.parse_features_block([good, trunc, good])
    assert blk["ok"].tolist() == [True, False, True]
    assert _row(blk, 2) == (3, 1, POINT_25_17, 3, [0, 0])


# ---------------------------------------------------------- tile scan

V_STR = V.encode_value(V.VT_STRING, "v")


def _fixture_038() -> bytes:
    """All value types plus an illegal one (tag 9): only the feature
    that references it is bad."""
    vals = [V.encode_value(V.VT_STRING, "ello"),
            V.encode_value(V.VT_BOOL, True), V.encode_value(V.VT_INT, 6),
            V.encode_value(V.VT_DOUBLE, 1.23),
            V.encode_value(V.VT_FLOAT, 3.1),
            V.encode_value(V.VT_SINT, -87948),
            V.encode_value(V.VT_UINT, 87948), pbf.varint_field(9, 1)]
    feats = [T.build_feature(i, 1, POINT_25_17, [0, i])
             for i in range(len(vals))]
    return tile(layer(feats=feats, keys=[b"k"], values=vals))


def _fixture_040() -> bytes:
    return tile(layer(
        feats=[T.build_feature(1, 1, POINT_25_17, [1, 0]),
               T.build_feature(2, 1, POINT_25_17, [0, 0])],
        keys=[b"key1"], values=[V_STR]))


def _fixture_042() -> bytes:
    return tile(layer(
        feats=[T.build_feature(1, 1, POINT_25_17, [0, 1])],
        keys=[b"key1"], values=[V_STR]))


def _mixed_tiles() -> list[bytes]:
    ok = tile(
        layer(name=b"a", feats=[
            T.build_feature(i, 1, [9, 2 * i, 4], [0, i % 2, 1, 0])
            for i in range(5)],
            keys=[b"k", b"j"], values=[V_STR, V.encode_value(V.VT_INT, 7)]),
        layer(name=b"b", version=1, extent=512, feats=[
            T.build_feature(None, 2, [9, 0, 0, 10, 2, 2, 4, 4])]))
    deviant = tile(layer(name=b"d", feats=[
        T.build_feature(1, 1, POINT_25_17, [0, 0])
        + SR.fixed32_field(9, b"abcd"),
        T.build_feature(2, 1, POINT_25_17)],
        keys=[b"k"], values=[V_STR]))
    bad_layer = tile(
        layer(name=b"ok", feats=[T.build_feature(5, 3, POINT_25_17)]),
        layer(name=b"bad", feats=[feat(fid=6, gtype=9, geom=POINT_25_17)]),
        layer(name=b"v3", version=3))
    return [ok, _fixture_038(), b"\x1a\x05garb", _fixture_040(), b"",
            deviant, _fixture_042(), bad_layer, ok]


def test_scan_tile_batch_layer_table():
    s = T.scan_tile_batch(_mixed_tiles())
    assert [e is not None for e in s.tile_err] == [
        False, False, True, False, False, False, False, False, False]
    names = list(zip(s.tile.tolist(), s.ordinal.tolist(), s.name))
    assert names[:2] == [(0, 0, "a"), (0, 1, "b")]
    assert (s.version[1], s.extent[1]) == (1, 512)
    # the bad layers of the last-but-one tile keep their errors and
    # hold no features; the tile's good layer does
    errs = {(t, o): type(e).__name__ for t, o, e
            in zip(s.tile.tolist(), s.ordinal.tolist(), s.err) if e}
    assert errs == {(7, 1): "FormatError", (7, 2): "VersionError"}
    nfeat = np.diff(s.foff)
    assert nfeat[[li for li, e in enumerate(s.err) if e]].sum() == 0
    assert s.features["layer"].size == nfeat.sum()
    # the deviant layer came back through parse_feature
    d = s.name.index("d")
    a = s.foff[d]
    assert s.features["ids"][a:a + 2].tolist() == [1, 2]
    assert s.features["has_id"][a:a + 2].tolist() == [True, True]


def test_scan_tile_batch_layer_selector():
    bufs = _mixed_tiles()
    by_name = T.scan_tile_batch(bufs, "bad")
    assert by_name.name == ["bad"] and by_name.tile.tolist() == [7]
    assert by_name.err[0] is not None
    by_ord = T.scan_tile_batch(bufs, "1")
    assert list(zip(by_ord.tile.tolist(), by_ord.name)) == [
        (0, "b"), (7, "bad"), (8, "b")]


def test_scan_chunks_split_by_bytes(monkeypatch):
    monkeypatch.setattr(T, "SCAN_CHUNK_BYTES", 10)
    assert list(T.scan_chunks([4, 4, 4, 30, 1, 0, 9])) == [
        (0, 2), (2, 3), (3, 4), (4, 7)]
    assert list(T.scan_chunks([])) == []


# ------------------------------------------------ decode on the scan

def _batch(bufs) -> pa.RecordBatch:
    n = len(bufs)
    return pa.RecordBatch.from_pydict({
        "z": [7] * n, "x": list(range(n)), "y": [3] * n, "tile_bytes": bufs})


def test_decode_chunk_boundaries_change_nothing(monkeypatch):
    rb = _batch(_mixed_tiles() * 3)
    for props in (False, True):
        whole = pa.Table.from_batches(list(
            assemble._decode_tile_batches_arrow(iter([rb]), props)))
        monkeypatch.setattr(T, "SCAN_CHUNK_BYTES", 300)
        assert len(list(T.scan_chunks([len(b) for b in _mixed_tiles()]))) > 2
        chunked = pa.Table.from_batches(list(
            assemble._decode_tile_batches_arrow(iter([rb]), props)))
        monkeypatch.undo()
        assert whole.num_rows > 0
        assert chunked.equals(whole)


def _utf8(v):
    return (v.encode("utf-8", "surrogateescape").decode("utf-8", "replace")
            if isinstance(v, str) else v)


def _cell(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, np.generic):
        return v.item()
    return _utf8(v)


def _row_key(r: dict) -> tuple:
    return (int(r["x"]), int(r["layer_ordinal"]), int(r["feature_ordinal"]))


def _local_rows(bufs) -> tuple[list, list]:
    """(engine rows, reference rows) of decode(properties=True) over one
    batch, in one comparable form, sorted by (tile, layer, feature)."""
    import pandas as pd

    got = [r for b in assemble._decode_tile_batches_arrow(
        iter([_batch(bufs)]), True) for r in b.to_pylist()]
    n = len(bufs)
    pdf = pd.DataFrame({"z": [7] * n, "x": range(n), "y": [3] * n,
                        "tile_bytes": bufs})
    want = [r for out in decode_tile_batch(iter([pdf]), True)
            for r in out.to_dict("records")]

    def form(r, props):
        plain = {k: (list(map(int, v)) if k == "geometry" and v is not None
                     else _cell(v))
                 for k, v in r.items() if k != "properties"}
        return plain, props

    got = [form(r, None if r["properties"] is None else [
        (k, tuple(_cell(v[f]) for f in ("vtype", "sval", "dval", "ival")))
        for k, v in r["properties"]]) for r in got]
    # the map column carries int64: a uint >= 2**63 wraps
    want = [form(r, None if r["properties"] is None else [
        (_utf8(k), (v["vtype"], _utf8(v["sval"]), _cell(v["dval"]),
                    None if v["ival"] is None
                    else int(np.uint64(v["ival"]).astype(np.int64))))
        for k, v in r["properties"].items()]) for r in want]
    return (sorted(got, key=lambda t: _row_key(t[0])),
            sorted(want, key=lambda t: _row_key(t[0])))


_TILE_BASE = _fixture_038() + tile(layer(
    name=b"dup", feats=[T.build_feature(1, 1, POINT_25_17, [0, 0, 1, 1, 0, 2]),
                        T.build_feature(2, 1, POINT_25_17, [1, 2, 2, 1])],
    keys=[b"k", b"k", b"\xff"], values=[
        V_STR, V.encode_value(V.VT_UINT, 2**64 - 1),
        V.encode_value(V.VT_STRING, "w")]))


@settings(max_examples=150, deadline=None)
@given(st.lists(st.lists(st.tuples(st.integers(0, len(_TILE_BASE) - 1),
                                   st.integers(0, 255)), max_size=4),
                min_size=1, max_size=4))
def test_decode_matches_scalar_reference_on_mutated_tiles(mutations):
    """Row for row, decode_status and properties map included, the
    columnar decode equals the scalar reference on a batch of mutated
    tiles (all value types, duplicate keys, invalid UTF-8 keys)."""
    bufs = [bytes(_mutate(_TILE_BASE, m)) for m in mutations]
    got, want = _local_rows(bufs)
    assert got == want


def _norm(v):
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, float) and np.isnan(v):
        return None
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def test_decode_tiles_props_match_scalar_reference(spark):
    """decode_tiles(properties=True) over one multi-tile batch holding
    fixtures 038/040/042, garbage, a deviant layer and bad layers
    equals the scalar reference row for row, decode_status included."""
    bufs = _mixed_tiles()
    tiles = spark.createDataFrame(
        [(7, i, 3, bytearray(b)) for i, b in enumerate(bufs)],
        "z long, x long, y long, tile_bytes binary").coalesce(1)
    got = assemble.decode_tiles(tiles, properties=True).toPandas()
    want = tiles.mapInPandas(
        lambda it: decode_tile_batch(it, want_props=True),
        schema=assemble.FEATURE_PROPS_SCHEMA).toPandas()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 20
    for (_, g), (_, w) in zip(got.iterrows(), want.iterrows()):
        assert {c: _norm(g[c]) for c in got.columns} == \
            {c: _norm(w[c]) for c in want.columns}
    st_ = set(got["decode_status"])
    assert {"ok"} < st_
    assert any(s.startswith("OutOfRangeError: key") for s in st_)
    assert any(s.startswith("OutOfRangeError: value") for s in st_)
    assert any(s.startswith("FormatError") for s in st_)
    assert any(s.startswith("VersionError") for s in st_)


def test_large_extents_read_the_same_on_both_surfaces(spark):
    """decode_tiles (both modes) and decode_layers give a layer extent
    the same int32 reading: vtzero's uint32 (the low 32 bits), so an
    extent >= 2**31 is negative and 2**40 is 0, with status ok."""
    extents = [4096, 2**31 - 1, 3 * 10**9, 2**32 + 7, 2**40, 2**64 - 1]
    want = [int(np.uint64(e).astype(np.int32)) for e in extents]
    assert want == [4096, 2**31 - 1, 3 * 10**9 - 2**32, 7, 0, -1]
    buf = tile(*[layer(name=b"l%d" % i, extent=e,
                       feats=[feat(fid=1, gtype=1, geom=POINT_25_17)])
                 for i, e in enumerate(extents)])
    tiles = spark.createDataFrame([(7, 1, 3, bytearray(buf))],
                                  "z long, x long, y long, tile_bytes binary")
    for props in (False, True):
        rows = sorted(assemble.decode_tiles(tiles, properties=props)
                      .select("layer_ordinal", "extent", "decode_status")
                      .collect())
        assert [r.extent for r in rows] == want
        assert {r.decode_status for r in rows} == {"ok"}
    rows = sorted(assemble.decode_layers(tiles)
                  .select("layer_ordinal", "extent", "decode_status")
                  .collect())
    assert [r.extent for r in rows] == want
    assert {r.decode_status for r in rows} == {"ok"}
