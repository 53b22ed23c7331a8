"""Batch-columnar tile scan (mvt/tile.scan_tile_batch) and what it is
built on: the one-byte fast paths of pbf.scan_fields and
values.decode_value against their plain walks, parse_features_block
against parse_feature feature by feature, and the decode built on the
scan against the scalar reference decoder, across scan-chunk
boundaries."""

from __future__ import annotations

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

from test_mvt_fixtures import POINT_25_17, feat, layer, tile


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
    st.sampled_from([b"", pbf.fixed32_field(9, b"abcd"),
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
        + pbf.fixed32_field(9, b"abcd"),
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
        lambda it: assemble._decode_tile_batch(it, want_props=True),
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
