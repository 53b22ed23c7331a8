"""Fused per-tile filter+rewrite (engine/rewrite.py): vtzero-streets
semantics (examples/vtzero-streets.cpp:22-78) with zero shuffles, and
byte parity with the distributed filter-then-encode pipeline."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from vtzero_spark.engine import assemble, rewrite, synth, tiling
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V
from vtzero_spark.mvt.errors import MVTError

import scalar_reference as SR
from test_mvt_fixtures import feat, layer, tile

POINT = [9, 50, 34]
POINT2 = [9, 4, 4]


def _mini_tile() -> bytes:
    """Two layers: 'roads' has three features (two tagged fmt=png, one
    fmt=jpg, one with no id), 'water' lacks the fmt key entirely."""
    kpng = V.encode_value(V.VT_STRING, "png")
    kjpg = V.encode_value(V.VT_STRING, "jpg")
    vnum = V.encode_value(V.VT_INT, 7)
    roads = layer(
        name=b"roads",
        keys=[b"fmt", b"rank"],
        values=[kpng, kjpg, vnum],
        feats=[
            feat(fid=1, gtype=1, geom=POINT, tags=[0, 0, 1, 2]),
            feat(fid=2, gtype=1, geom=POINT2, tags=[0, 1]),
            feat(fid=None, gtype=1, geom=POINT, tags=[1, 2, 0, 0]),
        ],
    )
    water = layer(
        name=b"water",
        keys=[b"class"],
        values=[kjpg],
        feats=[feat(fid=9, gtype=1, geom=POINT, tags=[0, 0])],
    )
    return tile(roads, water)


def test_local_rewrite_semantics(spark):
    tiles = spark.createDataFrame(
        [(1, 2, 3, bytearray(_mini_tile())),
         (9, 9, 9, bytearray(b"\x1a\x05garb"))],
        "z long, x long, y long, tile_bytes binary")
    out = rewrite.filter_tiles_by_property(tiles, "fmt", "png") \
        .toPandas().set_index(["z", "x", "y"])

    # the garbage tile becomes an EMPTY tile, not a task failure
    assert out.loc[(9, 9, 9)]["num_layers"] == 0
    assert bytes(out.loc[(9, 9, 9)]["tile_bytes"]) == b""

    # 'water' (no fmt key) is dropped; 'roads' keeps features 1 and the
    # id-less one, whose dictionaries rebuild in first-appearance order
    row = out.loc[(1, 2, 3)]
    assert row["num_layers"] == 1
    layers = T.parse_tile(bytes(row["tile_bytes"]))
    assert [l.name for l in layers] == ["roads"]
    l = layers[0]
    assert l.version == 2 and l.extent == 4096
    # survivor 1 tags were (fmt,png),(rank,7); survivor 3 (rank,7),(fmt,png)
    assert l.keys == [b"fmt", b"rank"]
    assert l.values == [V.encode_value(V.VT_STRING, "png"),
                        V.encode_value(V.VT_INT, 7)]
    assert [f.id for f in l.features] == [1, None]
    assert l.features[0].tags.tolist() == [0, 0, 1, 1]
    assert l.features[1].tags.tolist() == [1, 1, 0, 0]
    # geometry copied verbatim
    assert l.features[0].geometry.tolist() == POINT
    # second survivor carries the first feature's geometry (POINT)
    assert l.features[1].geometry.tolist() == POINT


def test_generalized_rewrite_has_key_and_layer_selector():
    """rewrite_tile_bytes composes vtzero-filter's layer selector with
    vtzero-streets' predicate, plus the HAS-KEY form."""
    buf = _mini_tile()
    views = T.tile_layer_views(buf)

    # layer selection alone = BYTE-VERBATIM passthrough of that layer
    only_roads = rewrite.rewrite_tile_bytes(buf, "roads", None, None)
    assert T.tile_layer_views(only_roads) == [bytes(views[0])]
    # ordinal selector (CLI digits-mean-index semantics)
    only_water = rewrite.rewrite_tile_bytes(buf, "1", None, None)
    assert T.tile_layer_views(only_water) == [bytes(views[1])]
    # no selector, no predicate: identical tile bytes
    assert rewrite.rewrite_tile_bytes(buf, None, None, None) == buf
    # unknown layer -> empty tile
    assert rewrite.rewrite_tile_bytes(buf, "nope", None, None) == b""

    # HAS-KEY: every 'roads' feature carries fmt; 'water' has no fmt
    out = rewrite.rewrite_tile_bytes(buf, None, b"fmt", None)
    layers = T.parse_tile(out)
    assert [l.name for l in layers] == ["roads"]
    assert [f.id for f in layers[0].features] == [1, 2, None]
    # has-key for a key only some features carry
    out2 = T.parse_tile(rewrite.rewrite_tile_bytes(buf, None, b"rank", None))
    assert [f.id for f in out2[0].features] == [1, None]
    # dictionaries rebuilt first-appearance over survivors
    assert out2[0].keys == [b"fmt", b"rank"]

    # compose: layer selector + property predicate in one pass
    both = rewrite.rewrite_tile_bytes(
        buf, "roads", b"fmt", [V.encode_value(V.VT_STRING, "jpg")])
    layers = T.parse_tile(both)
    assert [l.name for l in layers] == ["roads"]
    assert [f.id for f in layers[0].features] == [2]
    # water selected but predicate key absent -> empty tile
    assert rewrite.rewrite_tile_bytes(buf, "water", b"fmt", None) == b""


def test_rewrite_tiles_spark_has_key(spark):
    tiles = spark.createDataFrame(
        [(1, 2, 3, bytearray(_mini_tile()))],
        "z long, x long, y long, tile_bytes binary")
    out = rewrite.rewrite_tiles(tiles, layer="roads", key="rank") \
        .toPandas().iloc[0]
    layers = T.parse_tile(bytes(out["tile_bytes"]))
    assert out["num_layers"] == 1
    assert [f.id for f in layers[0].features] == [1, None]


def test_fused_rewrite_byte_parity_with_distributed_pipeline(spark, sf_dir):
    """filter_tiles_by_property(tiles, fmt, png) must produce
    byte-identical tiles to filtering the FEATURES plan-side and
    running the fused vectorized encoder — i.e. the zero-shuffle
    rewrite and the shuffle-based rebuild agree to the byte."""
    import __spark_entry__ as em

    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=em.ZOOM, extent=em.EXTENT,
                                   buffer=0)
    feats = assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        "loc_x", "loc_y", "phash", "fmt", "caption")
    tiles = assemble.encode_point_tiles(feats, prop_spec=em.PROP_SPEC)

    fused = rewrite.filter_tiles_by_property(tiles, "fmt", "png") \
        .toPandas().set_index(["z", "x", "y"])["tile_bytes"]
    want = assemble.encode_point_tiles(
        feats.where(F.col("fmt") == "png"), prop_spec=em.PROP_SPEC
    ).toPandas().set_index(["z", "x", "y"])["tile_bytes"]

    assert len(want) > 0
    # every tile with survivors matches byte-for-byte; tiles whose
    # features all filtered away come back empty from the fused pass
    for zxy, fb in fused.items():
        if zxy in want.index:
            assert bytes(fb) == bytes(want.loc[zxy]), zxy
        else:
            assert bytes(fb) == b""


def test_rewrite_roundtrips_through_decoder(spark):
    """The rewritten tile re-parses cleanly through decode_layers with
    the rebuilt dictionary sizes."""
    tiles = spark.createDataFrame(
        [(1, 2, 3, bytearray(_mini_tile()))],
        "z long, x long, y long, tile_bytes binary")
    out = rewrite.filter_tiles_by_property(tiles, "fmt", "png")
    stats = assemble.decode_layers(out).toPandas()
    ok = stats[stats["decode_status"] == "ok"]
    assert len(ok) == 1
    r = ok.iloc[0]
    assert r["layer_name"] == "roads"
    assert r["num_features"] == 2
    assert r["key_table_size"] == 2 and r["value_table_size"] == 2


# ------------------------------------------------------ hypothesis fuzz

from hypothesis import given, settings
from hypothesis import strategies as st

_KEY = b"fmt"
_VAL = V.encode_value(V.VT_STRING, "png")


def _scalar_filter(buf: bytes, key_b: bytes | None, val_bs=None,
                   layer_sel: str | None = None) -> bytes:
    """Independent reference: per-feature Python loop and a
    property_mapper-style rebuild (each old dictionary index maps to a
    new one on first use, add_key_without_dup_check) through
    build_feature/build_layer — no shared code with the vectorized
    path. ``val_bs``: one wire value, a list (IN-set) or None
    (has-key); ``key_b`` None passes selected layers through."""
    if isinstance(val_bs, bytes):
        val_bs = [val_bs]
    try:
        blobs = []
        for ordinal, lv in enumerate(T.tile_layer_views(buf)):
            if layer_sel is not None and (
                    ordinal != int(layer_sel) if layer_sel.isdigit()
                    else T.layer_name_only(lv) != layer_sel):
                continue
            if key_b is None:
                blobs.append(bytes(lv))
                continue
            layer = T.parse_layer(lv)
            if key_b not in layer.keys:
                continue
            kidx = layer.keys.index(key_b)
            nv = len(layer.values)

            def hit(k, v):
                return k == kidx and v < nv and (
                    val_bs is None or layer.values[v] in val_bs)

            surv = [f for f in layer.features
                    if any(hit(int(f.tags[i]), int(f.tags[i + 1]))
                           for i in range(0, f.tags.size, 2))]
            if not surv:
                continue
            kmap: dict[int, int] = {}
            vmap: dict[int, int] = {}
            keys, values, feats = [], [], []
            for f in surv:
                tags = []
                for i in range(0, f.tags.size, 2):
                    k, v = int(f.tags[i]), int(f.tags[i + 1])
                    if k not in kmap:
                        kmap[k] = len(keys)
                        keys.append(layer.key(k))
                    if v not in vmap:
                        vmap[v] = len(values)
                        values.append(layer.value(v))
                    tags += [kmap[k], vmap[v]]
                feats.append(T.build_feature(f.id, f.geom_type, f.geometry,
                                             tags))
            blobs.append(T.build_layer(
                layer.name.encode("utf-8", "surrogateescape"), feats, keys,
                values, version=layer.version, extent=layer.extent))
    except MVTError:
        return b""
    return T.build_tile(blobs)


_values_tab = st.lists(
    st.sampled_from([
        _VAL,
        V.encode_value(V.VT_STRING, "jpg"),
        V.encode_value(V.VT_INT, 7),
        V.encode_value(V.VT_DOUBLE, 2.5),
        V.encode_value(V.VT_BOOL, True),
    ]), min_size=1, max_size=5, unique=True)

_keys_tab = st.lists(
    st.sampled_from([b"fmt", b"rank", b"name", b"kind"]),
    min_size=1, max_size=4, unique=True)


@st.composite
def _tiles(draw):
    n_layers = draw(st.integers(0, 3))
    layer_blobs = []
    for li in range(n_layers):
        keys = draw(_keys_tab)
        values = draw(_values_tab)
        feats = []
        for fi in range(draw(st.integers(0, 5))):
            npairs = draw(st.integers(0, 3))
            tags = []
            for _ in range(npairs):
                tags.append(draw(st.integers(0, len(keys) - 1)))
                tags.append(draw(st.integers(0, len(values) - 1)))
            fid = draw(st.one_of(st.none(), st.integers(0, 1000)))
            feats.append(feat(fid=fid, gtype=1,
                              geom=[9, draw(st.integers(0, 100)) * 2,
                                    draw(st.integers(0, 100)) * 2],
                              tags=tags if npairs else None))
        layer_blobs.append(layer(
            name=f"L{li}".encode(), feats=feats, keys=keys, values=values))
    return tile(*layer_blobs)


@settings(max_examples=200, deadline=None)
@given(_tiles())
def test_fuzz_rewrite_matches_scalar_reference(buf):
    got = SR.filter_tile_bytes(buf, _KEY, _VAL)
    want = _scalar_filter(buf, _KEY, _VAL)
    assert got == want


def test_in_set_filter_keeps_any_matching_value(spark):
    """value may be a LIST: features matching any of the values
    survive, with the rebuilt dictionaries covering both."""
    tiles = spark.createDataFrame(
        [(1, 2, 3, bytearray(_mini_tile()))],
        "z long, x long, y long, tile_bytes binary")
    out = rewrite.filter_tiles_by_property(
        tiles, "fmt", ["png", "jpg"]).toPandas()
    layers = T.parse_tile(bytes(out.iloc[0]["tile_bytes"]))
    assert [l.name for l in layers] == ["roads"]
    # all three roads features carry fmt in {png, jpg}
    assert [f.id for f in layers[0].features] == [1, 2, None]


@settings(max_examples=100, deadline=None)
@given(_tiles())
def test_fuzz_in_set_matches_scalar_union(buf):
    """IN-set filtering equals the per-value scalar reference run with
    an OR of the survivor sets (same rebuild order)."""
    vals = [_VAL, V.encode_value(V.VT_INT, 7)]
    got = SR.filter_tile_bytes(buf, _KEY, vals)

    # independent reference: per-feature loop with membership test
    blobs = []
    vset = set(vals)
    for lv in T.tile_layer_views(buf):
        layer = T.parse_layer(lv)
        try:
            kidx = layer.keys.index(_KEY)
        except ValueError:
            continue
        vidxs = {i for i, v in enumerate(layer.values) if v in vset}
        if not vidxs:
            continue
        surv = [
            f for f in layer.features
            if any(int(f.tags[i]) == kidx and int(f.tags[i + 1]) in vidxs
                   for i in range(0, f.tags.size, 2))
        ]
        if not surv:
            continue
        feats = [(f.id, f.geom_type, f.geometry, layer.properties(f))
                 for f in surv]
        blobs.append(T.assemble_layer(
            layer.name.encode("utf-8") if isinstance(layer.name, str)
            else layer.name,
            feats, version=layer.version, extent=layer.extent))
    assert got == T.build_tile(blobs)


# ------------------------------------------- batch kernel vs per tile

import pyarrow as pa

_INT7 = V.encode_value(V.VT_INT, 7)
_MODES = [
    (None, b"fmt", [_VAL]),                 # equality
    (None, b"fmt", [_VAL, _INT7]),          # IN-set
    (None, b"rank", None),                  # has-key
    ("L1", b"fmt", None),                   # layer by name + has-key
    ("0", b"fmt", [_VAL]),                  # layer by ordinal + equality
    ("1", None, None),                      # verbatim passthrough
    ("L0", None, None),
    (None, None, None),
]


@st.composite
def _rich_tile(draw):
    """A tile from _tiles(), garbage bytes, or layers mixing v1
    headers, duplicate keys, id-less features, out-of-range tag
    indexes and features with a fixed32 field (which the columnar
    parse leaves to parse_feature)."""
    kind = draw(st.sampled_from(["plain", "garbage", "rich"]))
    if kind == "plain":
        return draw(_tiles())
    if kind == "garbage":
        return draw(st.binary(max_size=40))
    layer_blobs = []
    for li in range(draw(st.integers(1, 3))):
        keys = draw(st.lists(st.sampled_from([b"fmt", b"rank", b"name"]),
                             min_size=1, max_size=4))
        values = draw(_values_tab)
        feats = []
        for _ in range(draw(st.integers(0, 5))):
            tags = []
            for _ in range(draw(st.integers(0, 3))):
                tags.append(draw(st.integers(0, len(keys))))
                tags.append(draw(st.integers(0, len(values))))
            fb = T.build_feature(
                draw(st.one_of(st.none(), st.integers(0, 2**64 - 1))), 1,
                [9, draw(st.integers(0, 100)) * 2, 4], tags)
            if draw(st.integers(0, 7)) == 0:
                fb += SR.fixed32_field(9, b"abcd")
            feats.append(fb)
        layer_blobs.append(layer(
            name=f"L{li}".encode(), version=draw(st.sampled_from([1, 2])),
            feats=feats, keys=keys, values=values))
    return tile(*layer_blobs)


def _batch(bufs) -> pa.RecordBatch:
    n = len(bufs)
    return pa.RecordBatch.from_pydict({
        "z": [1] * n, "x": list(range(n)), "y": [2] * n,
        "tile_bytes": bufs})


def _run_batches(bufs, layer_sel, key_b, val_bs):
    val_set = None if val_bs is None else set(val_bs)
    out = pa.Table.from_batches(
        list(rewrite._rewrite_batches(iter([_batch(bufs)]), layer_sel,
                                      key_b, val_set)),
        schema=rewrite._TILE_ARROW)
    return out["tile_bytes"].to_pylist(), out["num_layers"].to_pylist()


@settings(max_examples=150, deadline=None)
@given(st.lists(_rich_tile(), max_size=8))
def test_fuzz_batch_rewrite_matches_per_tile_and_scalar(bufs):
    for layer_sel, key_b, val_bs in _MODES:
        got, nlay = _run_batches(bufs, layer_sel, key_b, val_bs)
        per_tile = [rewrite.rewrite_tile_bytes(b, layer_sel, key_b, val_bs)
                    for b in bufs]
        want = [_scalar_filter(b, key_b, val_bs, layer_sel) for b in bufs]
        assert got == per_tile == want
        assert nlay == [T.count_layers(o) for o in got]


def test_malformed_tile_empties_only_itself():
    good = _mini_tile()
    bufs = [good, b"\x1a\x05garb", good]
    got, nlay = _run_batches(bufs, None, b"fmt", [_VAL])
    one = SR.filter_tile_bytes(good, _KEY, _VAL)
    assert one and got == [one, b"", one] and nlay == [1, 0, 1]


def test_deviant_layer_alone_goes_to_feature_parser(monkeypatch):
    """Only the layer holding a pattern-deviant feature is parsed
    feature by feature; the other layers stay columnar."""
    deviant = layer(name=b"d", keys=[b"fmt"], values=[_VAL], feats=[
        T.build_feature(1, 1, POINT, [0, 0]) + SR.fixed32_field(9, b"abcd"),
        T.build_feature(2, 1, POINT2, [0, 0]),
        T.build_feature(3, 1, POINT, [0, 0])])
    plain = layer(name=b"p", keys=[b"fmt"], values=[_VAL], feats=[
        T.build_feature(i, 1, POINT, [0, 0]) for i in range(4)])
    bufs = [tile(plain, deviant), tile(plain), tile(plain, plain)]
    want = [_scalar_filter(b, _KEY, _VAL) for b in bufs]
    calls = []
    real = T.parse_feature
    monkeypatch.setattr(T, "parse_feature",
                        lambda v: calls.append(v) or real(v))
    got, _ = _run_batches(bufs, None, _KEY, [_VAL])
    assert got == want
    assert len(calls) == 3


def test_rewrite_chunk_boundaries_change_nothing(monkeypatch):
    bufs = [_mini_tile(), b"\x1a\x05garb", b""] * 4
    whole = _run_batches(bufs, None, b"fmt", [_VAL])
    monkeypatch.setattr(T, "SCAN_CHUNK_BYTES", 100)
    assert len(list(T.scan_chunks([len(b) for b in bufs]))) > 4
    assert _run_batches(bufs, None, b"fmt", [_VAL]) == whole
