"""Compositing + overzooming laws (engine/composite.py).

The two archive->wire operators every tile service runs; reference
analog is mapbox/vtcomposite (built on vtzero). The laws:

- composite is a byte splice: composite of a split tile re-creates
  the original byte-for-byte (pinned on the real reference tile);
- overzoom is integer-exact: overzooming a buffer-0 point tileset is
  byte-identical to encoding the 2^dz-scaled corpus directly at the
  child zoom;
- per-child geometry equals the scalar clip oracle
  (clip_parts_scalar) on the scaled parent frame.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from vtzero_spark.engine import assemble, lint, synth, tiling
from scalar_reference import clip_parts_scalar
from vtzero_spark.engine.composite import (
    composite_tiles, overzoom_tile_bytes, overzoom_tiles)
from vtzero_spark.mvt import geometry as G
from vtzero_spark.mvt import tile as T

REF_TILE = "/root/reference/test/data/mapbox-streets-v6-14-8714-8017.mvt"
E = 4096


def _mk_tile(layer_feats: dict[str, list]) -> bytes:
    return T.build_tile([
        T.assemble_layer(name, feats, version=2, extent=E)
        for name, feats in layer_feats.items()
    ])


def _pt(fid, x, y, props=()):
    return (fid, G.GEOM_POINT, G.encode_point(np.array([[x, y]])),
            list(props))


# ------------------------------------------------------------ composite


def test_composite_single_tileset_is_identity(spark):
    a = _mk_tile({"roads": [_pt(1, 10, 20, [(b"k", b"\x0a\x01v")])],
                  "water": [_pt(2, 30, 40)]})
    df = spark.createDataFrame([(0, 0, 0, bytearray(a))],
                               "z long, x long, y long, tile_bytes binary")
    out = composite_tiles([df]).collect()
    assert len(out) == 1
    assert out[0].status == "ok"
    assert out[0].num_layers == 2
    assert bytes(out[0].tile_bytes) == a


def test_composite_of_reference_tile_split_rebuilds_it(spark):
    """Split the real 12-layer tile into two tiles of 6 layers each;
    composite re-creates the original byte-for-byte (the passthrough
    splice: add_existing_layer, builder.hpp:119-132)."""
    buf = open(REF_TILE, "rb").read()
    views = T.tile_layer_views(buf)
    assert len(views) >= 2
    half = len(views) // 2
    a = T.build_tile(views[:half])
    b = T.build_tile(views[half:])
    df_a = spark.createDataFrame([(14, 8714, 8017, bytearray(a))],
                                 "z long, x long, y long, tile_bytes binary")
    df_b = spark.createDataFrame([(14, 8714, 8017, bytearray(b))],
                                 "z long, x long, y long, tile_bytes binary")
    out = composite_tiles([df_a, df_b]).collect()
    assert len(out) == 1
    assert out[0].status == "ok"
    assert bytes(out[0].tile_bytes) == buf


def test_composite_collision_first_source_wins(spark):
    a = _mk_tile({"roads": [_pt(1, 1, 1)]})
    b = _mk_tile({"roads": [_pt(9, 9, 9)], "pois": [_pt(2, 2, 2)]})
    df_a = spark.createDataFrame([(0, 0, 0, bytearray(a))],
                                 "z long, x long, y long, tile_bytes binary")
    df_b = spark.createDataFrame([(0, 0, 0, bytearray(b))],
                                 "z long, x long, y long, tile_bytes binary")
    out = composite_tiles([df_a, df_b]).collect()[0]
    assert out.num_layers == 2
    layers = T.parse_tile(bytes(out.tile_bytes))
    assert [L.name for L in layers] == ["roads", "pois"]
    # the roads layer is source A's (feature id 1), byte-for-byte
    assert layers[0].features[0].id == 1
    assert T.build_tile([T.tile_layer_views(bytes(out.tile_bytes))[0]]) == a


def test_composite_disjoint_addresses_pass_through(spark):
    a = _mk_tile({"l": [_pt(1, 1, 1)]})
    b = _mk_tile({"l": [_pt(2, 2, 2)]})
    df_a = spark.createDataFrame([(1, 0, 0, bytearray(a))],
                                 "z long, x long, y long, tile_bytes binary")
    df_b = spark.createDataFrame([(1, 1, 1, bytearray(b))],
                                 "z long, x long, y long, tile_bytes binary")
    rows = {(r.x, r.y): bytes(r.tile_bytes)
            for r in composite_tiles([df_a, df_b]).collect()}
    assert rows == {(0, 0): a, (1, 1): b}


def test_composite_malformed_tile_is_status_row(spark):
    bad = b"\x1a\x05junk"  # layer field promising 5 bytes, body invalid
    good = _mk_tile({"l": [_pt(1, 1, 1)]})
    df = spark.createDataFrame(
        [(0, 0, 0, bytearray(bad)), (0, 1, 1, bytearray(good))],
        "z long, x long, y long, tile_bytes binary")
    rows = {(r.x, r.y): r for r in composite_tiles([df]).collect()}
    assert rows[(1, 1)].status == "ok"
    assert rows[(0, 0)].status != "ok"
    assert rows[(0, 0)].tile_bytes is None


# ------------------------------------------------------------- overzoom


def test_overzoom_scalar_clip_oracle():
    """Kernel children == clip_parts_scalar on the scaled parent
    frame, per child, for a mixed-geometry layer."""
    rng = np.random.RandomState(7)
    feats, geoms = [], {}
    for fid in range(1, 13):
        kind = fid % 3
        if kind == 0:
            pts = rng.randint(0, E, size=(3, 2))
            cmds, gt, parts = G.encode_point(pts), G.GEOM_POINT, [pts]
        elif kind == 1:
            pts = rng.randint(0, E, size=(5, 2))
            # de-dup consecutive points so the encoder accepts it
            keep = np.ones(len(pts), bool)
            keep[1:] = (np.diff(pts, axis=0) != 0).any(axis=1)
            pts = pts[keep]
            cmds, gt, parts = (G.encode_linestring([pts]),
                               G.GEOM_LINESTRING, [pts])
        else:
            c = rng.randint(500, E - 500, size=2)
            r = rng.randint(100, 450)
            ring = np.array([
                [c[0] - r, c[1] - r], [c[0] + r, c[1] - r],
                [c[0] + r, c[1] + r], [c[0] - r, c[1] + r],
                [c[0] - r, c[1] - r]])
            cmds, gt, parts = G.encode_polygon([ring]), G.GEOM_POLYGON, [ring]
        feats.append((fid, gt, cmds, []))
        geoms[fid] = (gt, parts)
    buf = _mk_tile({"mixed": feats})
    dz, k = 2, 4
    kids, nsk = overzoom_tile_bytes(buf, dz=dz)
    assert nsk == 0

    got = {}
    for (ci, cj), tb in kids.items():
        for L in T.parse_tile(tb):
            for ft in L.features:
                parts, _ = G.decode_geometry(
                    ft.geom_type, ft.geometry, ft.geometry_nbytes)
                got[(ci, cj, ft.id)] = [p.tolist() for p in parts]

    expect = {}
    for fid, (gt, parts) in geoms.items():
        scaled = [np.asarray(p, dtype=np.int64) * k for p in parts]
        for ci in range(k):
            for cj in range(k):
                if gt == G.GEOM_POINT:
                    b = (ci * E, cj * E, (ci + 1) * E - 1, (cj + 1) * E - 1)
                else:
                    b = (ci * E, cj * E, (ci + 1) * E, (cj + 1) * E)
                cp = clip_parts_scalar(scaled, gt, *b)
                cp = [np.asarray(p, np.int64) - [ci * E, cj * E] for p in cp]
                if gt == G.GEOM_LINESTRING:
                    cp = [p for p in cp if len(p) >= 2]
                if cp:
                    expect[(ci, cj, fid)] = [p.tolist() for p in cp]
    assert got == expect


def test_overzoom_point_tileset_byte_identity(spark, sf_dir):
    """The integer-exactness law: overzoom(encode(z), dz) is
    byte-identical to encoding the 2^dz-scaled corpus at z+dz
    (child x = (wx*2^dz) div E, child loc = (wx*2^dz) mod E)."""
    dz, k = 1, 2
    img = synth.images(spark, sf_dir)
    parent = entry._encode_image_tiles(
        entry._features(spark, sf_dir, buffer=0)).cache()
    over = {(r.x, r.y): bytes(r.tile_bytes)
            for r in overzoom_tiles(parent, dz=dz).collect()}

    scaled = img.withColumn("wx", F.col("wx") * k) \
                .withColumn("wy", F.col("wy") * k)
    direct = entry._encode_image_tiles(
        entry._features(spark, sf_dir, buffer=0, img=scaled))
    want = {(r.x, r.y): bytes(r.tile_bytes) for r in direct.collect()}
    parent.unpersist()
    assert set(over) == set(want)
    assert all(over[kk] == want[kk] for kk in want)


def test_overzoom_buffered_point_duplicates_at_edge():
    """buffer > 0 duplicates an edge-window point into the adjacent
    child, mirroring assign_tiles(buffer=...)."""
    # scaled coord = 2*2048 = 4096 exactly on the dz=1 child boundary
    buf = _mk_tile({"l": [_pt(1, 2048, 100)]})
    kids0, _ = overzoom_tile_bytes(buf, dz=1, buffer=0)
    assert sorted(kids0) == [(1, 0)]  # half-open: right child only
    kids64, _ = overzoom_tile_bytes(buf, dz=1, buffer=64)
    assert sorted(kids64) == [(0, 0), (1, 0)]
    left = T.parse_tile(kids64[(0, 0)])[0]
    parts, _ = G.decode_geometry(
        left.features[0].geom_type, left.features[0].geometry,
        left.features[0].geometry_nbytes)
    assert parts[0].tolist() == [[4096, 200]]  # buffered local coord


def test_overzoom_reference_tile_children_are_clean(spark):
    """dz=1 over the real 12-layer tile: every child parses, lints
    clean, layer names/extents/versions pass through, and every child
    feature's properties exist verbatim in its parent layer."""
    buf = open(REF_TILE, "rb").read()
    parents = {L.name: L for L in T.parse_tile(buf)}
    kids, _ = overzoom_tile_bytes(buf, dz=1, buffer=8)
    assert kids  # a real city tile overzooms to at least one child
    seen_feats = 0
    for tb in kids.values():
        counts = lint.lint_tile_bytes(tb)
        assert counts.get("error", 0) == 0, counts
        for L in T.parse_tile(tb):
            p = parents[L.name]
            assert (L.version, L.extent) == (p.version, p.extent)
            pk, pv = set(p.keys), set(p.values)
            for ft in L.features:
                seen_feats += 1
                for kb, vb in L.properties(ft):
                    assert kb in pk and vb in pv
    assert seen_feats > 100


def test_overzoom_malformed_parent_is_status_row(spark):
    good = _mk_tile({"l": [_pt(1, 1, 1)]})
    df = spark.createDataFrame(
        [(0, 0, 0, bytearray(b"\x1a\x05junk")), (0, 1, 1, bytearray(good))],
        "z long, x long, y long, tile_bytes binary")
    rows = overzoom_tiles(df, dz=1).collect()
    bad = [r for r in rows if r.status != "ok"]
    ok = [r for r in rows if r.status == "ok"]
    assert len(bad) == 1 and bad[0].tile_bytes is None
    assert bad[0].z == 0 and bad[0].x == 0  # parent address
    assert ok and all(r.z == 1 for r in ok)


def test_overzoom_rejects_dz_zero():
    with pytest.raises(ValueError):
        overzoom_tile_bytes(b"", dz=0)


def test_overzoom_point_fast_path_matches_slow_path(monkeypatch):
    """The vectorized single-point fast path must be a PURE
    optimization: byte-identical children to the general clip path on
    tag-less features, null ids, out-of-band points, shared dictionary
    subsets, and a mixed tile where a polygon layer rides the slow
    path next to a fast point layer."""
    from vtzero_spark.engine import composite as C

    ring = np.array([[100, 100], [900, 100], [900, 900], [100, 900],
                     [100, 100]])
    feats = {
        "pts": [
            _pt(1, 10, 20, [(b"k", b"\x0a\x01a")]),
            _pt(2, 3000, 4000, [(b"k", b"\x0a\x01b"), (b"m", b"\x0a\x01a")]),
            (None, G.GEOM_POINT, G.encode_point(np.array([[2048, 2047]])),
             []),                                     # null id, no tags
            _pt(4, 4095, 4095, [(b"k", b"\x0a\x01a")]),
            _pt(5, 0, 0, []),
            _pt(6, 4096, 5000, []),  # out of band: both paths drop it
        ],
        "poly": [(7, G.GEOM_POLYGON, G.encode_geometry(
            G.GEOM_POLYGON, [ring]), [(b"zone", b"\x0a\x01z")])],
    }
    buf = _mk_tile(feats)
    for dz in (1, 2):
        fast, ns_f = C.overzoom_tile_bytes(buf, dz)
        monkeypatch.setattr(C, "_overzoom_point_layer_fast",
                            lambda layer, k: None)
        slow, ns_s = C.overzoom_tile_bytes(buf, dz)
        monkeypatch.undo()
        assert ns_f == ns_s
        assert fast.keys() == slow.keys() and len(fast) >= 3
        for cc in fast:
            assert fast[cc] == slow[cc], (dz, cc)


def test_overzoom_corrupt_tag_index_stays_errors_as_data():
    """A point layer whose feature references a key/value index past
    the dictionary tables must NOT crash the fast path: it falls back
    to the general path, whose OutOfRangeError the Spark wrapper turns
    into a status row."""
    from vtzero_spark.engine import composite as C
    from vtzero_spark.mvt.errors import MVTError

    blob = T.build_feature(1, G.GEOM_POINT,
                           G.encode_point(np.array([[10, 10]])), [5, 7])
    layer = T.build_layer("bad", [blob], [b"k"], [b"\x0a\x01a"])
    buf = T.build_tile([layer])
    with pytest.raises(MVTError):
        C.overzoom_tile_bytes(buf, 1)
