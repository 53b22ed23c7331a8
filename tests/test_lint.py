"""tile_lint: the one-query vtzero-check composition
(examples/vtzero-check.cpp:30-229) — golden-pinned on the REAL
reference tile plus malformed synthetics for every check class."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from vtzero_spark.engine import lint
from vtzero_spark.mvt import pbf
from vtzero_spark.mvt import tile as T

from test_mvt_fixtures import feat, layer, tile

REF_TILE = "/root/reference/test/data/mapbox-streets-v6-14-8714-8017.mvt"

POINT = [9, 50, 34]


def test_real_reference_tile_golden():
    """The 12-layer mapbox-streets v1 tile: vtzero-check reports the
    zero-feature water_label layer as a warning, and — because the v1
    spec had no winding rule — a large population of CW first rings
    and zero-length linestring segments as errors. Pinned exactly."""
    data = open(REF_TILE, "rb").read()
    got = dict(lint.lint_tile_bytes(data))
    assert got == {
        "no_features_in_layer": 1,
        "first_ring_not_outer": 1033,
        "duplicate_point_in_linestring": 20,
    }


def test_layer_level_checks():
    # duplicate + empty layer names (spec 4.1), zero-feature layer
    l_ok = layer(feats=[feat(fid=1, gtype=1, geom=POINT)], name=b"a")
    l_dup = layer(feats=[feat(fid=2, gtype=1, geom=POINT)], name=b"a")
    l_empty_name = layer(feats=[feat(fid=3, gtype=1, geom=POINT)], name=b"")
    l_no_feats = layer(feats=[], name=b"c")
    buf = tile(l_ok, l_dup, l_empty_name, l_no_feats)
    got = dict(lint.lint_tile_bytes(buf))
    assert got == {
        "duplicate_layer_name": 1,
        "empty_layer_name": 1,
        "no_features_in_layer": 1,
    }


def test_empty_tile_and_fatal_abort():
    assert dict(lint.lint_tile_bytes(b"")) == {"no_layers_in_tile": 1}
    assert dict(lint.lint_tile_bytes(b"\x1a\x05garb")) == {"fatal_parse": 1}
    # a fatal aborts the scan: the second layer's warning is never seen
    l_bad = layer(feats=[feat(fid=1, gtype=1, geom=[9, 50])], name=b"a")
    l_warn = layer(feats=[], name=b"b")
    got = dict(lint.lint_tile_bytes(tile(l_bad, l_warn)))
    assert got == {"fatal_geometry": 1}


def test_geometry_checks_scalar():
    # duplicate point in a linestring (zero-delta segment)
    ls = feat(fid=1, gtype=2, geom=[9, 50, 34, (2 << 3) | 2, 8, 8, 0, 0])
    # zero-area collinear ring: 3 points, area 0, not outer
    zr = feat(fid=2, gtype=3, geom=[9, 50, 34, (1 << 3) | 2, 8, 0, 15])
    # point waaaay beyond the extent band (default extent 4096)
    farv = 3 * 4096
    far = feat(fid=3, gtype=1,
               geom=[9, (farv << 1) & 0xFFFFFFFF, (farv << 1) & 0xFFFFFFFF])
    got = dict(lint.lint_tile_bytes(tile(layer(feats=[ls, zr, far]))))
    assert got == {
        "duplicate_point_in_linestring": 1,
        "not_enough_points_in_ring": 1,
        "invalid_ring_area0": 1,
        "first_ring_not_outer": 1,
        "point_beyond_extent": 1,
    }


def test_distributed_lint_and_return_codes(spark):
    clean = tile(layer(feats=[feat(fid=1, gtype=1, geom=POINT)]))
    warn = tile(layer(feats=[feat(fid=1, gtype=1, geom=POINT)]),
                layer(feats=[], name=b"empty"))
    fatal = b"\x1a\x05garb"
    tiles = spark.createDataFrame(
        [(0, 0, 0, bytearray(clean)), (0, 0, 1, bytearray(warn)),
         (0, 0, 2, bytearray(fatal))],
        "z long, x long, y long, tile_bytes binary")
    findings = lint.tile_lint(tiles)
    rc = lint.return_codes(findings, tiles).toPandas() \
        .set_index(["z", "x", "y"])["return_code"]
    assert rc.loc[(0, 0, 0)] == 0
    assert rc.loc[(0, 0, 1)] == 1
    assert rc.loc[(0, 0, 2)] == 3
    f = findings.toPandas()
    assert set(zip(f["check"], f["severity"])) == {
        ("no_features_in_layer", 1), ("fatal_parse", 3)}


def test_lint_over_mvt_files(spark, tmp_path):
    """The CLI invocation shape: lint tile FILES. The real reference
    tile ingested via the binary-file reader must produce exactly the
    scalar golden findings, addressed by its filename z/x/y and source
    path; a second malformed file reports fatal_parse."""
    import shutil

    dst = tmp_path / "tiles"
    dst.mkdir()
    shutil.copy(REF_TILE, dst / "streets-14-8714-8017.mvt")
    (dst / "garbage.mvt").write_bytes(b"\x1a\x05garb")

    got = lint.lint_mvt_files(spark, str(dst)).toPandas()
    ref = got[got["z"] == 14].set_index("check")
    assert ref["n"].to_dict() == {
        "no_features_in_layer": 1,
        "first_ring_not_outer": 1033,
        "duplicate_point_in_linestring": 20,
    }
    assert (ref["path"].str.endswith("streets-14-8714-8017.mvt")).all()
    bad = got[got["z"] == -1]
    assert list(bad["check"]) == ["fatal_parse"]
    assert bad["path"].iloc[0].endswith("garbage.mvt")


def test_lint_files_addressless_paths_distinct(spark, tmp_path):
    """(z,x,y) is NOT unique per file: two address-less garbage files
    both carry z=x=y=-1. The path must ride through the lint pass, so
    each file reports exactly ONE fatal_parse attributed to its own
    path (a re-join on z/x/y would fan out to 4 rows)."""
    dst = tmp_path / "tiles"
    dst.mkdir()
    (dst / "broken_a.mvt").write_bytes(b"\x1a\x05garb")
    (dst / "broken_b.mvt").write_bytes(b"\x1a\x05junk")

    got = lint.lint_mvt_files(spark, str(dst)).toPandas()
    assert len(got) == 2
    assert list(got["check"]) == ["fatal_parse", "fatal_parse"]
    assert sorted(p.rsplit("/", 1)[1] for p in got["path"]) == \
        ["broken_a.mvt", "broken_b.mvt"]

    # per-FILE exit codes: the CLI return code per path, computed with
    # the same id columns the lint ran with (a bare z/x/y join would
    # fan out across the two z=x=y=-1 files)
    from vtzero_spark.engine import mvt_files

    tiles = mvt_files.read_mvt_files(spark, str(dst))
    rc = lint.return_codes(
        lint.lint_mvt_files(spark, str(dst)), tiles,
        id_cols=("z", "x", "y", "path")).toPandas()
    assert len(rc) == 2
    assert (rc["return_code"] == 3).all()
