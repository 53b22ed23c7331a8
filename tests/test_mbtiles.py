"""MBTiles archive (engine/mbtiles.py): spec shape, TMS flip, gzip,
shard/merge discipline, parallel ranged reads.
"""

import gzip
import sqlite3

import pytest

from vtzero_spark.engine import assemble, geomops, mbtiles, synth, tiling

REF_TILE = "/root/reference/test/data/mapbox-streets-v6-14-8714-8017.mvt"


def _tiles(spark, sf_dir):
    img = synth.images(spark, sf_dir)
    feats = geomops.rect_stream_features(tiling.assign_tiles(img))
    return assemble.encode_geom_tiles(feats)


def test_mbtiles_roundtrip(spark, sf_dir, tmp_path):
    tiles = _tiles(spark, sf_dir)
    out = str(tmp_path / "synth.mbtiles")
    info = mbtiles.write_mbtiles(
        tiles, out, {"name": "synth", "format": "pbf"})
    orig = {(r.z, r.x, r.y): bytes(r.tile_bytes) for r in tiles.collect()}
    assert info["n_tiles"] == len(orig)
    back = {(r.z, r.x, r.y): bytes(r.tile_bytes)
            for r in mbtiles.read_mbtiles(spark, out).collect()}
    assert back == orig
    meta = mbtiles.read_mbtiles_metadata(out)
    assert meta == {"name": "synth", "format": "pbf"}


def test_mbtiles_spec_shape_and_tms_flip(spark, sf_dir, tmp_path):
    """The stored rows must satisfy the 1.3 spec directly: schema,
    unique index, TMS row flip, gzip'd payloads."""
    tiles = _tiles(spark, sf_dir)
    out = str(tmp_path / "spec.mbtiles")
    mbtiles.write_mbtiles(tiles, out, {"name": "s", "format": "pbf"})
    con = sqlite3.connect(out)
    names = {r[0] for r in con.execute(
        "SELECT name FROM sqlite_master WHERE type='table'")}
    assert {"metadata", "tiles"} <= names
    idx = con.execute(
        "SELECT sql FROM sqlite_master WHERE name='tile_index'"
    ).fetchone()[0]
    assert "UNIQUE" in idx.upper()
    # every stored row: gzip magic + TMS flip vs the XYZ original
    orig = {(r.z, r.x, r.y): bytes(r.tile_bytes) for r in tiles.collect()}
    rows = con.execute("SELECT zoom_level, tile_column, tile_row, "
                       "tile_data FROM tiles").fetchall()
    assert len(rows) == len(orig)
    for z, x, ty, blob in rows:
        assert bytes(blob)[:2] == b"\x1f\x8b"
        y = (1 << z) - 1 - ty
        assert gzip.decompress(blob) == orig[(z, x, y)]
    con.close()


def test_mbtiles_duplicate_addresses_fail_loudly(spark, tmp_path):
    dup = spark.createDataFrame(
        [(1, 0, 0, bytearray(b"a")), (1, 0, 0, bytearray(b"b"))],
        mbtiles.TILES_SCHEMA).repartition(2)
    with pytest.raises(sqlite3.IntegrityError):
        mbtiles.write_mbtiles(
            dup, str(tmp_path / "dup.mbtiles"),
            {"name": "d", "format": "pbf"})


def test_mbtiles_metadata_required_keys(spark, sf_dir, tmp_path):
    with pytest.raises(ValueError):
        mbtiles.merge_mbtiles([], str(tmp_path / "x.mbtiles"),
                              {"name": "missing-format"})


def test_mbtiles_shard_directory_reads_parallel(spark, sf_dir, tmp_path):
    """The scale path: keep the shard directory, read it back ranged
    (tiny rows_per_task forces many tasks) — identical content."""
    tiles = _tiles(spark, sf_dir).repartition(4)
    shard_dir = str(tmp_path / "shards")
    manifest = mbtiles.write_mbtiles_shards(tiles, shard_dir).collect()
    assert sum(r.n_tiles for r in manifest) == tiles.count()
    assert all(r.shard.endswith(".mbtiles") for r in manifest if r.n_tiles)
    orig = {(r.z, r.x, r.y): bytes(r.tile_bytes) for r in tiles.collect()}
    back_df = mbtiles.read_mbtiles(spark, shard_dir, rows_per_task=17)
    assert back_df.rdd.getNumPartitions() > 4  # genuinely ranged
    back = {(r.z, r.x, r.y): bytes(r.tile_bytes)
            for r in back_df.collect()}
    assert back == orig


def test_mbtiles_real_reference_tile(spark, tmp_path):
    buf = open(REF_TILE, "rb").read()
    tiles = spark.createDataFrame(
        [(14, 8714, 8017, bytearray(buf))], mbtiles.TILES_SCHEMA)
    out = str(tmp_path / "streets.mbtiles")
    mbtiles.write_mbtiles(tiles, out, {
        "name": "streets", "format": "pbf", "minzoom": "14",
        "maxzoom": "14"})
    back = mbtiles.read_mbtiles(spark, out).collect()
    assert len(back) == 1
    r = back[0]
    assert (r.z, r.x, r.y) == (14, 8714, 8017)
    assert bytes(r.tile_bytes) == buf
    # TMS row stored flipped
    con = sqlite3.connect(out)
    ty = con.execute("SELECT tile_row FROM tiles").fetchone()[0]
    con.close()
    assert ty == (1 << 14) - 1 - 8017


def test_mbtiles_empty_input(spark, tmp_path):
    empty = spark.createDataFrame([], mbtiles.TILES_SCHEMA)
    out = str(tmp_path / "empty.mbtiles")
    info = mbtiles.write_mbtiles(
        empty, out, {"name": "e", "format": "pbf"})
    assert info["n_tiles"] == 0
    assert mbtiles.read_mbtiles(spark, out).count() == 0


def test_mbtiles_deterministic_bytes(spark, sf_dir, tmp_path):
    """Same input, same partitioning -> byte-identical archive (gzip
    mtime pinned, no timestamps in the page layout for a fresh db)."""
    tiles = _tiles(spark, sf_dir).repartition(1).sortWithinPartitions(
        "z", "x", "y")
    a, b = str(tmp_path / "a.mbtiles"), str(tmp_path / "b.mbtiles")
    for p in (a, b):
        mbtiles.write_mbtiles(tiles, p, {"name": "d", "format": "pbf"})
    assert open(a, "rb").read() == open(b, "rb").read()


def test_archive_job_emits_consistent_artifacts(spark, sf_dir, tmp_path):
    """tools/archive_job.run: one encode feeds every archive form;
    mvt dir, mbtiles, pmtiles, and tilejson must agree with each
    other tile-for-tile."""
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import archive_job

    from vtzero_spark.engine import mvt_files, pmtiles as _pm

    out = str(tmp_path / "arch")
    summary = archive_job.run(spark, sf_dir, out,
                              ["mvt", "mbtiles", "pmtiles"])
    n = summary["n_tiles"]
    assert summary["formats"]["mvt"]["files"] == n
    assert summary["formats"]["mbtiles"]["n_tiles"] == n
    a = {(r.z, r.x, r.y): bytes(r.tile_bytes)
         for r in mvt_files.read_mvt_files(
             spark, out + "/tiles").select(
                 "z", "x", "y", "tile_bytes").collect()}
    b = {(r.z, r.x, r.y): bytes(r.tile_bytes)
         for r in mbtiles.read_mbtiles(
             spark, out + "/tileset.mbtiles").collect()}
    c = {(r.z, r.x, r.y): bytes(r.tile_bytes)
         for r in _pm.read_pmtiles(
             spark, out + "/tileset.pmtiles").collect()}
    assert a == b == c and len(a) == n
    meta = _json.load(open(out + "/tilejson.json"))
    assert meta["tilejson"] == "3.0.0"
    assert _json.loads(mbtiles.read_mbtiles_metadata(
        out + "/tileset.mbtiles")["json"])["vector_layers"] \
        == meta["vector_layers"]
    assert _pm.read_pmtiles_metadata(
        out + "/tileset.pmtiles")["vector_layers"] == meta["vector_layers"]
