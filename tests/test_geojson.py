"""GeoJSON boundary (engine/geojson.py): export text, JVM parse,
vertex explosion, and the full encode->decode->export->parse chain.

Laws pinned here:
- oracle parity for the driver query geojson_roundtrip (closed-form
  DuckDB integer math — no JSON on the oracle side);
- parse(export(x)) reproduces every decoded coordinate of the REAL
  reference tile exactly (all 12 layers), including multi-part
  geometries and holes;
- type promotion follows vt2geojson: >1 part makes Multi*, inner
  rings attach to the preceding outer ring;
- malformed geometry surfaces as a status row, never a task failure;
- property rendering is deterministic (sorted keys, 7-type union);
- lang_id oracle pin (its window slot carries geojson_roundtrip
  since round-5 session 8; the n-gram expressions stay driver-gated
  inside curation's oracle).
"""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import assemble, geojson, geomops, synth, tiling
from vtzero_spark.mvt import geometry as G
import scalar_reference as SR

REF_TILE = "/root/reference/test/data/mapbox-streets-v6-14-8714-8017.mvt"


def _duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def test_geojson_roundtrip_matches_duckdb_oracle(spark, sf_dir):
    import __spark_entry__ as em

    sdf = em.queries()["geojson_roundtrip"](spark, sf_dir).toPandas()
    odf = _duck(sf_dir).execute(em.oracle_sql()["geojson_roundtrip"]).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_lang_id_oracle_pin(spark, sf_dir):
    """lang_id left the 50-entry window in round-5 session 8 (its
    expressions stay under the driver gate inside curation's oracle);
    this pin keeps the standalone query DuckDB-parity-tested."""
    import __spark_entry__ as em
    from vtzero_spark.engine import textops

    sdf = em.q_lang_id(spark, sf_dir).toPandas()
    odf = _duck(sf_dir).execute(textops.lang_id_sql()).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_real_tile_export_parse_reproduces_every_coordinate(spark):
    """Every feature of the real 12-layer streets tile: the parsed
    parts must equal the decoded parts coordinate-for-coordinate —
    export text and JVM JSON parse are lossless inverses."""
    buf = open(REF_TILE, "rb").read()
    tiles = spark.createDataFrame(
        [(14, 8714, 8017, bytearray(buf))],
        "z long, x long, y long, tile_bytes binary")
    dec = assemble.decode_tiles(tiles).where(
        F.col("decode_status") == "ok")
    exp = geojson.export_geojson(dec)
    assert exp.where(F.col("status") != "ok").count() == 0
    parsed = geojson.parse_geojson(exp).select(
        "layer_name", "fid", "gj_type", "parts").toPandas()
    truth = dec.select("layer_name", "feature_id", "geom_type",
                       "geometry", "geometry_nbytes").toPandas()
    assert len(parsed) == len(truth) > 8000

    # decode locally, keyed by (layer, row order within layer)
    parsed["key"] = parsed.groupby("layer_name").cumcount()
    truth["key"] = truth.groupby("layer_name").cumcount()
    m = truth.merge(parsed, left_on=["layer_name", "key"],
                    right_on=["layer_name", "key"], validate="1:1")
    n_multi = 0
    for row in m.itertuples():
        parts, _ = G.decode_geometry(
            int(row.geom_type),
            np.asarray(row.geometry, dtype=np.int64),
            int(row.geometry_nbytes))
        got = [np.asarray([[p[0], p[1]] for p in part], dtype=np.int64)
               for part in row.parts]
        if int(row.geom_type) == G.GEOM_POINT:
            want = [np.asarray(parts[0], dtype=np.int64)]
        else:
            want = [np.asarray(p, dtype=np.int64) for p in parts]
        assert len(got) == len(want)
        for g_, w_ in zip(got, want):
            assert g_.shape == w_.shape and (g_ == w_).all()
        if row.gj_type.startswith("Multi"):
            n_multi += 1
    assert n_multi >= 5  # the tile genuinely exercises Multi* paths


def test_type_promotion_and_holes(spark):
    """Unit fixtures through _geometry_text: vt2geojson's mapping."""
    # single point
    t = geojson._geometry_text(
        G.GEOM_POINT, G.encode_geometry(G.GEOM_POINT,
                                        [np.array([[5, 7]])]), None)
    assert t == '{"type":"Point","coordinates":[5,7]}'
    # multipoint
    t = geojson._geometry_text(
        G.GEOM_POINT, G.encode_geometry(G.GEOM_POINT,
                                        [np.array([[5, 7], [9, 9]])]), None)
    assert json.loads(t) == {"type": "MultiPoint",
                             "coordinates": [[5, 7], [9, 9]]}
    # one linestring / two linestrings
    one = [np.array([[0, 0], [10, 0], [10, 5]])]
    t = geojson._geometry_text(
        G.GEOM_LINESTRING, G.encode_geometry(G.GEOM_LINESTRING, one), None)
    assert json.loads(t)["type"] == "LineString"
    two = one + [np.array([[1, 1], [2, 2]])]
    t = geojson._geometry_text(
        G.GEOM_LINESTRING, G.encode_geometry(G.GEOM_LINESTRING, two), None)
    assert json.loads(t) == {
        "type": "MultiLineString",
        "coordinates": [[[0, 0], [10, 0], [10, 5]], [[1, 1], [2, 2]]]}
    # polygon with hole: outer CW-positive + inner opposite
    donut = geomops.donut_cmds(
        F.lit(100), F.lit(200), F.lit(40), F.lit(24))
    cmds = np.asarray(
        spark.range(1).select(donut.alias("g")).first()["g"],
        dtype=np.int64)
    t = json.loads(geojson._geometry_text(G.GEOM_POLYGON, cmds, None))
    assert t["type"] == "Polygon"
    assert len(t["coordinates"]) == 2  # outer + hole in ONE polygon
    outer, hole = t["coordinates"]
    assert outer[0] == outer[-1] and hole[0] == hole[-1]
    # two separate outers -> MultiPolygon
    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]])
    cmds2 = G.encode_geometry(G.GEOM_POLYGON, [sq, sq + 100])
    t2 = json.loads(geojson._geometry_text(G.GEOM_POLYGON, cmds2, None))
    assert t2["type"] == "MultiPolygon"
    assert len(t2["coordinates"]) == 2


def test_export_errors_are_data(spark):
    bad = spark.createDataFrame(
        [(0, 0, 0, "L0", 1, G.GEOM_POLYGON, [9, 9, 9], 6)],
        "z long, x long, y long, layer_name string, feature_id long, "
        "geom_type int, geometry array<long>, geometry_nbytes int")
    out = geojson.export_geojson(bad).toPandas()
    assert len(out) == 1
    assert out.status[0] != "ok" and out.geojson[0] is None


def test_props_text_deterministic():
    props = {
        "b": {"vtype": 7, "sval": None, "dval": None, "ival": 1},
        "a": {"vtype": 1, "sval": 'he"llo', "dval": None, "ival": None},
        "n": {"vtype": 4, "sval": None, "dval": None, "ival": -3},
    }
    assert geojson._props_text(props) == '{"a":"he\\"llo","b":true,"n":-3}'
    assert geojson._props_text(None) == "{}"


def test_parse_malformed_json_yields_null_parts(spark):
    df = spark.createDataFrame(
        [("{not json",), ('{"type":"Feature","geometry":'
                          '{"type":"Weird","coordinates":[1,2]}}',)],
        "geojson string")
    # NB: assert JVM-side — toPandas() of an ALL-NULL deeply nested
    # array column trips a pyarrow conversion segfault (env edge, not
    # engine code); collect() is safe and tests the same contract.
    rows = geojson.parse_geojson(df).select(
        F.col("parts").isNull().alias("isnull")).collect()
    assert len(rows) == 2 and all(r.isnull for r in rows)


def test_ingest_reencode_byte_identity(spark, sf_dir):
    """The tippecanoe direction closes the loop: tiles -> GeoJSON
    text -> parse -> to_features -> encode == the ORIGINAL tile bytes,
    byte for byte (geometry-only corpus; dictionaries empty on both
    sides, ordering by feature_ordinal == fid)."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img)
    orig = assemble.encode_geom_tiles(
        geomops.rect_stream_features(assigned))
    exp = geojson.export_geojson(
        assemble.decode_tiles(orig).where(F.col("decode_status") == "ok"))
    feats2 = geojson.to_features(geojson.parse_geojson(
        exp.where(F.col("status") == "ok")))
    redo = assemble.encode_tiles(assemble.encode_layers(feats2))
    a = {(r.z, r.x, r.y): bytes(r.tile_bytes) for r in orig.collect()}
    b = {(r.z, r.x, r.y): bytes(r.tile_bytes) for r in redo.collect()}
    assert a.keys() == b.keys() and len(a) > 0
    assert all(a[k] == b[k] for k in a)


def test_parse_plan_is_jvm_only(spark, sf_dir):
    """The parse+vertices side must contain no Python evaluation —
    ingest scales at scan speed."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img)
    feats = geomops.rect_stream_features(assigned)
    tiles = assemble.encode_geom_tiles(feats)
    dec = assemble.decode_tiles(tiles).where(F.col("decode_status") == "ok")
    exp = geojson.export_geojson(dec)
    # plan BELOW the export boundary: parse + explode only
    v = geojson.vertices(geojson.parse_geojson(exp))
    plan = v._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("MapInPandas", 1)[0]  # stages above the exporter
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in seg


def test_geojson_to_tiles_matches_scalar_clip_oracle(spark, sf_dir):
    """The composed tippecanoe front door: world-coordinate GeoJSON
    lines -> bbox fan-out -> localize -> clip -> encode. Every decoded
    output feature must equal the scalar clip oracle
    (SR.clip_parts_scalar) run per (feature, candidate tile) —
    including features spanning multiple tiles, which anchor-point
    replication would miss."""
    from vtzero_spark.engine.synth import EXTENT, ZOOM

    BUF = 64
    img = synth.images(spark, sf_dir)
    lines = img.select(F.format_string(
        '{"type":"Feature","id":%d,"properties":{},'
        '"geometry":{"type":"Polygon","coordinates":'
        '[[[%d,%d],[%d,%d],[%d,%d],[%d,%d],[%d,%d]]]}}',
        "iid", "wx", "wy",
        F.col("wx") + F.col("w"), "wy",
        F.col("wx") + F.col("w"), F.col("wy") + F.col("h"),
        "wx", F.col("wy") + F.col("h"), "wx", "wy").alias("geojson"))
    tiles = geojson.geojson_to_tiles(
        lines, zoom=ZOOM, extent=EXTENT, buffer=BUF)
    dec = assemble.decode_tiles(tiles).where(
        F.col("decode_status") == "ok")
    got = {}
    for r in dec.collect():
        parts, _ = __import__("vtzero_spark.mvt.geometry", fromlist=["x"]) \
            .decode_geometry(int(r.geom_type),
                             np.asarray(r.geometry, dtype=np.int64),
                             int(r.geometry_nbytes))
        got[(r.x, r.y, r.feature_id)] = [p.tolist() for p in parts]

    # scalar oracle over every (feature, bbox-candidate tile)
    src = img.select("iid", "wx", "wy", "w", "h").toPandas()
    want = {}
    n_tiles = 1 << ZOOM
    for t in src.itertuples():
        ring = np.array([
            [t.wx, t.wy], [t.wx + t.w, t.wy],
            [t.wx + t.w, t.wy + t.h], [t.wx, t.wy + t.h],
            [t.wx, t.wy]], dtype=np.int64)
        for tx in range(max(0, (t.wx - BUF) // EXTENT),
                        min(n_tiles - 1, (t.wx + t.w + BUF) // EXTENT) + 1):
            for ty in range(max(0, (t.wy - BUF) // EXTENT),
                            min(n_tiles - 1,
                                (t.wy + t.h + BUF) // EXTENT) + 1):
                local = ring - np.array([tx * EXTENT, ty * EXTENT])
                parts = SR.clip_parts_scalar(
                    [local], 3, -BUF, -BUF, EXTENT + BUF, EXTENT + BUF)
                if parts:
                    want[(tx, ty, t.iid)] = [np.asarray(p).tolist()
                                             for p in parts]
    assert set(got) == set(want)
    assert len(got) > len(src)  # multi-tile features really occurred
    for k in want:
        assert got[k] == want[k], k


def test_cmds_from_parts_matches_scalar(spark):
    """The batch parts->command-stream kernel (geomops.cmds_from_parts)
    is byte-for-byte G.encode_geometry per feature: 400 random mixed
    geometries (points/multipoints, 1-3-part polylines, multi-ring
    polygons in both windings), cursor carry across parts included."""
    import random

    rng = random.Random(42)
    rows, expected = [], {}
    for i in range(400):
        t = rng.choice([1, 1, 2, 2, 3, 3, 3])
        if t == 1:
            parts = [[[rng.randint(-100, 4200), rng.randint(-100, 4200)]
                      for _ in range(rng.randint(1, 5))]]
        elif t == 2:
            parts = []
            for _ in range(rng.randint(1, 3)):
                pts = [[0, 0]]
                while len(pts) < rng.randint(2, 6):
                    q = [pts[-1][0] + rng.randint(-50, 50),
                         pts[-1][1] + rng.randint(-50, 50)]
                    if q != pts[-1]:
                        pts.append(q)
                parts.append(pts)
        else:
            parts = []
            for _ in range(rng.randint(1, 3)):
                x0, y0 = rng.randint(0, 4000), rng.randint(0, 4000)
                w, h = rng.randint(1, 200), rng.randint(1, 200)
                ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                        [x0, y0 + h], [x0, y0]]
                if rng.random() < 0.5:
                    ring = ring[::-1]
                parts.append(ring)
        rows.append((0, 0, 0, "L", i, i, t,
                     [[{"x": p[0], "y": p[1]} for p in part]
                      for part in parts]))
        expected[i] = G.encode_geometry(
            t, [np.array(p) for p in parts]).tolist()
    df = spark.createDataFrame(rows, (
        "z long, x long, y long, layer_name string, "
        "feature_ordinal long, feature_id long, geom_type int, "
        "parts array<array<struct<x: bigint, y: bigint>>>"))
    out = geomops.cmds_from_parts(df).collect()
    assert len(out) == 400
    for r in out:
        assert list(r.geometry) == expected[r.feature_ordinal]


def test_cmds_from_parts_rejects_bad_geometry(spark):
    from vtzero_spark.mvt.errors import GeometryError  # noqa: F401

    bad = spark.createDataFrame(
        [(0, 0, 0, "L", 1, 1, 3,
          [[{"x": 0, "y": 0}, {"x": 4, "y": 0}, {"x": 4, "y": 4}]])],
        "z long, x long, y long, layer_name string, feature_ordinal "
        "long, feature_id long, geom_type int, "
        "parts array<array<struct<x: bigint, y: bigint>>>")
    with pytest.raises(Exception, match="more than 3 points"):
        geomops.cmds_from_parts(bad).collect()


def test_tippecanoe_job_text_files_to_archives(spark, sf_dir, tmp_path):
    """tools/tippecanoe_job with REAL text files: .geojsonl lines on
    disk scan as a text source and land as MBTiles + PMTiles whose
    contents agree; the file path and the in-memory path produce the
    same tiles."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import tippecanoe_job as tj

    from vtzero_spark.engine import mbtiles as mb
    from vtzero_spark.engine import pmtiles as pm

    lines = tj.synth_lines(spark, sf_dir)
    src = str(tmp_path / "src")
    lines.coalesce(2).write.text(src)
    out = str(tmp_path / "out")
    file_lines = spark.read.text(src).select(
        F.col("value").alias("geojson"))
    summary = tj.run(spark, file_lines, out, zoom=4, buffer=64,
                     formats=["mbtiles", "pmtiles"])
    assert summary["n_tiles"] == 256
    a = {(r.z, r.x, r.y): bytes(r.tile_bytes)
         for r in mb.read_mbtiles(
             spark, out + "/tileset.mbtiles").collect()}
    b = {(r.z, r.x, r.y): bytes(r.tile_bytes)
         for r in pm.read_pmtiles(
             spark, out + "/tileset.pmtiles").collect()}
    assert a == b and len(a) == 256
    # same tiles as the in-memory lines path
    from vtzero_spark.engine.synth import EXTENT
    direct = {(r.z, r.x, r.y): bytes(r.tile_bytes)
              for r in geojson.geojson_to_tiles(
                  lines, zoom=4, extent=EXTENT, buffer=64).collect()}
    assert a == direct


def test_geojson_to_tiles_single_exchange(spark):
    """The whole text->tile pipeline is ONE shuffle: the encode's own
    tile-keyed repartition(z, x, y) (Python map nodes report
    UnknownPartitioning, so no exchange before the kernels could be
    reused by it)."""
    import re

    lines = spark.createDataFrame(
        [('{"type":"Feature","id":1,"properties":{},"geometry":'
          '{"type":"Polygon","coordinates":'
          '[[[10,10],[60,10],[60,60],[10,60],[10,10]]]}}',)],
        "geojson string")
    plan = geojson.geojson_to_tiles(
        lines, zoom=4, extent=4096, buffer=64) \
        ._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange ", plan)) == 1


def test_fanout_beyond_grid_emits_no_tiles(spark):
    """A feature wholly past the last tile row/column must produce ZERO
    tiles, not an out-of-grid address: the clamped fan-out endpoints
    CROSS there (lo=16 > hi=15 at zoom 4) and F.sequence steps DOWN
    unless guarded. Found by the contour chained/unchained equivalence
    law — contour vertices overhang the world edge by half a pixel, and
    the unchained path was emitting (z=4, y=16) tiles."""
    world = 1 << 16  # zoom 4, extent 4096
    schema = ("fid long, gj_type string, "
              "parts array<array<array<long>>>")
    beyond = spark.createDataFrame(
        [(1, "LineString", [[[100, world + 2], [300, world + 8]]])],
        schema)
    assert geojson.world_features_to_tiles(
        beyond, zoom=4, extent=4096).count() == 0
    # straddling the edge: clipped into the LAST row only, never row 16
    straddle = spark.createDataFrame(
        [(1, "LineString", [[[100, world - 50], [300, world + 8]]])],
        schema)
    rows = geojson.world_features_to_tiles(
        straddle, zoom=4, extent=4096).collect()
    assert [(r["x"], r["y"]) for r in rows] == [(0, 15)]


def test_fanout_boundary_property_sweep(spark):
    """Property sweep of the fan-out window law around the grid
    boundary (the class of the sequence-steps-down bug): linestrings
    planted inside, at, straddling, and beyond every grid edge and
    corner. Laws: (1) every emitted tile address is inside the zoom
    grid; (2) a feature wholly inside one tile's interior lands in
    exactly that tile; (3) re-running emits identical bytes."""
    world = 1 << 16
    ext = 4096
    cases = []
    fid = 0
    # deterministic LCG for in-cell jitter
    st = 12345
    for anchor in (0, ext - 8, ext, 7 * ext, 15 * ext,
                   world - 8, world, world + 40):
        for dx, dy in ((60, 0), (0, 60), (45, 45)):
            st = (st * 1103515245 + 12345) % (1 << 31)
            j = st % 50
            x0, y0 = anchor + j, (anchor * 3 + 2 * j) % (world + 300)
            cases.append((fid, "LineString",
                          [[[x0, y0], [x0 + dx, y0 + dy]]]))
            fid += 1
    # plus fully-interior controls, one per a few tiles
    interior = []
    for t in (0, 3, 9, 15):
        x = t * ext + ext // 2
        interior.append((fid, "LineString",
                         [[[x, x], [x + 10, x + 10]]]))
        cases.append(interior[-1])
        fid += 1
    schema = "fid long, gj_type string, parts array<array<array<long>>>"
    feats = spark.createDataFrame(cases, schema)
    rows = geojson.world_features_to_tiles(
        feats, zoom=4, extent=ext, buffer=16).collect()
    assert rows
    for r in rows:
        assert 0 <= r["x"] < 16 and 0 <= r["y"] < 16, (r["x"], r["y"])
    # interior controls: present in exactly their own tile
    present = {(r["x"], r["y"]) for r in rows}
    from vtzero_spark.mvt import tile as T
    for f, _, parts in interior:
        t = parts[0][0][0] // ext
        assert (t, t) in present
        owns = [r for r in rows if any(
            ft.id == f for ly in T.parse_tile(bytes(r["tile_bytes"]))
            for ft in ly.features)]
        assert [(r["x"], r["y"]) for r in owns] == [(t, t)], f
    again = geojson.world_features_to_tiles(
        feats, zoom=4, extent=ext, buffer=16).collect()
    key = lambda rs: sorted((r["z"], r["x"], r["y"],
                             bytes(r["tile_bytes"])) for r in rs)
    assert key(rows) == key(again)


def test_export_fast_path_matches_scalar_renderer(spark):
    """The template-uniform batch fast path of export_geojson must be
    byte-identical to the scalar _geometry_text walk — across geometry
    types, multi-part features, donuts (mixed per-row winding, which
    splits the skeleton subgroup), null ids, and a malformed row mixed
    into an otherwise-uniform batch (which must fall back row-wise)."""
    rows = []
    fid = 0
    for i in range(12):  # 12 uniform donuts, alternating ring winding
        sq = np.array([[0, 0], [40, 0], [40, 40], [0, 40], [0, 0]]) + i
        hole = sq[::-1] // 2 + 10
        rings = [sq, hole] if i % 3 else [sq[::-1], hole[::-1]]
        cmds = G.encode_geometry(G.GEOM_POLYGON, rings)
        rows.append((0, 0, 0, "L0", fid, G.GEOM_POLYGON,
                     [int(v) for v in cmds], 2 * len(cmds)))
        fid += 1
    for i in range(10):  # uniform 2-part linestrings
        a = np.array([[0, 0], [10, i], [12, 5]])
        b = np.array([[50, 50], [60, 60 + i]])
        cmds = G.encode_geometry(G.GEOM_LINESTRING, [a, b])
        rows.append((0, 0, 0, "L1", None if i % 4 == 0 else fid,
                     G.GEOM_LINESTRING, [int(v) for v in cmds],
                     2 * len(cmds)))
        fid += 1
    for i in range(9):  # uniform multipoints
        pts = np.array([[i, 2 * i], [i + 7, 3]])
        cmds = G.encode_geometry(G.GEOM_POINT, [pts])
        rows.append((0, 0, 0, "L2", fid, G.GEOM_POINT,
                     [int(v) for v in cmds], 2 * len(cmds)))
        fid += 1
    # one malformed row with the SAME length as nothing else (its own
    # group) plus a short group (<8 rows, scalar fallback)
    rows.append((0, 0, 0, "L3", fid, G.GEOM_POLYGON, [9, 9, 9], 6))
    rows.append((0, 0, 0, "L3", fid + 1, G.GEOM_POINT,
                 [int(v) for v in G.encode_geometry(
                     G.GEOM_POINT, [np.array([[3, 4]])])], 6))
    df = spark.createDataFrame(
        rows,
        "z long, x long, y long, layer_name string, feature_id long, "
        "geom_type int, geometry array<long>, geometry_nbytes int")
    got = geojson.export_geojson(df).toPandas() \
        .sort_values("feature_id", na_position="first").reset_index(drop=True)
    # scalar reference
    exp_gj, exp_st = [], []
    for r in rows:
        try:
            gtxt = geojson._geometry_text(
                r[5], np.asarray(r[6], np.int64), r[7])
            idt = "" if r[4] is None else '"id":%d,' % r[4]
            exp_gj.append('{"type":"Feature",%s"properties":{},'
                          '"geometry":%s}' % (idt, gtxt))
            exp_st.append("ok")
        except Exception as e:
            exp_gj.append(None)
            exp_st.append(f"{type(e).__name__}: {e}")
    ref = pd.DataFrame({
        "feature_id": [r[4] for r in rows],
        "geojson": exp_gj, "status": exp_st}) \
        .sort_values("feature_id", na_position="first").reset_index(drop=True)
    assert list(got["geojson"]) == list(ref["geojson"])
    assert list(got["status"]) == list(ref["status"])
