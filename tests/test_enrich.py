"""Tile-join (join_attributes) and tilestats (tileset_stats) laws,
plus the parity pins for the two window slots they replaced
(streets_filter -> join_attrs, tile_counts -> tilestats)."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

from vtzero_spark.engine import assemble, enrich, geomops, synth, tiling
from vtzero_spark.engine.synth import EXTENT, ZOOM


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _region_tiles(spark, sf_dir):
    f = entry._features(spark, sf_dir).withColumn(
        "region",
        F.concat(F.lit("R"), (F.col("phash") % 64).cast("string")))
    return f, assemble.encode_point_tiles_arrow(
        f.select(*entry.POINT_COLS, "region"),
        prop_spec=entry.PROP_SPEC_REGION)


def _attrs(spark, n=48):
    return spark.range(n).select(
        F.concat(F.lit("R"), F.col("id").cast("string")).alias("region"),
        ((F.col("id") * 7) % 64 + 1).alias("weight"),
        F.concat(F.lit("C"), (F.col("id") % 5).cast("string")).alias("cls"))


BASE = [("phash", 5), ("fmt", 1), ("caption", 1), ("region", 1)]
ATTR = [("weight", 5, "weight"), ("cls", 1, "cls")]
FULL_SPEC = [(k, vt, k) for k, vt in BASE] + [(k, vt, c) for k, vt, c in ATTR]


def test_join_attributes_byte_identical_to_direct_encode(spark, sf_dir):
    """THE tile-join law: decode -> broadcast join -> re-encode equals
    encoding the relationally-joined corpus directly, byte for byte —
    dictionaries rebuild first-appearance on the surviving rows and
    the geometry stream survives the round trip exactly."""
    f, tiles = _region_tiles(spark, sf_dir)
    enriched = enrich.join_attributes(
        tiles, _attrs(spark), key_prop=("region", 1),
        base_spec=BASE, attr_spec=ATTR, how="inner")

    direct_feats = (
        f.join(F.broadcast(_attrs(spark)), "region", "inner")
        .select("z", "x", "y", "layer_name", "feature_ordinal",
                "feature_id", F.lit(1).alias("geom_type"),
                F.array(F.lit(9).cast("long"),
                        geomops._zz(F.col("loc_x").cast("long")),
                        geomops._zz(F.col("loc_y").cast("long"))
                        ).alias("geometry"),
                "phash", "fmt", "caption", "region", "weight", "cls"))
    direct = assemble.encode_geom_tiles(direct_feats, prop_spec=FULL_SPEC)

    a = {(r.z, r.x, r.y): bytes(r.tile_bytes) for r in enriched.collect()}
    b = {(r.z, r.x, r.y): bytes(r.tile_bytes) for r in direct.collect()}
    assert a == b and len(a) > 100


def test_join_attributes_inner_drops_left_fills(spark, sf_dir):
    f, tiles = _region_tiles(spark, sf_dir)
    attrs = _attrs(spark)  # covers R0..R47; R48..R63 unmatched
    inner = enrich.join_attributes(
        tiles, attrs, ("region", 1), BASE, ATTR, how="inner")
    left = enrich.join_attributes(
        tiles, attrs, ("region", 1), BASE, ATTR, how="left",
        fill={"weight": 0, "cls": "none"})

    di = assemble.decode_tiles(inner, properties=True) \
        .where(F.col("decode_status") == "ok")
    dl = assemble.decode_tiles(left, properties=True) \
        .where(F.col("decode_status") == "ok")
    n_src = f.count()
    n_matched = f.where(F.col("phash") % 64 < 48).count()
    assert di.count() == n_matched < n_src
    assert dl.count() == n_src
    p = F.col("properties")
    unmatched = dl.where(p["region"]["sval"].substr(2, 10).cast("int") >= 48)
    got = unmatched.select(
        F.collect_set(p["weight"]["ival"]).alias("w"),
        F.collect_set(p["cls"]["sval"]).alias("c")).first()
    assert got.w == [0] and got.c == ["none"]


def test_join_attributes_geometry_passes_through_verbatim(spark, sf_dir):
    _, tiles = _region_tiles(spark, sf_dir)
    enriched = enrich.join_attributes(
        tiles, _attrs(spark), ("region", 1), BASE, ATTR, how="inner")
    src = assemble.decode_tiles(tiles).select(
        "z", "x", "y", "layer_name", "feature_id",
        F.col("geometry").alias("g_src"))
    out = assemble.decode_tiles(enriched).select(
        "z", "x", "y", "layer_name", "feature_id",
        F.col("geometry").alias("g_out"))
    joined = out.join(src, ["z", "x", "y", "layer_name", "feature_id"])
    n_out = out.count()
    assert joined.count() == n_out > 0
    assert joined.where(F.col("g_src") != F.col("g_out")).count() == 0


def test_join_attributes_validation_and_malformed_tiles(spark, sf_dir):
    _, tiles = _region_tiles(spark, sf_dir)
    with pytest.raises(ValueError, match="how must be"):
        enrich.join_attributes(tiles, _attrs(spark), ("region", 1),
                               BASE, ATTR, how="outer")
    with pytest.raises(ValueError, match="fill defaults"):
        enrich.join_attributes(tiles, _attrs(spark), ("region", 1),
                               BASE, ATTR, how="left")
    # a malformed source tile is excluded, never a task failure
    bad = spark.createDataFrame(
        [(int(ZOOM), 99, 99, 1, bytearray(b"\xff\xfegarbage"))],
        "z long, x long, y long, num_layers int, tile_bytes binary")
    out = enrich.join_attributes(
        tiles.unionByName(bad), _attrs(spark), ("region", 1),
        BASE, ATTR, how="inner")
    assert out.where((F.col("x") == 99) & (F.col("y") == 99)).count() == 0


def test_join_attributes_plan_broadcasts_one_exchange(spark, sf_dir):
    """The enrichment plan at 100 TB: the dimension side broadcasts
    (never a SortMergeJoin) and the ONLY Exchanges are those of the
    base corpus derivation + the re-encode's own repartition(z,x,y) —
    the join itself adds none."""
    _, tiles = _region_tiles(spark, sf_dir)
    base_ex = len(re.findall(r"\(\d+\) Exchange", plan(tiles)))
    enriched = enrich.join_attributes(
        tiles, _attrs(spark), ("region", 1), BASE, ATTR, how="inner")
    p = plan(enriched)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == base_ex + 1


def test_tileset_stats_matches_pandas_reference(spark, sf_dir):
    f = entry._features(spark, sf_dir)
    tiles = entry._encode_image_tiles(f)
    got = enrich.tileset_stats(tiles).toPandas() \
        .sort_values(["layer_name", "attribute"]).reset_index(drop=True)

    pdf = f.select("layer_name", "phash", "fmt", "caption").toPandas()
    rows = []
    for ln, sub in pdf.groupby("layer_name"):
        rows.append((ln, "caption", "string", len(sub),
                     sub["caption"].nunique(), None, None))
        rows.append((ln, "fmt", "string", len(sub),
                     sub["fmt"].nunique(), None, None))
        rows.append((ln, "phash", "uint", len(sub),
                     sub["phash"].nunique(),
                     float(sub["phash"].min()), float(sub["phash"].max())))
    want = pd.DataFrame(rows, columns=got.columns) \
        .sort_values(["layer_name", "attribute"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"n": "int64", "n_distinct": "int64"}),
        want.astype({"n": "int64", "n_distinct": "int64"}))


def test_tileset_stats_mixed_type_attribute(spark, sf_dir):
    """A key encoded with two wire types across features reports
    'mixed' (the tilestats rule), and numeric min/max still cover the
    numeric rows only."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    feats = assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        F.lit(1).alias("geom_type"), "loc_x", "loc_y",
        F.when(F.col("iid") % 2 == 0, F.col("fmt"))
         .otherwise(F.col("phash").cast("string")).alias("tag_s"))
    even = feats.where(F.col("feature_id") % 2 == 0)
    odd = feats.where(F.col("feature_id") % 2 == 1) \
        .withColumn("tag_i", F.col("tag_s").cast("long"))
    t_even = assemble.encode_point_tiles(
        even, prop_spec=[("tag", 1, "tag_s")])
    t_odd = assemble.encode_point_tiles(
        odd.withColumn("x", F.col("x") + 100),  # disjoint tile addrs
        prop_spec=[("tag", 5, "tag_i")])
    stats = enrich.tileset_stats(t_even.unionByName(t_odd)) \
        .where(F.col("attribute") == "tag").collect()
    assert all(r.att_type == "mixed" for r in stats)
    mx = max(r.max_num for r in stats)
    assert mx > 1000  # ranges come from the numeric rows only


def test_tileset_stats_approx_path(spark, sf_dir):
    tiles = entry._encode_image_tiles(entry._features(spark, sf_dir))
    exact = {(r.layer_name, r.attribute): r.n_distinct
             for r in enrich.tileset_stats(tiles).collect()}
    approx = {(r.layer_name, r.attribute): r.n_distinct
              for r in enrich.tileset_stats(tiles, exact=False).collect()}
    assert exact.keys() == approx.keys()
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(2, 0.1 * v), (k, v, approx[k])


# ------------------------- retired window slots stay parity-pinned


def test_streets_filter_equals_decoded_rows(spark, sf_dir):
    """streets_filter (plan-side) left the driver window in round-5
    session 7: its relational answer is identical to the still-present
    streets_filter_decoded, which proves the same rows THROUGH the
    encode->decode byte round trip."""
    a = entry.q_streets_filter(spark, sf_dir).toPandas() \
        .sort_values(["z", "x", "y", "layer_name"]).reset_index(drop=True)
    b = entry.q_streets_filter_decoded(spark, sf_dir).toPandas() \
        .sort_values(["z", "x", "y", "layer_name"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_tile_counts_equals_tile_assign_rollup(spark, sf_dir):
    """tile_counts left the window in round-5 session 7: it is exactly
    the (z,x,y) rollup of the still-present row-level tile_assign
    (hash-matched by the driver)."""
    assign = entry.q_tile_assign(spark, sf_dir)
    want = {(r.z, r.x, r.y): r.n_features for r in
            assign.groupBy("z", "x", "y")
                  .agg(F.count("*").alias("n_features")).collect()}
    got = {(r.z, r.x, r.y): r.n_features for r in
           entry.q_tile_counts(spark, sf_dir).collect()}
    assert got == want


def test_tileset_metadata_synth_and_reference(spark, sf_dir):
    """TileJSON metadata: zoom/bounds from (z,x,y), per-layer spans
    from the header-only layer scan, fields from tileset_stats —
    checked on the synth corpus and on the real reference tile."""
    import json

    tiles = entry._encode_image_tiles(entry._features(spark, sf_dir))
    meta = enrich.tileset_metadata(tiles, name="synth")
    assert meta["tilejson"] == "3.0.0" and meta["name"] == "synth"
    assert meta["minzoom"] == meta["maxzoom"] == ZOOM
    assert [v["id"] for v in meta["vector_layers"]] == ["L0", "L1", "L2"]
    n_feats = entry._features(spark, sf_dir).count()
    assert sum(v["feature_count"] for v in meta["vector_layers"]) == n_feats
    for v in meta["vector_layers"]:
        assert v["fields"] == {"phash": "uint", "fmt": "string",
                               "caption": "string"}
        assert v["minzoom"] == v["maxzoom"] == ZOOM
    json.dumps(meta)  # serializable as served

    buf = open("/root/reference/test/data/"
               "mapbox-streets-v6-14-8714-8017.mvt", "rb").read()
    ref = spark.createDataFrame(
        [(14, 8714, 8017, 12, bytearray(buf))],
        "z long, x long, y long, num_layers int, tile_bytes binary")
    m2 = enrich.tileset_metadata(ref)
    assert m2["minzoom"] == m2["maxzoom"] == 14
    assert m2["bounds"] == [8714, 8017, 8714, 8017]
    assert len(m2["vector_layers"]) == 12
    road = {v["id"]: v for v in m2["vector_layers"]}["road"]
    assert road["fields"]["class"] == "string"
