"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship pipeline (images -> tile assignment -> MVT
layer/tile encode) on sf0.001.

queries()/oracle_sql(): one entry per implemented operator from
SURVEY.md §2 / §2.11 plus the training-data pipeline operators. Every
oracle-matched query uses integer-exact arithmetic so the DuckDB
comparison is bit-stable; codec-byte and hash-sketch operators that SQL
cannot express are included without oracles (rows-only checks) and are
verified byte-exactly in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vtzero_spark.engine import (
    assemble, cells, composite, enrich, geomops, joins, knn, lint,
    rewrite, sessions, simsearch, synth, textops, thin, tiling,
)
from vtzero_spark.engine import dbscan as _dbscan
from vtzero_spark.engine import exif as _exif
from vtzero_spark.engine import hull as _hull
from vtzero_spark.engine import snap as _snap
from vtzero_spark.engine import trajectory as _trajectory
from vtzero_spark.engine import geojson as _geojson
from vtzero_spark.engine import hilbert as _hilbert
from vtzero_spark.engine import hexcells as _hexcells
from vtzero_spark.engine import overlay as _overlay
from vtzero_spark.engine import raster as _raster
from vtzero_spark.engine import supercluster as _supercluster
from vtzero_spark.engine.synth import EXTENT, WORLD, ZOOM, ZOOM_R

BUFFER = 64  # tile-edge buffer (vtzero fixtures 053-056 semantics)
K_NN = 5
N_QUERIES = 20
CELL_LEVEL = 4  # quadkey level with the same 4096-unit cells as EXTENT
DW_RADIUS = 1500  # distance-within join radius (world units)

# fixed property schema of the image layers: (key, vtype, column);
# phash is a uint value (types.hpp:213-234), fmt/caption are strings
PROP_SPEC = [("phash", 5, "phash"), ("fmt", 1, "fmt"), ("caption", 1, "caption")]
POINT_COLS = ["z", "x", "y", "layer_name", "feature_ordinal", "feature_id",
              "loc_x", "loc_y", "phash", "fmt", "caption"]


def _encode_image_layers(feats: DataFrame) -> DataFrame:
    """Hot path: vectorized point-layer encode with the fixed PROP_SPEC
    (byte-identical to the generic encode_layers, asserted in tests)."""
    return assemble.encode_point_layers(feats.select(*POINT_COLS), prop_spec=PROP_SPEC)


def _encode_image_tiles(feats: DataFrame) -> DataFrame:
    """Fused single-shuffle layer+tile encode: the batch point encoder
    over sorted Arrow batches (byte-identical to
    encode_tiles(_encode_image_layers(...)) and to the generic
    encode_tiles(encode_layers(...)), asserted in tests)."""
    return assemble.encode_point_tiles_arrow(
        feats.select(*POINT_COLS), prop_spec=PROP_SPEC)


# ------------------------------------------------------------ features

def _features(spark: SparkSession, sf_dir: str, buffer: int = BUFFER,
              img: DataFrame | None = None) -> DataFrame:
    """images -> buffered tile assignment -> feature rows ready for the
    MVT encode aggregation (ordinal = iid keeps vtzero's positional
    order deterministic under shuffle, SURVEY §2.8). ``img`` overrides
    the corpus (e.g. synth.images_v2 for the tile_diff patch law)."""
    if img is None:
        img = synth.images(spark, sf_dir)
    feats = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=buffer)
    props = F.array(
        F.struct(F.lit("phash").alias("key"), F.lit(5).alias("vtype"),
                 F.lit(None).cast("string").alias("sval"),
                 F.lit(None).cast("double").alias("dval"),
                 F.col("phash").cast("long").alias("ival")),
        F.struct(F.lit("fmt").alias("key"), F.lit(1).alias("vtype"),
                 F.col("fmt").alias("sval"),
                 F.lit(None).cast("double").alias("dval"),
                 F.lit(None).cast("long").alias("ival")),
        F.struct(F.lit("caption").alias("key"), F.lit(1).alias("vtype"),
                 F.col("caption").alias("sval"),
                 F.lit(None).cast("double").alias("dval"),
                 F.lit(None).cast("long").alias("ival")),
    )
    return feats.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        "loc_x", "loc_y",
        props.alias("props"),
        "image_id", "wx", "wy", "phash", "fmt", "caption",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full raster->vector pipeline at sf0.001; returns one
    row per encoded MVT tile."""
    feats = _features(spark, "/root/testdata/sf0.001")
    tiles = _encode_image_tiles(feats)
    return tiles.select(
        "z", "x", "y", "num_layers",
        F.octet_length("tile_bytes").alias("tile_size"),
    ).orderBy("z", "x", "y")


# ------------------------------------------------------------ queries

def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _features(spark, sf_dir)
    return f.select("image_id", "z", "x", "y", "loc_x", "loc_y",
                    F.col("phash").cast("long").alias("phash"))


def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _features(spark, sf_dir)
    return f.groupBy("z", "x", "y").agg(
        F.count("*").alias("n_features"),
        F.countDistinct("layer_name").alias("n_layers"),
    )


def q_layer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vtzero-stats analog (examples/vtzero-stats.cpp:20-54) computed
    plan-side: per-layer feature count and dictionary sizes."""
    f = _features(spark, sf_dir)
    return f.groupBy("z", "x", "y", "layer_name").agg(
        F.count("*").alias("num_features"),
        F.lit(3).cast("long").alias("key_table_size"),
        (F.countDistinct("phash") + F.countDistinct("fmt")
         + F.countDistinct("caption")).alias("value_table_size"),
    )


def q_mvt_layer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same numbers derived from the ACTUAL encoded layer bytes
    (dictionary first-appearance dedup inside the encode UDF) — the
    oracle cross-checks the codec's dictionary semantics."""
    f = _features(spark, sf_dir)
    layers = _encode_image_layers(f)
    return layers.select(
        "z", "x", "y", "layer_name", "num_features",
        F.col("key_table_size").cast("long").alias("key_table_size"),
        F.col("value_table_size").cast("long").alias("value_table_size"),
    )


def q_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full encode->decode round trip through the MVT codec: decoded
    per-layer feature counts and coordinate sums must equal the
    pre-encode plan-side numbers the oracle computes directly."""
    f = _features(spark, sf_dir)
    tiles = _encode_image_tiles(f)
    decoded = assemble.decode_tiles(tiles)
    pts = assemble.decoded_points(decoded.where(F.col("decode_status") == "ok"))
    return pts.groupBy("z", "x", "y", "layer_name").agg(
        F.count("*").alias("n_features"),
        F.sum("pt_x").alias("sum_x"),
        F.sum("pt_y").alias("sum_y"),
    )


def q_feature_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_feature_by_id analog (layer.hpp:405-420): first match in
    feature order wins; our feature order is ordinal order, so the
    first match is min(iid) per layer."""
    f = _features(spark, sf_dir)
    return f.groupBy("z", "x", "y", "layer_name").agg(
        F.min("feature_id").alias("first_feature_id"),
    )


def q_dict_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-appearance dictionary semantics as a relational query: the
    index assigned to each distinct fmt value inside a layer equals its
    dense rank by first feature ordinal (builder_impl.hpp:104-107)."""
    f = _features(spark, sf_dir)
    firsts = f.groupBy("z", "x", "y", "layer_name", "fmt").agg(
        F.min("feature_ordinal").alias("first_ord"))
    w = Window.partitionBy("z", "x", "y", "layer_name").orderBy("first_ord")
    return firsts.withColumn("value_idx", (F.row_number().over(w) - 1).cast("long")) \
        .select("z", "x", "y", "layer_name", "fmt", "value_idx")


def q_polygon_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """images -> rect footprints -> MVT encode -> decode -> vectorized
    geometry stats, aggregated per layer. Exercises the polygon
    builder (builder.hpp:778-1141) and the full decoder (§2.5)
    end-to-end on the distributed path."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    feats = geomops.rect_stream_features(assigned)
    tiles = assemble.encode_geom_tiles(feats)
    stats = geomops.tile_geometry_stats(tiles)
    return stats.where(F.col("decode_status") == "ok").groupBy(
        "z", "x", "y", "layer_name"
    ).agg(
        F.count("*").alias("n_features"),
        F.sum("n_points").alias("n_points"),
        F.sum("sum_x").alias("sum_x"),
        F.sum("sum_y").alias("sum_y"),
        F.sum("area2").alias("area2"),
    )


def q_donut_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-ring polygon round-trip: every image footprint becomes an
    outer rectangle plus an opposite-wound half-size hole, pushed
    through the distributed encode -> decode -> stats path. Exercises
    ring classification (outer positive / inner negative shoelace,
    geometry.hpp:337-379, fixtures 021/022) end to end: n_rings counts
    decoded rings, area2 is outer-minus-hole signed area."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    feats = geomops.donut_stream_features(assigned)
    tiles = assemble.encode_geom_tiles(feats)
    stats = geomops.tile_geometry_stats(tiles)
    return stats.where(F.col("decode_status") == "ok").groupBy(
        "z", "x", "y", "layer_name"
    ).agg(
        F.count("*").alias("n_features"),
        F.sum("n_parts").cast("long").alias("n_rings"),
        F.sum("n_points").alias("n_points"),
        F.sum("sum_x").alias("sum_x"),
        F.sum("sum_y").alias("sum_y"),
        F.sum("area2").alias("area2"),
    )


def q_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ST_Centroid through the wire format: the donut polygons
    (outer ring + opposite-wound hole) are encoded, decoded back, and
    each feature's shoelace centroid numerators (cxn = 6*A*Cx,
    cyn = 6*A*Cy, signed int64 — the hole SUBTRACTS via its winding,
    geometry.hpp:161-169 ring classification) roll up per tile-layer.
    The oracle computes the same integers in closed form from the
    planted rectangles, so a single flipped ring or off-by-one in the
    decoded coordinates breaks the hash."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    feats = geomops.donut_stream_features(assigned)
    tiles = assemble.encode_geom_tiles(feats)
    stats = geomops.tile_geometry_stats(tiles)
    return stats.where(F.col("decode_status") == "ok").groupBy(
        "z", "x", "y", "layer_name"
    ).agg(
        F.count("*").alias("n_features"),
        F.sum("cxn").alias("cxn"),
        F.sum("cyn").alias("cyn"),
        F.sum("area2").alias("area2"),
    )


def q_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user track statistics (engine/trajectory.py): events planted
    at deterministic world positions -> time-ordered leg walk -> exact
    int64 path/bbox/displacement metrics. ONE shuffle: the analytic
    window's user_id exchange is reused by the final groupBy."""
    ev = synth.load(spark, sf_dir, "events")
    return _trajectory.track_stats(_trajectory.event_points(ev))


def q_snap_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching (engine/snap.py): snap every GPS event to its
    nearest road segment within RADIUS — ST_ClosestPoint over a
    uniform-densified network, EXACT via the d^2*len2 integer key.
    Plan: the point side computes one cell id and probes a broadcast
    array-of-candidates hash join, zero point-side shuffles; the
    brute-force DuckDB twin verifies the covering-cell candidate cull
    is lossless. Tie rule (d2xl, road_id, seg) is hash-gated."""
    segs = _snap.roads(spark, sf_dir)
    pts = _trajectory.event_points(synth.load(spark, sf_dir, "events"))
    return _snap.snap_points(pts, segs).select(
        "event_id", "road_id", "seg", "d2xl", "sxn", "syn")


def q_road_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Road usage rollup (engine/snap.py): snap -> per-road hit count,
    exact distinct users, best approach distance — the map-matched
    completion of the OD flow matrix. One map-side-combined groupBy on
    top of the shuffle-free snap."""
    segs = _snap.roads(spark, sf_dir)
    pts = _trajectory.event_points(synth.load(spark, sf_dir, "events"))
    return _snap.road_usage(pts, segs)


def q_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed convex hull per user track (engine/hull.py,
    ST_ConvexHull aggregate): shuffle-free partition-local partial
    hulls then one per-group pass (hull is a monoid; map-side combine
    for geometry), every output column exact int64.
    The oracle re-derives hull membership edge-by-edge in pure SQL
    (maximal-edge characterization), so vertex set, vertex sums AND
    the shoelace area of the hull ring are all hash-gated."""
    ev = synth.load(spark, sf_dir, "events")
    return _hull.hull_stats(_trajectory.event_points(ev))


def q_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text boundary end to end: rectangle footprints -> wire
    tiles (encode_geom_tiles) -> decode -> GeoJSON Feature strings
    (engine/geojson.py export, vt2geojson's walk) -> PURE-JVM parse
    (get_json_object/from_json) -> exploded vertex rows. The oracle is
    closed-form DuckDB integer math on the rectangle corners — no JSON
    on the oracle side — so a hash match pins encode, decode, text
    emission, and text parsing in one chain (closing point re-emitted
    per geometry.hpp:373)."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    feats = geomops.rect_stream_features(assigned)
    tiles = assemble.encode_geom_tiles(feats)
    dec = assemble.decode_tiles(tiles).where(F.col("decode_status") == "ok")
    exp = _geojson.export_geojson(dec).where(F.col("status") == "ok")
    v = _geojson.vertices(_geojson.parse_geojson(exp))
    return v.select(
        "z", "x", "y", "layer_name",
        F.col("fid").alias("feature_id"), "part", "idx", "cx", "cy")


def q_overzoom_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overzoom (mapbox/vtcomposite's archive->wire op, built here on
    the reference codec semantics): the buffer-0 point tileset at ZOOM
    is overzoomed one level — geometry scaled 2x and each child
    clipped out of its parent, shuffle-free (composite.overzoom_tiles)
    — then the children are decoded back. Per child tile, feature
    count and local-coordinate sums must equal pure integer math on
    the corpus (child x = (2*wx) div E, child loc = (2*wx) mod E):
    the integer-exactness law, byte-pinned in tests/test_composite.py."""
    parent = _encode_image_tiles(_features(spark, sf_dir, buffer=0))
    kids = composite.overzoom_tiles(parent, dz=1)
    decoded = assemble.decode_tiles(
        kids.where(F.col("status") == "ok")
            .select("z", "x", "y", "tile_bytes"))
    pts = assemble.decoded_points(
        decoded.where(F.col("decode_status") == "ok"))
    return pts.groupBy("z", "x", "y", "layer_name").agg(
        F.count("*").alias("n_features"),
        F.sum("pt_x").alias("sum_x"),
        F.sum("pt_y").alias("sum_y"),
    )


def q_geom_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error semantics as data (SURVEY §7.3): one quarter of the
    features get a deliberately malformed command stream (ClosePath
    count 2, fixtures 047; huge MoveTo count, fixtures 051/057); the
    codec surfaces them as decode_status rows instead of task
    failures. Geometry passthrough (set_geometry analog) carries the
    raw streams through encode untouched."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    x0, y0 = F.col("loc_x").cast("long"), F.col("loc_y").cast("long")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    bad_close = F.array(  # ClosePath count 2 -> GeometryError
        F.lit(9).cast("long"), geomops._zz(x0), geomops._zz(y0),
        F.lit((3 << 3) | 2).cast("long"),
        geomops._zz(w), F.lit(0).cast("long"), F.lit(0).cast("long"),
        geomops._zz(h), geomops._zz(-w), F.lit(0).cast("long"),
        F.lit((2 << 3) | 7).cast("long"),
    )
    bad_count = F.array(  # MoveTo count 10000 with 1 point -> count too large
        F.lit((10000 << 3) | 1).cast("long"), geomops._zz(x0), geomops._zz(y0),
    )
    geom = (
        F.when(F.col("iid") % 4 == 1, bad_close)
        .when(F.col("iid") % 4 == 2, bad_count)
        .otherwise(geomops.rect_cmds(x0, y0, w, h))
    )
    gtype = F.when(F.col("iid") % 4 == 2, F.lit(1)).otherwise(F.lit(3))
    feats = assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        gtype.alias("geom_type"),
        geom.alias("geometry"),
    )
    tiles = assemble.encode_geom_tiles(feats)
    stats = geomops.geometry_stats(
        assemble.decode_tiles(tiles).where(F.col("decode_status") == "ok"))
    cls = F.when(F.col("decode_status") == "ok", "ok").otherwise(
        F.split(F.col("decode_status"), ":").getItem(0))
    return stats.groupBy("z", "x", "y", cls.alias("status")).agg(
        F.count("*").alias("n"))


def q_streets_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vtzero-streets analog (examples/vtzero-streets.cpp:22-78):
    property-equality filter (fmt == 'png') then re-encode — the
    output layers' dictionaries are rebuilt on the filtered subset,
    the distributed property_mapper (property_mapper.hpp:31-99)."""
    f = _features(spark, sf_dir).where(F.col("fmt") == "png")
    layers = _encode_image_layers(f)
    return layers.select(
        "z", "x", "y", "layer_name", "num_features",
        F.col("value_table_size").cast("long").alias("value_table_size"),
    )


def q_streets_filter_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRUE vtzero-streets pipeline (examples/vtzero-streets.cpp:
    22-78), end to end through bytes: encode tiles, DECODE them
    (including the per-layer key/value dictionary resolution,
    layer.hpp:424-508), filter features by a *decoded* property value,
    re-encode the survivors, report the rebuilt layer stats. Oracle =
    the same SQL as streets_filter — proving the byte round trip is
    invisible to the relational result."""
    f = _features(spark, sf_dir)
    tiles = _encode_image_tiles(f)
    dec = assemble.decode_tiles(tiles, properties=True)
    ok = dec.where(F.col("decode_status") == "ok")
    png = ok.where(F.col("properties")["fmt"]["sval"] == "png")
    pts = assemble.decoded_points(png)
    feats = pts.select(
        "z", "x", "y", "layer_name",
        # decoded position within the layer preserves the original
        # feature order, so rebuilt dictionaries match a sequential
        # vtzero run over the filtered subset
        F.col("feature_ordinal").cast("long").alias("feature_ordinal"),
        "feature_id",
        F.col("pt_x").cast("long").alias("loc_x"),
        F.col("pt_y").cast("long").alias("loc_y"),
        F.col("properties")["phash"]["ival"].alias("phash"),
        F.col("properties")["fmt"]["sval"].alias("fmt"),
        F.col("properties")["caption"]["sval"].alias("caption"),
    )
    layers = assemble.encode_point_layers(feats, prop_spec=PROP_SPEC)
    return layers.select(
        "z", "x", "y", "layer_name", "num_features",
        F.col("value_table_size").cast("long").alias("value_table_size"),
    )


PROP_SPEC_REGION = PROP_SPEC + [("region", 1, "region")]


def q_join_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tile-join (the mapbox ecosystem's ``tile-join -c``
    with ``-i``; vtzero's analog surface is property_mapper.hpp:31-99
    re-keying dictionaries while the geometry view rides through
    untouched): the corpus is encoded with a fourth property
    region = 'R'||(phash%64), a 48-row attribute table — the
    dimension side, BROADCAST — joins on the decoded region value
    with how='inner', so features in the 16 unmatched regions DROP
    (tile-join's -i). Dictionaries rebuild first-appearance, geometry
    byte streams pass through verbatim (byte law in
    tests/test_enrich.py). The enriched tiles are decoded BACK and
    aggregated so the oracle covers the full decode -> broadcast join
    -> re-encode -> decode round trip in pure SQL."""
    f = _features(spark, sf_dir).withColumn(
        "region",
        F.concat(F.lit("R"), (F.col("phash") % 64).cast("string")))
    tiles = assemble.encode_point_tiles_arrow(
        f.select(*POINT_COLS, "region"), prop_spec=PROP_SPEC_REGION)
    attrs = spark.range(48).select(
        F.concat(F.lit("R"), F.col("id").cast("string")).alias("region"),
        ((F.col("id") * 7) % 64 + 1).alias("weight"),
        F.concat(F.lit("C"), (F.col("id") % 5).cast("string")).alias("cls"))
    enriched = enrich.join_attributes(
        tiles, attrs, key_prop=("region", 1),
        base_spec=[("phash", 5), ("fmt", 1), ("caption", 1), ("region", 1)],
        attr_spec=[("weight", 5, "weight"), ("cls", 1, "cls")],
        how="inner")
    dec = assemble.decode_tiles(enriched, properties=True) \
        .where(F.col("decode_status") == "ok")
    p = F.col("properties")
    return dec.groupBy("z", "x", "y", "layer_name").agg(
        F.count("*").alias("n_features"),
        F.sum(p["weight"]["ival"]).alias("sum_weight"),
        F.countDistinct(p["cls"]["sval"]).alias("n_cls"),
        F.sum(p["phash"]["ival"]).alias("sum_phash"))


def q_tilestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tilestats (mapbox-geostats) over the encoded tileset: decode
    every tile's key/value tables and reduce to one row per (layer,
    attribute) — type name, feature count, distinct-value count,
    numeric range. The explode never leaves its executor (map-side
    partials); output rows = layers x attributes regardless of corpus
    size. Oracle: the same stats in pure SQL over the assignment
    CTE."""
    tiles = _encode_image_tiles(_features(spark, sf_dir))
    return enrich.tileset_stats(tiles)


def q_tile_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE-query vtzero-check (examples/vtzero-check.cpp:30-229):
    every image becomes one of five deterministic geometry cases —
    clean rect, duplicate-point polyline (error), far-off-band rect
    (warning), zero-area collinear ring (errors), ClosePath-count-2
    stream (fatal; routed to the last-sorted layer so it aborts only
    that layer's scan, matching the CLI's exception flow) — encoded to
    real tiles and linted distributed. Oracle: the finding counts are
    closed-form in the construction."""
    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    x0, y0 = F.col("loc_x").cast("long"), F.col("loc_y").cast("long")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    zz = geomops._zz
    zero = F.lit(0).cast("long")
    dup_path = F.array(  # p0 -> p1 -> p1 (zero-delta second segment)
        F.lit(9).cast("long"), zz(x0), zz(y0),
        F.lit((2 << 3) | 2).cast("long"), zz(w), zz(h), zero, zero)
    far_rect = geomops.rect_cmds(x0 + 3 * EXTENT, y0, w, h)
    zero_ring = F.array(  # collinear 2-point ring: area 0, 3 pts
        F.lit(9).cast("long"), zz(x0), zz(y0),
        F.lit((1 << 3) | 2).cast("long"), zz(w), zero,
        F.lit(15).cast("long"))
    bad_close = F.array(  # ClosePath count 2 (fixture 047) -> fatal
        F.lit(9).cast("long"), zz(x0), zz(y0),
        F.lit((3 << 3) | 2).cast("long"), zz(w), zero, zero, zz(h),
        zz(-w), zero, F.lit((2 << 3) | 7).cast("long"))
    m = F.col("iid") % 5
    geom = (
        F.when(m == 1, dup_path)
        .when(m == 2, far_rect)
        .when(m == 3, zero_ring)
        .when(m == 4, bad_close)
        .otherwise(geomops.rect_cmds(x0, y0, w, h))
    )
    gtype = F.when(m == 1, F.lit(2)).otherwise(F.lit(3))
    lname = F.when(m == 4, F.lit("zz_bad")).otherwise(F.col("layer_name"))
    feats = assigned.select(
        "z", "x", "y", lname.alias("layer_name"),
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        gtype.alias("geom_type"), geom.alias("geometry"))
    tiles = assemble.encode_geom_tiles(feats)
    return lint.tile_lint(tiles).withColumnRenamed("check", "chk")


def q_streets_filter_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vtzero-streets as the FUSED zero-shuffle rewrite
    (engine/rewrite.py): encode tiles, then filter+rebuild each tile
    in one per-tile pass — the CLI's own execution model
    (examples/vtzero-streets.cpp:22-78) made embarrassingly parallel;
    the property match runs on wire bytes against the value table, no
    value ever decodes. Same oracle as streets_filter: the fused byte
    path must be invisible to the relational result."""
    f = _features(spark, sf_dir)
    tiles = _encode_image_tiles(f)
    out = rewrite.filter_tiles_by_property(tiles, "fmt", "png")
    stats = assemble.decode_layers(out)
    return stats.where(F.col("decode_status") == "ok").select(
        "z", "x", "y", "layer_name",
        F.col("num_features").cast("long").alias("num_features"),
        F.col("value_table_size").cast("long").alias("value_table_size"),
    )


def q_layer_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_layer_by_name analog (vector_tile.hpp:214-271) run through
    the real codec: encode tiles, decode them, select the layer named
    'L1', count its features per tile."""
    f = _features(spark, sf_dir)
    tiles = _encode_image_tiles(f)
    decoded = assemble.decode_tiles(tiles)
    return (
        decoded.where((F.col("decode_status") == "ok") & (F.col("layer_name") == "L1"))
        .groupBy("z", "x", "y")
        .agg(F.count("*").alias("n_features"),
             F.min("feature_id").alias("first_feature_id"))
    )


def q_tile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vtzero-check analog (examples/vtzero-check.cpp:81-88): decode
    the encoded tiles and classify every feature's coordinates —
    inside the extent vs the buffered warning band (legal but flagged,
    fixtures 053-056 semantics)."""
    f = _features(spark, sf_dir)
    tiles = _encode_image_tiles(f)
    decoded = assemble.decode_tiles(tiles)
    pts = assemble.decoded_points(decoded.where(F.col("decode_status") == "ok"))
    check = F.when(
        (F.col("pt_x") >= 0) & (F.col("pt_x") < EXTENT)
        & (F.col("pt_y") >= 0) & (F.col("pt_y") < EXTENT), "ok"
    ).otherwise("outside_extent")
    return pts.groupBy("z", "x", "y", check.alias("check")).agg(
        F.count("*").alias("n"))


def q_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadkey (S2-analog) cell ids at two levels + parent arithmetic;
    pure column math, oracle reproduces the bit-interleave exactly."""
    img = synth.images(spark, sf_dir)
    with_cell = cells.point_cells(img, CELL_LEVEL + 2, WORLD, out="cell6")
    return with_cell.select(
        "image_id",
        "cell6",
        cells.parent_cell(cells.parent_cell(F.col("cell6"))).alias("cell4"),
        cells.cell_level(F.col("cell6")).alias("level"),
    )


def q_hilbert_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve cell ordering at level 8 (S2's real ordering and
    PMTiles' tile-id space): the unrolled rotate-and-accumulate walk
    in pure column math (engine/hilbert.py), hash-matched against the
    chained-CTE DuckDB twin. Consecutive ids are 4-adjacent cells and
    quadrant subtrees stay contiguous intervals (test_hilbert.py), so
    Hilbert-clustered file layout strictly improves the Z-order
    range-serving locality at identical plan shape."""
    img = synth.images(spark, sf_dir)
    src = img.select(
        "iid",
        F.expr("wx div 256").alias("cx"),
        F.expr("wy div 256").alias("cy"))
    return _hilbert.with_hilbert(src, "cx", "cy", 8) \
        .select("iid", "cx", "cy", "hd")


def q_pip_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join keyed on the quadkey cell id — identical rows to q_pip."""
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    return cells.pip_join_cells(pts, polys, CELL_LEVEL, WORLD).select("image_id", "pid")


def q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    return joins.pip_join(pts, polys).select("image_id", "pid")


def q_pip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier salted PIP (the 100 TB shape): a cheap per-cell census
    finds hot probe cells; only their index rows replicate salt ways,
    cold cells take a plain shuffle join — row-identical to broadcast
    pip (same oracle)."""
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    return joins.pip_join(pts, polys, salt=8, hot_threshold=1800) \
        .select("image_id", "pid")


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = synth.images(spark, sf_dir)
    queries = synth.knn_queries(spark, sf_dir, N_QUERIES)
    return knn.knn_join(spark, pts, queries, k=K_NN, world=WORLD)


def q_dwithin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-within radius join (ST_DWithin analog): every
    (query, image) pair within DW_RADIUS, exact integer d2. The query
    side explodes to its 3x3 neighbor cells and broadcasts; the image
    side never shuffles (joins.dwithin_join)."""
    pts = synth.images(spark, sf_dir)
    qs = synth.radius_queries(spark, sf_dir)
    return joins.dwithin_join(pts, qs, DW_RADIUS) \
        .select("qid", "image_id", "d2")


DBSCAN_EPS = 120      # neighborhood radius (world units)
DBSCAN_MIN_PTS = 5    # incl. self (sklearn min_samples convention)
SC_RADIUS = 96        # supercluster greedy-absorb radius (world units)


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed DBSCAN over the clustered customer points:
    cell-bucketed neighbor self-join (the dwithin discipline, both
    sides co-hashed on the cell key), map-side-combined core census,
    min-label pointer-jumping components over the core graph, border
    points to the min neighboring core's component, noise = -1
    (engine/dbscan.py). Hash-matched against a DuckDB recursive-CTE
    transitive-closure oracle."""
    pts = synth.cluster_points(spark, sf_dir)
    return _dbscan.dbscan(pts, eps=DBSCAN_EPS, min_pts=DBSCAN_MIN_PTS)


def q_supercluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supercluster greedy map clustering over the clustered customer
    points (engine/supercluster.py): the published mapbox/supercluster
    sequential sweep in its lex-first-MIS closed form — seeds are the
    lexicographically-first maximal independent set of the radius
    graph, every point joins its min-id seed neighbor — resolved as a
    distributed WAVEFRONT over the cell-bucketed radius self-join
    (rounds 1+2 fused into one flag-join pass, dense blobs decide
    there; the pair set shrinks and is localCheckpoint'ed every
    round). Output is the exact cluster
    rollup (integer member sums + grid-quantized centroid),
    hash-matched against a DuckDB recursive-CTE oracle that iterates
    the SAME wavefront rule with the decided set riding each recursion
    row as a LIST<STRUCT>."""
    pts = synth.cluster_points(spark, sf_dir)
    labels = _supercluster.greedy_cluster(pts, SC_RADIUS)
    return _supercluster.cluster_rollup(pts, labels)


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics: dense 512x512 raster band aggregated under
    the polygon zones with pixel-center sample semantics — the
    raster-side twin of PIP (joins.zonal_stats = pip_join of pixel
    centers + map-side-combining rollup)."""
    pix = synth.pixel_grid(spark)
    polys = synth.polygons(spark, sf_dir)
    return joins.zonal_stats(pix, polys)


def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyfill + compact (H3 polygonToCellsCompact analog): level-8
    cells whose center lies in a diamond zone, compacted to the
    MINIMAL multi-resolution cover (complete sibling quartets promote
    recursively, cells.compact_cells). At sf0.01 the ~49k leaf cells
    compact 24x to ~2k cells spanning seven levels."""
    pix = synth.pixel_grid(spark, grid=256)
    polys = synth.polygons(spark, sf_dir)
    hits = joins.pip_join(pix, polys)
    c0 = hits.select(cells.cell_id(F.col("px"), F.col("py"), 8).alias("cell"))
    return cells.compact_cells(c0, 8).select(
        "cell", cells.cell_level(F.col("cell")).alias("level"))


def q_raster_stencil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 3x3 stencil over the dense raster band with halo
    exchange (raster.raster_stencil): border-band pixels ship to
    adjacent tiles (~6% halo volume at tile=64), one groupBy runs the
    whole convolution as a numpy pass per tile — integer-exact, so it
    hash-matches the scatter-then-group DuckDB mirror."""
    pix = synth.pixel_grid(spark)
    from vtzero_spark.engine import raster as _raster

    return _raster.raster_stencil(pix, synth.GRID)


def q_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-overlay intersection join (overlay.overlay_join):
    convex sets A (nation diamonds) x B (supplier diamonds) -> exact
    doubled intersection area per overlapping pair. Candidates from a
    broadcast covering-cell join; refine is the batch-vectorized SH
    clip + shoelace kernel. Oracle: closed form under the 45-degree
    rotation (diamond ∩ diamond = rectangle ∩ rectangle in u,v)."""
    from vtzero_spark.engine import overlay

    a = synth.polygons(spark, sf_dir)
    b = synth.polygons_b(spark, sf_dir)
    return overlay.overlay_join(a, b)


def q_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid rollup: per-tile stats at every zoom 0..ZOOM in one
    pass (loc coords rescaled to the fixed extent per level)."""
    img = synth.images(spark, sf_dir)
    p = tiling.pyramid_assign(img, ZOOM, EXTENT)
    return p.groupBy("z", "x", "y").agg(
        F.count("*").alias("n_features"),
        F.sum("loc_x").alias("sum_x"),
        F.sum("loc_y").alias("sum_y"),
    )


def q_thin_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-tile thinning with attribute accumulation
    (the drop/cluster/accumulate step tippecanoe-style callers apply
    before handing features to a vtzero encoder): keep every 4th
    feature per tile in LCG order, accumulate count/weight/centroid of
    the dropped ones onto the kept representative. ONE shuffle — the
    window's tile hash, reused by the aggregate (engine/thin.py)."""
    pts = synth.images(spark, sf_dir).select(
        "iid", "wx", "wy", (F.col("iid") % 97 + 1).alias("weight"))
    return thin.thin_accumulate(pts, step=4)


PYRAMID_BUDGET = 2000  # max features per (tile, layer) at low zooms


def q_pyramid_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-zoom MVT tile set: encode one tile per pyramid node
    (341 tiles for zooms 0..4) through the fused vectorized encoder.
    Low-zoom tiles are capped by the deterministic per-tile feature
    budget (standard tiling discipline; also the skew guard — without
    it the z0 group aggregates the entire dataset into one task)."""
    img = synth.images(spark, sf_dir)
    p = tiling.pyramid_assign(img, ZOOM, EXTENT)
    feats = p.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        "loc_x", "loc_y", "phash", "fmt", "caption",
    )
    feats = tiling.feature_budget(feats, PYRAMID_BUDGET)
    tiles = assemble.encode_point_tiles(feats, prop_spec=PROP_SPEC)
    return tiles.select("z", "x", "y", "num_layers",
                        F.octet_length("tile_bytes").alias("tile_size"))


def q_pyramid_tiles_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCAPPED pyramid through the skew-safe chunked encoder
    (engine/hot_tiles.py): the z0 tile holds every feature, yet no
    task ever encodes more than chunk_rows of them — distributed
    dictionary + parallel chunk sections + ordered concat,
    byte-identical to the single-group encoder (tests)."""
    from vtzero_spark.engine.hot_tiles import encode_point_tiles_chunked

    img = synth.images(spark, sf_dir)
    p = tiling.pyramid_assign(img, ZOOM, EXTENT)
    feats = p.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        "loc_x", "loc_y", "phash", "fmt", "caption",
    )
    tiles = encode_point_tiles_chunked(feats, PROP_SPEC, chunk_rows=25_000)
    return tiles.select("z", "x", "y", "num_layers",
                        F.octet_length("tile_bytes").alias("tile_size"))


def q_polygon_tiles_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon command-stream tiles through the skew-safe CHUNKED
    geometry encoder (hot_tiles.encode_geom_tiles_chunked): no task
    holds more than chunk_rows features even when one tile owns most
    polygons; byte parity with the single-group encoder is pinned in
    tests/test_hot_tiles.py."""
    from vtzero_spark.engine.hot_tiles import encode_geom_tiles_chunked

    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    feats = geomops.rect_stream_features(assigned)
    tiles = encode_geom_tiles_chunked(feats, chunk_rows=25_000)
    return tiles.select("z", "x", "y", "num_layers",
                        F.octet_length("tile_bytes").alias("tile_size"))


def q_clip_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench surface for the round-5 geometry-reduction pair: buffered
    assignment duplicates edge rects into neighbor tiles, clip.py cuts
    each copy to its own buffered rect (Sutherland–Hodgman, Arrow
    batch kernel), simplify.py runs the batched worklist
    Douglas–Peucker at a 2-unit tolerance, and the result aggregates
    per tile. Kernel-vs-scalar-oracle equivalence is pinned in
    tests/test_clip_simplify.py; this entry times the composition.
    """
    from vtzero_spark.engine import clip as clipmod
    from vtzero_spark.engine import simplify as simplifymod

    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(
        img, zoom=ZOOM, extent=EXTENT, buffer=256) \
        .withColumn("layer_name", F.lit("footprints"))
    feats = geomops.rect_footprint_features(assigned)
    feats = clipmod.clip_features(feats, extent=EXTENT, buffer=256)
    feats = simplifymod.simplify_features(feats, 2.0)
    pts = F.aggregate(
        F.transform("parts", lambda r: F.size(r)),
        F.lit(0), lambda a, b: a + b)
    return feats.groupBy("z", "x", "y").agg(
        F.count("*").alias("n_features"),
        F.sum(pts).alias("n_points"))


def q_render_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench surface for vector->raster rendering (engine/raster.py):
    buffered assign -> clip -> two-stage scanline rasterization ->
    256px PNG per tile through the repo codec (engine/png.py). The
    shuffle carries compressed partial raster buffers, never geometry
    (rasterization as a commutative monoid); kernel==scalar-oracle and
    partition-order byte determinism are pinned in tests/test_raster.py.
    """
    from vtzero_spark.engine import clip as clipmod
    from vtzero_spark.engine import raster as rastermod

    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=64)
    feats = geomops.rect_footprint_features(assigned)
    feats = clipmod.clip_features(feats, extent=EXTENT, buffer=64)
    tiles = rastermod.render_tiles(feats, size=256, extent=EXTENT)
    return tiles.select("z", "x", "y", "n_features", "n_pixels",
                        F.octet_length("png").alias("png_size"))


def q_mosaic_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench surface for browse-imagery mosaic tiles (engine/mosaic.py):
    per zoom-2 tile, an 8x8 grid of 16px thumbnails of each cell's
    deterministic winner image, composited and PNG-encoded through the
    repo codecs. SELECT-THEN-DECODE: a narrow min(iid) argmin (payload
    bytes never enter an aggregate) + broadcast winner fetch (the
    corpus never shuffles), so only tiles x 64 winners ever reach the
    Python decode stage regardless of corpus size. The bench input is
    a deterministic 1/16 slice taken BEFORE payload synthesis so the
    timing tracks the operator, not the in-container image generator
    (a real corpus reads bytes from storage; BENCH.md has the
    full-457k-from-parquet numbers). Serial-reference pixel parity,
    winner rule, and the plan shape are pinned in tests/test_mosaic.py
    (image output — no SQL oracle, same class as mvt_tiles/render_png).
    """
    from vtzero_spark.engine import mosaic as mosaicmod
    from vtzero_spark.engine.payload import with_image_bytes

    # payload attaches AFTER winner selection (mosaic_tiles' attach
    # hook): the synthesis stage is opaque to Catalyst, so a
    # bytes-carrying input would synthesize every corpus row twice
    # (selection scan + fetch join) instead of <= tiles x grid^2
    # winners; output is bit-identical (same winners, same per-iid
    # payload function — tests/test_mosaic.py)
    img = synth.images(spark, sf_dir).where(F.col("iid") % 16 == 1)
    return mosaicmod.mosaic_tiles(
        img, zoom=2, extent=16384, thumb=16, grid=8,
        attach=with_image_bytes
    ).select("z", "x", "y", "n_images", "n_failed",
             F.octet_length("png").alias("png_size"))


def q_pip_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal (H3-analog) cell index surface: the same PIP join as
    `pip`/`pip_cells`, bucketed on integer-exact hex cells
    (engine/hexcells.py), plus each matched point's hex cell id — so
    the oracle hash-checks BOTH the join rows and the cross-engine
    cube-rounding arithmetic (hexcells.hex_cell_sql) in one query."""
    from vtzero_spark.engine import hexcells

    img = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    j = hexcells.pip_join_hex(img, polys, 4096, 3584)
    return j.select(
        "image_id", "pid",
        hexcells.hex_cell(F.col("wx"), F.col("wy"), 4096, 3584).alias("hex"))


def q_raster_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synth.images(spark, sf_dir)
    r = tiling.raster_tiles(img, ZOOM_R, WORLD)
    shift = 1 << (ZOOM_R - ZOOM)
    return (
        r.withColumn("x", F.expr(f"rx div {shift}"))
        .withColumn("y", F.expr(f"ry div {shift}"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_images"),
             F.countDistinct(F.col("rx") * 64 + F.col("ry")).alias("n_raster_tiles"))
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sessionization (30-min gap) over the events table
    (engine/sessions.py)."""
    ev = synth.load(spark, sf_dir, "events")
    return sessions.sessionize(ev).drop("value_sum")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_exact(synth.load(spark, sf_dir, "documents"))


def q_dedup_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale form of exact dedup: shuffle a fixed-width xxhash64 key
    instead of full document text; identical groups (collision-free at
    test scale), so it matches the text-groupBy oracle."""
    return textops.dedup_exact_hashed(synth.load(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.ngram_jaccard_adjacent(synth.load(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(synth.load(spark, sf_dir, "documents"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_stats(synth.load(spark, sf_dir, "documents"))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_score(synth.load(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint(synth.load(spark, sf_dir, "documents"))


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation flow: exact dedup -> language filter ->
    quality gate -> fingerprint, one declarative plan (2 shuffles)."""
    return textops.curation_pipeline(synth.load(spark, sf_dir, "documents"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simsearch.ann_topk(synth.load(spark, sf_dir, "embeddings"))


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simsearch.embed_neardup_pairs(synth.load(spark, sf_dir, "embeddings"))


# --- rows-only queries (no SQL-expressible oracle; byte/tile/sketch
#     semantics verified in tests/ against Python oracles instead) ---

def q_mvt_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _features(spark, sf_dir)
    tiles = _encode_image_tiles(feats)
    return tiles.select("z", "x", "y", "num_layers",
                        F.octet_length("tile_bytes").alias("tile_size"))


def q_layer_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vtzero-filter analog (examples/vtzero-filter.cpp:66-100): pick
    one layer out of every tile by PASSTHROUGH — the layer's raw bytes
    are copied into the output tile without parsing a single feature
    (distributed add_existing_layer, builder.hpp:119-132). Byte parity
    with local passthrough is asserted in tests/test_layer_passthrough."""
    f = _features(spark, sf_dir)
    tiles = _encode_image_tiles(f)
    layers = assemble.decode_layers(tiles)
    kept = layers.where((F.col("decode_status") == "ok")
                        & (F.col("layer_name") == "L1"))
    out = assemble.encode_tiles(kept)
    return out.select("z", "x", "y", "num_layers",
                      F.octet_length("tile_bytes").alias("tile_size"))


def q_mvt_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw .mvt FILE ingestion (examples/utils.cpp:26-44 entry point):
    binaryFile scan over the reference's real-world tile, z/x/y parsed
    from the filename, per-layer stats without feature parsing —
    vtzero-stats over files (golden-pinned in tests)."""
    from vtzero_spark.engine import mvt_files

    return mvt_files.mvt_file_stats(spark, "/root/reference/test/data")


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.minhash_lsh_pairs(synth.load(spark, sf_dir, "documents"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.simhash_neardup_pairs(synth.load(spark, sf_dir, "documents"))


def q_neardup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs on the cross-engine md5 basis
    (textops.neardup_md5_pairs) — the ORACLE-VERIFIABLE twin of the
    production xxhash64 LSH tier: same shingle->minhash->band-join->
    lane-count semantics, hash-checked against DuckDB."""
    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.neardup_md5_pairs(docs)


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (paraphrase-tier) benchmark decontamination on the md5
    MinHash basis (textops.decontaminate_fuzzy_md5) — oracle-verified;
    its broadcast-plan assert + planted-paraphrase recall floor live in
    tests/test_scale_sketches.py."""
    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.decontaminate_fuzzy_md5(docs)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    13-gram with the benchmark slice (broadcast gram probe —
    textops.decontaminate)."""
    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.decontaminate(docs)


def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup end to end (engine/imagehash.py): plant
    a JPEG-q75 re-encode of every 10th image, then decode -> 256-bit
    blockhash + color tag -> 16-band blocking join (pigeonhole-exact
    for the whole measured dup band) -> JVM bit_count refine ->
    connected components -> min-id representative. Returns the corpus
    accounting row (rows-only; the hash pipeline is not
    SQL-expressible — recall/precision pinned in tests). Runs on the
    deterministic iid%5==0 corpus slice: the pipeline shape is
    scale-independent and the full-corpus pass costs ~5x for the same
    signal (real codec work dominates)."""
    from vtzero_spark.engine import imagehash as ih

    img = synth.images(spark, sf_dir, with_bytes=True) \
        .where(F.col("iid") % 5 == 0) \
        .select("iid", "image_id", "bytes", "fmt")

    def reenc(batches):
        from vtzero_spark.engine import jpeg as J
        from vtzero_spark.engine import payload as P
        for pdf in batches:
            out = pdf.copy()
            out["image_id"] = out["image_id"] + "~d"
            out["bytes"] = [
                J.encode_jpeg(P.decode_payload(b, f), quality=75)
                for b, f in zip(out["bytes"], out["fmt"])]
            out["fmt"] = "jpeg"
            yield out[["image_id", "bytes", "fmt"]]

    planted = img.where(F.col("iid") % 10 == 0).mapInPandas(
        reenc, schema="image_id string, bytes binary, fmt string")
    corpus = img.select("image_id", "bytes", "fmt").unionByName(planted)
    # ONE decode+hash pass over the corpus (persisted: 6 longs/row);
    # every downstream number — pairs, components, accounting — reads
    # the small hash table, never the binary payloads again (the real
    # JPEG encode in the corpus lineage is ~10x the stub's cost, so
    # re-evaluating it per aggregate dominated the first cut)
    from vtzero_spark.engine import textops

    ph = ih.image_phash(corpus).persist()
    try:
        pairs = ih.phash_neardup_pairs(ph)
        comp = textops.neardup_components(
            pairs, a_col="image_id", b_col="other_id")
        losers = comp.where(F.col("component") != F.col("doc_id")) \
            .select(F.col("doc_id").alias("image_id"))
        kept = ph.select("image_id").join(losers, "image_id", "left_anti")
        return (
            ph.agg(
                F.count("*").alias("n_corpus"),
                F.sum(F.col("image_id").endswith("~d").cast("long"))
                .alias("n_planted")).crossJoin(
                kept.agg(
                    F.count("*").alias("n_kept"),
                    F.sum(F.col("image_id").endswith("~d").cast("long"))
                    .alias("kept_planted")))
            .withColumn("n_removed", F.col("n_corpus") - F.col("n_kept"))
            .localCheckpoint()
        )
    finally:
        ph.unpersist(blocking=False)


def q_dedup_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus near-dup dedup: one representative (min doc id) per
    cluster, unpaired docs untouched — sketch -> pairs -> components
    -> anti-join, every stage shuffle-bounded."""
    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    kept = textops.dedup_neardup(docs)
    return kept.select("doc_id", F.length("text").alias("n_chars"))


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ ANN (simsearch.ivfpq_topk): coarse cells bound
    the scan, PQ codes compress it, exact re-rank restores true
    distances (full-probe == brute force tested)."""
    return simsearch.ivfpq_topk(synth.load(spark, sf_dir, "embeddings"))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate ANN (scale path; recall asserted vs the
    exact brute force in tests, not oracle-matched)."""
    return simsearch.ivf_topk(synth.load(spark, sf_dir, "embeddings"))


def q_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-density heatmap tiles (engine/heatmap.py): every image's
    Exif-recoverable position splats an integer Epanechnikov kernel
    onto the GLOBAL pixel grid (seamless across tile edges by
    construction), weighted by image width; per-tile rollup with a
    deterministic peak pixel. All-JVM scatter-then-group plan."""
    from vtzero_spark.engine import heatmap as _heatmap

    return _heatmap.heatmap_tiles(
        synth.images(spark, sf_dir), weight_col="w")


def q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares density isolines (engine/contour.py): the
    heatmap field's exact-integer contour segments at two levels
    inside the sf0.01..sf0.1 density range (max 35.6k / 281.6k,
    probed 2026-08). The oracle composes heatmap_tiles_sql's
    hm_pixels scatter with the cell pivot / case-table / integer
    interpolation CTEs, so BOTH the kernel-scatter law and the
    marching-squares law sit under the driver's hash gate. The
    default 'direct' tier (one point-sized shuffle, fused per-block
    kernel+extraction) is pytest-pinned row-identical to the
    all-JVM tier the SQL mirrors."""
    from vtzero_spark.engine import contour as _contour

    return _contour.contour_segments(
        synth.images(spark, sf_dir), levels=(2000, 20000),
        weight_col="w")


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode -> thumbnail + feature-vector extraction
    (binary column in, binary + array<double> out; Arrow-batched)."""
    from vtzero_spark.engine import payload

    img = synth.images(spark, sf_dir, with_bytes=True)
    feats = payload.image_features(img)
    return feats.groupBy("status", "thumb_w", "thumb_h").agg(
        F.count("*").alias("n"),
        F.avg(F.element_at("features", 1)).alias("avg_mean_r"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video path: mixed REAL Motion-JPEG AVI (our own
    T.81 JPEG frames, idx1 random access; engine/avi.py) + stub
    containers -> uniform frame sampling -> per-frame thumbnail +
    color features (binary in, frame-exploded typed rows out;
    numpy-oracle tested)."""
    from vtzero_spark.engine import media

    vids = media.synth_videos(spark, sf_dir, n_videos=64)
    frames = media.frame_sample(vids, n_samples=4)
    return frames.groupBy("status", "thumb_w", "thumb_h").agg(
        F.count("*").alias("n"),
        F.avg(F.element_at("features", 1)).alias("avg_mean_r"),
    )


def q_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path: mixed REAL RIFF/WAVE PCM (engine/
    wav.py) + stub containers, same waveform either way -> vectorized
    per-window RMS / zero-crossing features."""
    from vtzero_spark.engine import media

    clips = media.synth_audio(spark, sf_dir, n_clips=64)
    wins = media.audio_features(clips)
    return wins.groupBy("status").agg(
        F.count("*").alias("n_windows"),
        F.avg("rms_x1e6").alias("avg_rms_x1e6"),
        F.avg("zero_crossings").alias("avg_zc"),
    )


def q_payload_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vtzero_spark.engine import payload

    img = synth.images(spark, sf_dir, with_bytes=True)
    checked = payload.verify_payloads(img)
    return checked.groupBy("pixels_ok", "caption_ok").agg(
        F.count("*").alias("n"),
        F.min("psnr_db").alias("min_psnr"),
    )


def q_exif_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geotagged-image ingest (engine/exif.py): real JPEG/PNG payloads
    get a planted Exif APP1 / eXIf blob (GPS DMS rationals from the
    world grid, byte order alternating II/MM), then the tile
    assignment is recovered FROM THE BYTES — container segment walk,
    TIFF IFD parse, rational DMS -> integer world coordinate -> zoom-4
    tile. The DuckDB twin is the closed form of the planted metadata,
    so a hash match proves the whole codec chain round-trips every
    field on both endians (the image->geo loop of the graft)."""
    from vtzero_spark.engine import exif as _exif

    img = synth.images(spark, sf_dir, with_bytes=True)
    return _exif.exif_tiles(_exif.attach_exif(img))


def q_tile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tileset version diff (engine/diff.py): per (tile, image), is
    the feature added / removed / moved / retagged between the corpus
    and its deterministic v2 mutation (synth.images_v2: ~1/23 removed,
    ~1/31 added, ~1/17 moved, ~1/29 retagged — every branch of the
    classifier exercised)? Per-TILE semantics: a cross-boundary move
    is removed+added (both tiles need re-encoding). One shuffle per
    side into a full-outer sort-merge join; sparse output. This is
    the work-list operator behind tools/incremental_job.py."""
    from vtzero_spark.engine import diff as diffmod

    return diffmod.tile_diff(
        synth.images(spark, sf_dir), synth.images_v2(spark, sf_dir),
        zoom=ZOOM, extent=EXTENT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The query registry: exactly 50 entries, because the
    correctness harness that runs it records at most 50 and silently
    drops the rest. Each slot is an operator the product runs; 41
    carry a DuckDB oracle in oracle_sql(), the rows-only tail (codec
    bytes, sketches, approximate ANN, media payloads) is checked in
    tests/. A q_*
    function outside the registry is kept because bench.py times it
    or a test pins its oracle SQL against DuckDB; q_pyramid_tiles,
    q_pyramid_tiles_hot and q_dedup_neardup are the exceptions, kept
    until the tests of the engine defs only they call are retargeted."""
    return {
        "tile_assign": q_tile_assign,
        "tilestats": q_tilestats,
        "mvt_layer_stats": q_mvt_layer_stats,
        "centroid": q_centroid,
        "snap_points": q_snap_points,
        "dict_encode": q_dict_encode,
        "overzoom_counts": q_overzoom_counts,
        "donut_roundtrip": q_donut_roundtrip,
        "tile_lint": q_tile_lint,
        "join_attrs": q_join_attrs,
        "streets_filter_decoded": q_streets_filter_decoded,
        "geom_errors": q_geom_errors,
        "layer_lookup": q_layer_lookup,
        "road_usage": q_road_usage,
        "cell_index": q_cell_index,
        "exif_tiles": q_exif_tiles,
        "pip_salted": q_pip_salted,
        "knn": q_knn,
        "pyramid": q_pyramid,
        "raster_vector": q_raster_vector,
        "sessionize": q_sessionize,
        "pip_hex": q_pip_hex,
        "dbscan": q_dbscan,
        "zonal_stats": q_zonal_stats,
        "overlay": q_overlay,
        "cell_compact": q_cell_compact,
        "raster_stencil": q_raster_stencil,
        "hull": q_hull,
        "trajectory": q_trajectory,
        "decontaminate": q_decontaminate,
        "neardup_md5": q_neardup_md5,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "geojson_roundtrip": q_geojson_roundtrip,
        "supercluster": q_supercluster,
        "thin_cluster": q_thin_cluster,
        "hilbert_index": q_hilbert_index,
        "curation": q_curation,
        "ann_topk": q_ann_topk,
        "embed_neardup": q_embed_neardup,
        "tile_diff": q_tile_diff,
        "contour": q_contour,
        # rows-only (non-SQL-expressible; tested in tests/)
        "mvt_tiles": q_mvt_tiles,
        "mvt_ingest": q_mvt_ingest,
        "polygon_tiles_hot": q_polygon_tiles_hot,
        "image_phash_neardup": q_image_phash_neardup,
        "ivfpq_topk": q_ivfpq_topk,
        "image_features": q_image_features,
        "video_frames": q_video_frames,
        "audio_windows": q_audio_windows,
        "payload_verify": q_payload_verify,
    }


# ------------------------------------------------------------- oracles

def _contour_sql() -> str:
    from vtzero_spark.engine import contour as _contour

    return _contour.contour_segments_sql(
        "images", levels=(2000, 20000), weight_col="w")


def oracle_sql() -> dict[str, str]:
    images = synth.images_sql("images")
    polys = synth.polygons_sql("polys")
    qcte = synth.knn_queries_sql("queries", N_QUERIES)
    assigned = f"assigned AS ({tiling.assign_tiles_sql('images', ZOOM, EXTENT, BUFFER)})"
    assigned0 = f"assigned0 AS ({tiling.assign_tiles_sql('images', ZOOM, EXTENT, 0)})"
    shift = 1 << (ZOOM_R - ZOOM)
    rt = WORLD >> ZOOM_R

    return {
        "tile_assign": f"""
WITH {images},
{assigned}
SELECT image_id, z, x, y, loc_x, loc_y, CAST(phash AS BIGINT) AS phash FROM assigned
""",
        "tile_counts": f"""
WITH {images},
{assigned}
SELECT z, x, y, count(*) AS n_features,
       count(DISTINCT layer_name) AS n_layers
FROM assigned GROUP BY z, x, y
""",
        "mvt_layer_stats": f"""
WITH {images},
{assigned}
SELECT z, x, y, layer_name, count(*) AS num_features,
       CAST(3 AS BIGINT) AS key_table_size,
       count(DISTINCT phash) + count(DISTINCT fmt)
         + count(DISTINCT caption) AS value_table_size
FROM assigned GROUP BY z, x, y, layer_name
""",
        # exact centroid numerators of the planted donuts: outer rect
        # contributes 6*A*C = 3wh(2*loc+edge); the reverse-wound hole
        # (size w//2 x h//2, inset w//4, h//4) subtracts its own term
        "centroid": f"""
WITH {images},
{assigned0}
SELECT z, x, y, layer_name, count(*) AS n_features,
       CAST(sum(3 * w * h * (2 * loc_x + w)
            - 3 * (w // 2) * (h // 2) * (2 * (loc_x + w // 4) + (w // 2)))
            AS BIGINT) AS cxn,
       CAST(sum(3 * w * h * (2 * loc_y + h)
            - 3 * (w // 2) * (h // 2) * (2 * (loc_y + h // 4) + (h // 2)))
            AS BIGINT) AS cyn,
       CAST(sum(2 * w * h - 2 * (w // 2) * (h // 2)) AS BIGINT) AS area2
FROM assigned0 GROUP BY z, x, y, layer_name
""",
        "trajectory": (
            f"WITH pts AS ({_trajectory.event_points_sql('events')})\n"
            + _trajectory.track_stats_sql("pts")
        ),
        "snap_points": (
            f"WITH {_snap.roads_sql()}, "
            f"pts AS ({_trajectory.event_points_sql('events')})\n"
            + _snap.snap_points_sql("pts", point_id="event_id")
        ),
        "dict_encode": f"""
WITH {images},
{assigned},
firsts AS (
  SELECT z, x, y, layer_name, fmt, min(iid) AS first_ord
  FROM assigned GROUP BY z, x, y, layer_name, fmt
)
SELECT z, x, y, layer_name, fmt,
       CAST(row_number() OVER (PARTITION BY z, x, y, layer_name ORDER BY first_ord) - 1
            AS BIGINT) AS value_idx
FROM firsts
""",
        "overzoom_counts": f"""
WITH {images},
scaled AS (SELECT * REPLACE (wx * 2 AS wx, wy * 2 AS wy) FROM images),
child AS ({tiling.assign_tiles_sql('scaled', ZOOM + 1, EXTENT, 0)})
SELECT z, x, y, layer_name, count(*) AS n_features,
       CAST(sum(loc_x) AS BIGINT) AS sum_x, CAST(sum(loc_y) AS BIGINT) AS sum_y
FROM child GROUP BY z, x, y, layer_name
""",
        # donut ring math: outer ring contributes 5 decoded points
        # (closing point re-emitted), sum_x 5*x0+2w; the inner ring is
        # inset by (w//4, h//4) with size (w//2, h//2) and reverse
        # winding, so area2 = 2wh - 2*(w//2)*(h//2)
        "donut_roundtrip": f"""
WITH {images},
{assigned0}
SELECT z, x, y, layer_name, count(*) AS n_features,
       CAST(2 * count(*) AS BIGINT) AS n_rings,
       CAST(10 * count(*) AS BIGINT) AS n_points,
       CAST(sum(10 * loc_x + 2 * w + 5 * (w // 4) + 2 * (w // 2)) AS BIGINT) AS sum_x,
       CAST(sum(10 * loc_y + 2 * h + 5 * (h // 4) + 2 * (h // 2)) AS BIGINT) AS sum_y,
       CAST(sum(2 * w * h - 2 * (w // 2) * (h // 2)) AS BIGINT) AS area2
FROM assigned0 GROUP BY z, x, y, layer_name
""",
        "streets_filter": f"""
WITH {images},
{assigned}
SELECT z, x, y, layer_name, count(*) AS num_features,
       count(DISTINCT phash) + 1 + count(DISTINCT caption) AS value_table_size
FROM assigned WHERE fmt = 'png' GROUP BY z, x, y, layer_name
""",
        # tile-join: the attribute dimension is derivable in pure SQL,
        # so the oracle replays decode -> join -> re-encode -> decode
        # relationally (inner join == tile-join -i drop semantics)
        "join_attrs": f"""
WITH {images},
{assigned},
attrs AS (
  SELECT 'R' || CAST(i AS VARCHAR) AS region,
         (i * 7) % 64 + 1 AS weight,
         'C' || CAST(i % 5 AS VARCHAR) AS cls
  FROM range(48) t(i)
),
joined AS (
  SELECT a.*, attrs.weight, attrs.cls
  FROM assigned a
  JOIN attrs ON 'R' || CAST(a.phash % 64 AS VARCHAR) = attrs.region
)
SELECT z, x, y, layer_name, count(*) AS n_features,
       CAST(sum(weight) AS BIGINT) AS sum_weight,
       count(DISTINCT cls) AS n_cls,
       CAST(sum(phash) AS BIGINT) AS sum_phash
FROM joined GROUP BY z, x, y, layer_name
""",
        # tilestats: one UNION ALL branch per fixed-schema attribute
        "tilestats": f"""
WITH {images},
{assigned}
SELECT layer_name, 'caption' AS attribute, 'string' AS att_type,
       count(*) AS n, count(DISTINCT caption) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
FROM assigned GROUP BY layer_name
UNION ALL
SELECT layer_name, 'fmt', 'string', count(*), count(DISTINCT fmt),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM assigned GROUP BY layer_name
UNION ALL
SELECT layer_name, 'phash', 'uint', count(*), count(DISTINCT phash),
       CAST(min(phash) AS DOUBLE), CAST(max(phash) AS DOUBLE)
FROM assigned GROUP BY layer_name
""",
        # same relational answer as streets_filter: the decoded-property
        # path must be invisible to the result
        "streets_filter_decoded": f"""
WITH {images},
{assigned}
SELECT z, x, y, layer_name, count(*) AS num_features,
       count(DISTINCT phash) + 1 + count(DISTINCT caption) AS value_table_size
FROM assigned WHERE fmt = 'png' GROUP BY z, x, y, layer_name
""",
        "layer_lookup": f"""
WITH {images},
{assigned}
SELECT z, x, y, count(*) AS n_features, min(iid) AS first_feature_id
FROM assigned WHERE layer_name = 'L1' GROUP BY z, x, y
""",
        "geom_errors": f"""
WITH {images},
{assigned0}
SELECT z, x, y,
       CASE WHEN iid % 4 IN (1, 2) THEN 'GeometryError' ELSE 'ok' END AS status,
       count(*) AS n
FROM assigned0 GROUP BY 1, 2, 3, 4
""",
        # closed-form vtzero-check findings: each construction case maps
        # to fixed finding counts (5 oob points per far rect incl. the
        # re-emitted closing point; one fatal per tile aborts the scan)
        "tile_lint": f"""
WITH {images},
{assigned0},
c AS (
  SELECT z, x, y,
         count(*) FILTER (WHERE iid % 5 = 1) AS dup_ls,
         count(*) FILTER (WHERE iid % 5 = 2) AS far,
         count(*) FILTER (WHERE iid % 5 = 3) AS zring,
         count(*) FILTER (WHERE iid % 5 = 4) AS fatal
  FROM assigned0 GROUP BY z, x, y
)
SELECT z, x, y, 'duplicate_point_in_linestring' AS chk,
       CAST(2 AS INT) AS severity, CAST(dup_ls AS BIGINT) AS n
FROM c WHERE dup_ls > 0
UNION ALL SELECT z, x, y, 'point_beyond_extent', CAST(1 AS INT),
       CAST(5 * far AS BIGINT) FROM c WHERE far > 0
UNION ALL SELECT z, x, y, 'not_enough_points_in_ring', CAST(2 AS INT),
       CAST(zring AS BIGINT) FROM c WHERE zring > 0
UNION ALL SELECT z, x, y, 'invalid_ring_area0', CAST(2 AS INT),
       CAST(zring AS BIGINT) FROM c WHERE zring > 0
UNION ALL SELECT z, x, y, 'first_ring_not_outer', CAST(2 AS INT),
       CAST(zring AS BIGINT) FROM c WHERE zring > 0
UNION ALL SELECT z, x, y, 'fatal_geometry', CAST(3 AS INT),
       CAST(1 AS BIGINT) FROM c WHERE fatal > 0
""",
        "road_usage": (
            f"WITH {_snap.roads_sql()}, "
            f"pts AS ({_trajectory.event_points_sql('events')})\n"
            + _snap.road_usage_sql("pts")
        ),
        "cell_index": f"""
WITH {images},
c AS (
  SELECT image_id,
         CAST({cells.cell_id_sql(f'wx // {WORLD >> (CELL_LEVEL + 2)}', f'wy // {WORLD >> (CELL_LEVEL + 2)}', CELL_LEVEL + 2)} AS BIGINT) AS cell6
  FROM images
)
SELECT image_id, cell6, CAST(cell6 >> 4 AS BIGINT) AS cell4,
       CAST({CELL_LEVEL + 2} AS INT) AS level
FROM c
""",
        "exif_tiles": f"""
WITH {images}
{_exif.exif_tiles_sql('images')}
""",
        "contour": f"""
WITH {images},
{_contour_sql()}
SELECT level, cx, cy, seg, x0, y0, x1, y1 FROM cs_segments
""",
        "pip_salted": f"""
WITH {images},
{polys}
{joins.pip_join_sql('images', 'polys')}
""",
        "knn": f"""
WITH {images},
{qcte}
{knn.knn_sql('images', 'queries', K_NN)}
""",
        "pyramid": f"""
WITH {images},
p AS ({tiling.pyramid_assign_sql('images', ZOOM, EXTENT)})
SELECT z, x, y, count(*) AS n_features,
       CAST(sum(loc_x) AS BIGINT) AS sum_x,
       CAST(sum(loc_y) AS BIGINT) AS sum_y
FROM p GROUP BY z, x, y
""",
        "raster_vector": f"""
WITH {images},
r AS (SELECT image_id, wx // {rt} AS rx, wy // {rt} AS ry FROM images)
SELECT rx // {shift} AS x, ry // {shift} AS y,
       count(*) AS n_images,
       count(DISTINCT rx * 64 + ry) AS n_raster_tiles
FROM r GROUP BY 1, 2
""",
        "sessionize": sessions.sessionize_sql(),
        # pip rows + the hex cell id of each matched point: one query
        # hash-checks the join AND the integer cube-rounding cell math
        # against DuckDB (hexcells.hex_cell_sql is bit-identical by
        # construction — scaled-integer round-half-up, no floats)
        "pip_hex": f"""
WITH {images},
{polys}
  SELECT p.image_id, q.pid,
         CAST({_hexcells.hex_cell_sql('p.wx', 'p.wy', 4096, 3584)} AS BIGINT) AS hex
  FROM images p, polys q
  WHERE abs(p.wx - q.cx) + abs(p.wy - q.cy) <= q.r
""",
        "dbscan": f"""
WITH RECURSIVE {synth.cluster_points_sql('cpoints')},
{_dbscan.dbscan_sql('cpoints', DBSCAN_EPS, DBSCAN_MIN_PTS)}
""",
        "zonal_stats": f"""
WITH {synth.pixel_grid_sql('pix')},
{polys}
{joins.zonal_stats_sql('pix', 'polys')}
""",
        "overlay": f"""
WITH {polys},
{synth.polygons_b_sql('polys_b')}
{_overlay.overlay_sql('polys', 'polys_b')}
""",
        "raster_stencil": f"""
WITH {synth.pixel_grid_sql('pix')}
{_raster.raster_stencil_sql('pix', synth.GRID)}
""",
        "tile_diff": f"""
WITH {images},
{synth.images_v2_sql('images_v2')},
o AS ({tiling.assign_tiles_sql('images', ZOOM, EXTENT, 0)}),
n AS ({tiling.assign_tiles_sql('images_v2', ZOOM, EXTENT, 0)}),
j AS (
  SELECT coalesce(o.z, n.z) AS z, coalesce(o.x, n.x) AS x,
         coalesce(o.y, n.y) AS y, coalesce(o.iid, n.iid) AS iid,
         CASE WHEN o.iid IS NULL THEN 'added'
              WHEN n.iid IS NULL THEN 'removed'
              WHEN o.loc_x <> n.loc_x OR o.loc_y <> n.loc_y THEN 'moved'
              WHEN o.caption <> n.caption THEN 'retagged'
              ELSE 'unchanged' END AS status
  FROM o FULL JOIN n
    ON o.z = n.z AND o.x = n.x AND o.y = n.y AND o.iid = n.iid
)
SELECT z, x, y, iid, status FROM j WHERE status <> 'unchanged'
""",
        "cell_compact": f"""
WITH {synth.pixel_grid_sql('pix', grid=256)},
{polys},
cells0 AS (
  SELECT DISTINCT CAST({cells.cell_id_sql('p.px', 'p.py', 8)} AS BIGINT) AS cell
  FROM pix p, polys q
  WHERE abs(p.wx - q.cx) + abs(p.wy - q.cy) <= q.r
),
{cells.compact_cells_sql('cells0', 8)}
SELECT cell, CAST(FLOOR(LOG2(cell)) / 2 AS INT) AS level FROM compacted
""",
        "hull": _hull.hull_stats_sql(
            "pts",
            pre=(f"p0 AS ({_trajectory.event_points_sql('events')}), "
                 "pts AS (SELECT user_id, wx AS px, wy AS py FROM p0)")),
        "decontaminate": textops.decontaminate_sql(),
        "neardup_md5": textops.neardup_md5_pairs_sql(),
        "decontaminate_fuzzy": textops.decontaminate_fuzzy_md5_sql(),
        "geojson_roundtrip": f"""
WITH {images},
t AS ({tiling.assign_tiles_sql('images', ZOOM, EXTENT, 0)})
SELECT CAST(z AS BIGINT) AS z, x, y, layer_name,
       iid AS feature_id, 0 AS part, d.i AS idx,
       CAST(loc_x AS BIGINT)
         + CASE WHEN d.i IN (1, 2) THEN w ELSE 0 END AS cx,
       CAST(loc_y AS BIGINT)
         + CASE WHEN d.i IN (2, 3) THEN h ELSE 0 END AS cy
FROM t CROSS JOIN (VALUES (0),(1),(2),(3),(4)) AS d(i)
""",
        "supercluster": f"""
WITH RECURSIVE {synth.cluster_points_sql('cpoints')},
{_supercluster.supercluster_sql('cpoints', SC_RADIUS)}
""",
        "thin_cluster": f"""
WITH {images},
src AS (SELECT iid, wx, wy, iid % 97 + 1 AS weight FROM images)
{thin.thin_accumulate_sql('src', 4)}
""",
        "hilbert_index": f"""
WITH {images},
src AS (SELECT iid, wx // 256 AS cx, wy // 256 AS cy FROM images),
{_hilbert.hilbert_sql_ctes('src', 'cx', 'cy', 8)}
SELECT iid, cx, cy, hd FROM hfin
""",
        "curation": textops.curation_sql(),
        "ann_topk": simsearch.ann_topk_sql(),
        "embed_neardup": simsearch.embed_neardup_sql(),
    }
