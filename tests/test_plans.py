"""Physical-plan assertions: the properties that matter at 100 TB must
be visible in `explain` output — broadcast joins where the small side
is small, filter pushdown into the parquet scan, whole-stage codegen
on the column-math paths, and exactly ONE shuffle for the fused tile
encode."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import __spark_entry__ as entry

from vtzero_spark.engine import assemble, cells, joins, synth, tiling
from vtzero_spark.engine.synth import EXTENT, WORLD, ZOOM


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pip_join_broadcasts_covering_index(spark, sf_dir):
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    p = plan(joins.pip_join(pts, polys))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pip_cells_broadcasts(spark, sf_dir):
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    p = plan(cells.pip_join_cells(pts, polys, 4, WORLD))
    assert "BroadcastHashJoin" in p


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = synth.load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") == 42)
    p = plan(li.select("l_orderkey", "l_linenumber"))
    assert "PushedFilters" in p and "l_orderkey" in p.split("PushedFilters", 1)[1][:200]
    # column pruning: ReadSchema must not include unused wide columns
    rs = p.split("ReadSchema", 1)[1][:300]
    assert "l_comment" not in rs


def test_tile_assign_adds_no_shuffle(spark, sf_dir):
    """Tile assignment is pure column math: the only Exchange in the
    plan is the narrow iid-dedup inside the images derivation (8-byte
    keys); assignment itself adds none."""
    img = synth.images(spark, sf_dir)
    base_exchanges = len(re.findall(r"\(\d+\) Exchange", plan(img)))
    assigned = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=0)
    p = plan(assigned)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == base_exchanges
    # the dedup shuffle moves only the 8-byte key
    assert re.search(r"hashpartitioning\(iid", p) is not None


def test_minhash_scan_prunes_to_two_columns(spark, sf_dir):
    """The signature UDF must not drag the whole documents row through
    the scan: ReadSchema is exactly (doc_id, text), and only the
    64-char prefix crosses into Python (projected plan-side)."""
    docs = synth.load(spark, sf_dir, "documents")
    from vtzero_spark.engine import textops

    p = plan(textops.minhash_signatures(docs))
    rs = p.split("ReadSchema", 1)[1][:300]
    assert "doc_id" in rs and "text" in rs
    assert "lang" not in rs and "quality" not in rs
    assert "substring" in p  # prefix projection stayed in the JVM


def test_dedup_hashed_shuffles_fixed_width_key(spark, sf_dir):
    """The scale dedup groups on xxhash64(text) — the Exchange key is
    the 8-byte hash, never the document body."""
    from vtzero_spark.engine import textops

    docs = synth.load(spark, sf_dir, "documents")
    p = plan(textops.dedup_exact_hashed(docs))
    assert re.search(r"hashpartitioning\(text_hash", p)
    assert not re.search(r"hashpartitioning\(text[#,]", p)


def test_headline_queries_have_no_cartesian_product(spark, sf_dir):
    """No query in the bench headline set may degenerate to a
    CartesianProduct or BroadcastNestedLoopJoin on the DATA side (the
    tiny broadcast query sides in ann_topk are the one sanctioned
    nested-loop: a crossJoin against a <10-row broadcast)."""
    import bench

    qs = entry.queries()
    for name in bench.HEADLINE + bench.EXTENDED:
        # minhash_lsh/simhash_neardup left the 50-entry queries()
        # window in round 5 but stay benched via bench.BENCH_ONLY
        q = qs.get(name) or bench.BENCH_ONLY[name]
        p = plan(q(spark, sf_dir))
        assert "CartesianProduct" not in p, name
        if name not in ("ann_topk", "ivf_topk"):
            assert "BroadcastNestedLoopJoin" not in p, name


def test_ivf_probe_side_is_broadcast(spark, sf_dir):
    emb = synth.load(spark, sf_dir, "embeddings")
    from vtzero_spark.engine import simsearch

    p = plan(simsearch.ivf_topk(emb, n_queries=2, k=3, ncentroids=8,
                                nprobe=4, train_iters=0))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_fused_tile_encode_has_single_encode_shuffle(spark, sf_dir):
    feats = entry._features(spark, sf_dir).select(*entry.POINT_COLS)
    base_exchanges = len(re.findall(r"hashpartitioning\(", plan(feats)))
    tiles = assemble.encode_point_tiles(feats, prop_spec=entry.PROP_SPEC)
    p = plan(tiles)
    # exactly ONE additional Exchange: the repartition(z,x,y) feeding
    # the batch encode (no second layer->tile shuffle)
    assert len(re.findall(r"hashpartitioning\(", p)) == base_exchanges + 1
    assert "MapInArrow" in p


def test_fused_rewrite_adds_no_shuffle(spark, sf_dir):
    """The fused per-tile filter+rewrite and the follow-on layer stats
    are mapInPandas passes: the WHOLE streets_filter_fused plan has
    exactly the one encode shuffle — the rewrite itself moves no
    data."""
    from vtzero_spark.engine import rewrite

    feats = entry._features(spark, sf_dir).select(*entry.POINT_COLS)
    tiles = assemble.encode_point_tiles(feats, prop_spec=entry.PROP_SPEC)
    base_exchanges = len(re.findall(r"hashpartitioning\(", plan(tiles)))
    out = rewrite.filter_tiles_by_property(tiles, "fmt", "png")
    stats = assemble.decode_layers(out).where(
        F.col("decode_status") == "ok")
    p = plan(stats)
    assert len(re.findall(r"hashpartitioning\(", p)) == base_exchanges


def test_decontaminate_probe_is_broadcast(spark, sf_dir):
    """The gram probe must be a BroadcastHashJoin — the training side
    never shuffles for the match."""
    from vtzero_spark.engine import textops

    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    p = plan(textops.decontaminate(docs))
    assert "BroadcastHashJoin" in p
