"""Spark engine tests: tiling vs Python oracle, PIP vs brute force,
kNN vs brute force, encode/decode round trip, sketch ops vs
brute-force oracles, checkpoint resume."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from vtzero_spark.engine import assemble, joins, knn, simsearch, synth, textops, tiling
from vtzero_spark.engine.synth import EXTENT, WORLD, ZOOM
from vtzero_spark.mvt import geometry as G
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V


@pytest.fixture(scope="module")
def images_pd(spark, sf_dir):
    return synth.images(spark, sf_dir).toPandas().sort_values("iid").reset_index(drop=True)


def test_images_deterministic_and_unique(images_pd):
    assert images_pd["iid"].is_unique
    assert images_pd["image_id"].is_unique
    iid = images_pd["iid"].to_numpy()
    assert np.array_equal(images_pd["wx"].to_numpy(), (iid * 48271 + 11) % WORLD)
    assert np.array_equal(images_pd["wy"].to_numpy(), (iid * 69621 + 23) % WORLD)


def test_tile_assign_python_oracle(spark, sf_dir, images_pd):
    buf = 64
    assigned = tiling.assign_tiles(
        synth.images(spark, sf_dir), zoom=ZOOM, extent=EXTENT, buffer=buf
    ).select("iid", "x", "y", "loc_x", "loc_y").toPandas()
    got = {tuple(r) for r in assigned.itertuples(index=False)}
    want = set()
    for iid, wx, wy in images_pd[["iid", "wx", "wy"]].itertuples(index=False):
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                tx, ty = wx // EXTENT + dx, wy // EXTENT + dy
                if not (0 <= tx < 16 and 0 <= ty < 16):
                    continue
                lx, ly = wx - tx * EXTENT, wy - ty * EXTENT
                if -buf <= lx < EXTENT + buf and -buf <= ly < EXTENT + buf:
                    want.add((iid, tx, ty, lx, ly))
    assert got == want


def test_buffered_coords_can_exceed_extent(spark, sf_dir):
    # fixtures 053-056 semantics: buffered copies carry out-of-extent coords
    a = tiling.assign_tiles(
        synth.images(spark, sf_dir), buffer=64
    ).where((F.col("loc_x") < 0) | (F.col("loc_x") >= EXTENT)).count()
    assert a > 0


def test_lonlat_to_world_matches_python(spark):
    import math

    pts = [(0.0, 0.0), (-180.0, 85.05), (179.9, -85.0), (13.4, 52.5),
           (-122.4, 37.8)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = tiling.lonlat_to_world(df, ZOOM).select("lon", "lat", "wx", "wy").collect()
    world = (1 << ZOOM) * EXTENT
    for r in got:
        xn = (r["lon"] + 180.0) / 360.0
        lr = math.radians(r["lat"])
        yn = (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.pi) / 2.0
        assert r["wx"] == min(world - 1, max(0, math.floor(xn * world)))
        assert r["wy"] == min(world - 1, max(0, math.floor(yn * world)))


def test_pip_vs_bruteforce(spark, sf_dir, images_pd):
    polys_pd = synth.polygons(spark, sf_dir).toPandas()
    got = joins.pip_join(
        synth.images(spark, sf_dir), synth.polygons(spark, sf_dir)
    ).select("iid", "pid").toPandas()
    got_set = {tuple(r) for r in got.itertuples(index=False)}
    want = set()
    for iid, wx, wy in images_pd[["iid", "wx", "wy"]].itertuples(index=False):
        for pid, cx, cy, r in polys_pd[["pid", "cx", "cy", "r"]].itertuples(index=False):
            if abs(wx - cx) + abs(wy - cy) <= r:
                want.add((iid, pid))
    assert got_set == want


def test_pip_salted_equals_broadcast(spark, sf_dir):
    pts = synth.images(spark, sf_dir)
    polys = synth.polygons(spark, sf_dir)
    a = set(map(tuple, joins.pip_join(pts, polys).select("iid", "pid").collect()))
    b = set(map(tuple, joins.pip_join(pts, polys, salt=4).select("iid", "pid").collect()))
    assert a == b


def test_point_in_ring_udf_nonconvex(spark):
    # concave "arrow" ring; even-odd semantics
    ring_x = [0, 10, 5, 10, 0, 0]
    ring_y = [0, 0, 5, 10, 10, 0]
    pts = [(1, 1, True), (9, 5, False), (1, 9, True), (4, 5, True), (11, 5, False)]
    df = spark.createDataFrame(
        [(x, y, ring_x, ring_y) for x, y, _ in pts],
        "px int, py int, rx array<int>, ry array<int>",
    )
    out = df.withColumn(
        "inside", joins.point_in_ring_udf("px", "py", "rx", "ry")
    ).collect()
    got = [bool(r["inside"]) for r in out]
    assert got == [e for _, _, e in pts]


def _scalar_point_in_ring(x, y, rx, ry) -> bool:
    """Reference even-odd ray cast, one point at a time (the pre-
    vectorization algorithm, kept as the oracle)."""
    rx = np.asarray(rx, dtype=np.int64)
    ry = np.asarray(ry, dtype=np.int64)
    if len(rx) < 2:
        return False
    ax, ay, bx, by = rx[:-1], ry[:-1], rx[1:], ry[1:]
    cross = (bx - ax) * (y - ay) - (x - ax) * (by - ay)
    on_seg = (cross == 0) & (np.minimum(ax, bx) <= x) & (x <= np.maximum(ax, bx)) \
        & (np.minimum(ay, by) <= y) & (y <= np.maximum(ay, by))
    if on_seg.any():
        return True
    cond = (ay > y) != (by > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = ax + (y - ay) * (bx - ax) / np.where(by - ay == 0, 1, by - ay)
    return bool(np.count_nonzero(cond & (x < xint)) % 2)


def test_point_in_ring_udf_random_vs_scalar(spark):
    """Batch-vectorized ray cast == scalar oracle over random rings of
    varying size (incl. a degenerate 1-point ring and boundary hits)."""
    rng = np.random.RandomState(11)
    rows = []
    for i in range(120):
        nv = rng.randint(3, 9)
        vx = rng.randint(0, 20, nv).tolist()
        vy = rng.randint(0, 20, nv).tolist()
        vx.append(vx[0])
        vy.append(vy[0])
        px, py = int(rng.randint(0, 20)), int(rng.randint(0, 20))
        if i % 7 == 0:  # force a boundary case: point = first vertex
            px, py = vx[0], vy[0]
        rows.append((px, py, vx, vy))
    rows.append((5, 5, [3], [3]))  # degenerate: no edges
    df = spark.createDataFrame(
        rows, "px int, py int, rx array<int>, ry array<int>")
    out = df.withColumn(
        "inside", joins.point_in_ring_udf("px", "py", "rx", "ry")
    ).toPandas()
    for i, (px, py, vx, vy) in enumerate(rows):
        want = _scalar_point_in_ring(px, py, vx, vy)
        assert bool(out["inside"].iloc[i]) == want, (i, px, py, vx, vy)


def test_knn_vs_bruteforce(spark, sf_dir, images_pd):
    queries = synth.knn_queries(spark, sf_dir, 10)
    out = knn.knn_join(
        spark, synth.images(spark, sf_dir), queries, k=3, world=WORLD,
        point_id="iid",
    ).toPandas()
    qpd = queries.toPandas()
    pts = images_pd[["iid", "wx", "wy"]].to_numpy()
    for qid, qx, qy in qpd.itertuples(index=False):
        d = (pts[:, 1] - qx) ** 2 + (pts[:, 2] - qy) ** 2
        order = np.lexsort((pts[:, 0], d))[:3]
        want = [(int(pts[i, 0]), int(d[i])) for i in order]
        sub = out[out["qid"] == qid].sort_values("rank")
        got = list(zip(sub["iid"].astype(int), sub["dist_sq"].astype(int)))
        assert got == want, f"qid={qid}"


def test_knn_auto_start_radius_sparse(spark, sf_dir):
    """Density-derived start radius: in the sparse regime (k much
    larger than points-per-cell) the auto disk starts wider than 1,
    saves at least one full expansion round, and returns EXACTLY the
    rows of the explicit start_radius=1 run."""
    img = synth.images(spark, sf_dir).where(
        F.pmod(F.xxhash64("iid"), F.lit(10)) == 0)
    queries = synth.knn_queries(spark, sf_dir, 10)

    a = sorted(map(tuple, knn.knn_join(
        spark, img, queries, k=20, world=WORLD, point_id="iid",
        start_radius=1).select("qid", "iid", "dist_sq", "rank")
        .collect()))
    rounds_explicit = knn.knn_join.last_rounds
    b = sorted(map(tuple, knn.knn_join(
        spark, img, queries, k=20, world=WORLD, point_id="iid")
        .select("qid", "iid", "dist_sq", "rank").collect()))
    assert knn.knn_join.last_start_radius > 1
    assert knn.knn_join.last_rounds < rounds_explicit
    assert a == b and len(a) == 200


def test_encode_decode_roundtrip_spark(spark, sf_dir):
    """End-to-end through the Spark pipeline: encoded tiles decode back
    to the same features with vtzero-exact bytes structure."""
    import __spark_entry__ as em

    feats = em._features(spark, sf_dir, buffer=0)
    fsel = feats.select("z", "x", "y", "layer_name", "feature_ordinal",
                        "feature_id", "geom_type", "loc_x", "loc_y", "props")
    layers = assemble.encode_layers(fsel)
    tiles = assemble.encode_tiles(layers)
    row = tiles.orderBy("z", "x", "y").first()
    # decode the first tile via the pure codec and check vtzero invariants
    parsed = T.parse_tile(bytes(row["tile_bytes"]))
    assert len(parsed) == row["num_layers"]
    names = [ly.name for ly in parsed]
    assert names == sorted(names)  # deterministic layer order
    ly = parsed[0]
    assert ly.version == 2 and ly.extent == EXTENT
    assert ly.keys == [b"phash", b"fmt", b"caption"]
    f0 = ly.features[0]
    parts, _ = G.decode_geometry(f0.geom_type, f0.geometry, f0.geometry_nbytes)
    assert parts[0].shape == (1, 2)
    props = dict(ly.properties(f0))
    t, v = V.decode_value(props[b"phash"])
    assert t == V.VT_UINT
    # feature ids within a layer are ordinal-sorted (insertion order)
    ids = [f.id for f in ly.features]
    assert ids == sorted(ids)
    # Spark-side decode agrees with plan-side counts
    decoded = assemble.decode_tiles(tiles)
    n_dec = decoded.where(F.col("decode_status") == "ok").count()
    n_src = fsel.count()
    assert n_dec == n_src


def test_minhash_lsh_vs_bruteforce(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    for i in range(30):
        if i % 3 == 0:
            text = base  # exact dup cluster
        elif i % 3 == 1:
            text = base.replace("fox", f"fox{i}")  # near dup
        else:
            text = f"completely different document number {i} " * 3
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = textops.minhash_lsh_pairs(docs, threshold_x1000=900).toPandas()
    got_pairs = {(a, b) for a, b in zip(got["doc_id"], got["other_id"])}
    # brute force true Jaccard on 3-gram shingles of first 64 chars
    def sh(t):
        p = t[:64]
        return {p[i:i + 3] for i in range(max(1, len(p) - 2))}

    true_pairs = set()
    for i in range(30):
        for j in range(i + 1, 30):
            a, b = sh(rows[i][1]), sh(rows[j][1])
            if len(a & b) / len(a | b) >= 0.95:
                true_pairs.add((i, j))
    # LSH with 16 bands x 4 rows at jaccard>=0.95 has >99.99% recall;
    # the estimator threshold 0.9 keeps all true pairs
    assert true_pairs <= got_pairs
    # and no wildly-false positives (est >= 0.9 but true < 0.5)
    for i, j in got_pairs:
        a, b = sh(rows[i][1]), sh(rows[j][1])
        assert len(a & b) / len(a | b) >= 0.5


def test_simhash_neardup(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon eta"),
            (4, "totally unrelated words here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = textops.simhash_neardup_pairs(docs, max_hamming=8).toPandas()
    got = {(a, b) for a, b in zip(pairs["doc_id"], pairs["other_id"])}
    assert (1, 2) in got  # identical docs -> hamming 0
    assert (1, 4) not in got and (2, 4) not in got


def test_ann_topk_self_consistency(spark, sf_dir):
    emb = synth.load(spark, sf_dir, "embeddings")
    out = simsearch.ann_topk(emb, n_queries=4, k=3).toPandas()
    assert set(out["qid"]) == {0, 1, 2, 3}
    for qid, grp in out.groupby("qid"):
        assert list(grp.sort_values("rank")["rank"]) == [1, 2, 3]
        d = grp.sort_values("rank")["dist_q"].to_numpy()
        assert (np.diff(d) >= 0).all()
        assert qid not in set(grp["vec_id"])  # self excluded


def test_pyramid_rollup_consistency(spark, sf_dir):
    """Every pyramid level partitions the full image set; each parent
    tile's count equals the sum of its four children."""
    img = synth.images(spark, sf_dir)
    n = img.count()
    p = tiling.pyramid_assign(img, ZOOM, EXTENT).groupBy("z", "x", "y") \
        .agg(F.count("*").alias("n")).toPandas()
    for z in range(ZOOM + 1):
        assert p[p["z"] == z]["n"].sum() == n
    assert p[p["z"] == 0]["n"].iloc[0] == n
    # parent == sum(children)
    kids = p[p["z"] > 0].copy()
    kids["pz"] = kids["z"] - 1
    kids["px"] = kids["x"] // 2
    kids["py"] = kids["y"] // 2
    rolled = kids.groupby(["pz", "px", "py"])["n"].sum().reset_index()
    parents = p.merge(rolled, left_on=["z", "x", "y"],
                      right_on=["pz", "px", "py"], how="inner")
    assert len(parents) == len(p[p["z"] < ZOOM])
    assert (parents["n_x"] == parents["n_y"]).all()
    # loc rescale stays within the extent at every level
    locs = tiling.pyramid_assign(img, ZOOM, EXTENT).agg(
        F.min("loc_x"), F.max("loc_x"), F.min("loc_y"), F.max("loc_y")
    ).collect()[0]
    assert locs[0] >= 0 and locs[1] < EXTENT
    assert locs[2] >= 0 and locs[3] < EXTENT


def test_feature_budget_deterministic_first_k(spark, sf_dir):
    img = synth.images(spark, sf_dir)
    p = tiling.pyramid_assign(img, ZOOM, EXTENT).select(
        "z", "x", "y", "layer_name", F.col("iid").alias("feature_ordinal"))
    capped = tiling.feature_budget(p, 50)
    counts = capped.groupBy("z", "x", "y", "layer_name").count().toPandas()
    assert (counts["count"] <= 50).all()
    # kept rows are exactly the 50 smallest ordinals of each group
    full = p.toPandas()
    got = capped.toPandas()
    key = ["z", "x", "y", "layer_name"]
    want_n = 0
    for k, grp in full.groupby(key):
        want = set(grp["feature_ordinal"].nsmallest(50))
        sub = got[(got[key[0]] == k[0]) & (got[key[1]] == k[1])
                  & (got[key[2]] == k[2]) & (got[key[3]] == k[3])]
        assert set(sub["feature_ordinal"]) == want
        want_n += len(want)
    assert len(got) == want_n


def test_checkpoint_resume(spark, sf_dir, tmp_path):
    from vtzero_spark.engine import checkpoint as cp

    src = synth.images(spark, sf_dir)
    out_dir = str(tmp_path / "ckpt")

    def xform(df):
        return df.groupBy("layer_name").agg(F.count("*").alias("n"))

    r1 = cp.run_with_checkpoint(spark, src, xform, out_dir, "image_id", n_buckets=4,
                                lineage={"input": sf_dir})
    assert r1["buckets_run"] == 4 and r1["buckets_skipped"] == 0
    r2 = cp.run_with_checkpoint(spark, src, xform, out_dir, "image_id", n_buckets=4)
    assert r2["buckets_run"] == 0 and r2["buckets_skipped"] == 4
    total = cp.read_checkpointed(spark, out_dir).agg(F.sum("n")).collect()[0][0]
    assert total == src.count()


def test_checkpoint_compaction_and_vacuum(spark, sf_dir, tmp_path):
    """Iceberg-style maintenance: small-file compaction rewrites each
    bucket into one immutable file behind an atomic manifest swap;
    readers never see half-compacted state; vacuum removes only
    unreferenced directories."""
    import os

    from vtzero_spark.engine import checkpoint as cp

    src = synth.images(spark, sf_dir)
    out_dir = str(tmp_path / "ckpt_compact")

    def xform(df):
        # many small files per bucket: the compaction target
        return df.repartition(6).select("image_id", "fmt", "phash")

    cp.run_with_checkpoint(spark, src, xform, out_dir, "image_id", n_buckets=3)
    before = cp.read_checkpointed(spark, out_dir)
    n_before = before.count()
    h_before = before.agg(F.bit_xor(F.xxhash64("image_id", "phash"))).collect()[0][0]

    # an ABORTED compaction (data written, manifest NOT committed) must
    # be invisible to readers and reclaimed by vacuum
    orphan = os.path.join(out_dir, "data", "bucket=0-c9")
    spark.read.parquet(os.path.join(out_dir, "data", "bucket=0")) \
        .limit(5).write.parquet(orphan)
    assert cp.read_checkpointed(spark, out_dir).count() == n_before
    # the manifest-derived bucket column is part of the stable schema
    assert "bucket" in cp.read_checkpointed(spark, out_dir).columns
    # default-grace vacuum must NOT touch fresh directories — they may
    # be an in-flight write wave (data lands before the manifest row)
    assert cp.vacuum(out_dir) == []

    res = cp.compact_all(spark, out_dir, target_files=1)
    assert res["buckets_compacted"] == 3
    after = cp.read_checkpointed(spark, out_dir)
    # schema is stable across the maintenance lifecycle: bucket survives
    # compaction (manifest-derived, not directory-name-inferred) and a
    # bucket filter still selects exactly that bucket's rows
    assert "bucket" in after.columns
    assert sorted(r["bucket"] for r in
                  after.select("bucket").distinct().collect()) == [0, 1, 2]
    one = after.where(F.col("bucket") == 1).count()
    assert 0 < one < n_before
    assert after.count() == n_before
    h_after = after.agg(F.bit_xor(F.xxhash64("image_id", "phash"))).collect()[0][0]
    assert h_after == h_before
    # each compacted bucket is now a single parquet file
    for row in cp._manifest_rows(out_dir):
        files = [f for f in os.listdir(row["path"]) if f.endswith(".parquet")]
        assert len(files) == 1 and "-c" in row["path"]

    removed = cp.vacuum(out_dir, grace_seconds=0)
    # 3 superseded originals + the orphan
    assert len(removed) == 4
    assert any(p.endswith("bucket=0-c9") for p in removed)
    assert cp.read_checkpointed(spark, out_dir).count() == n_before
    # resume still sees every bucket as done
    r = cp.run_with_checkpoint(
        spark, src, xform, out_dir, "image_id", n_buckets=3)
    assert r["buckets_run"] == 0 and r["buckets_skipped"] == 3


def test_checkpoint_partial_resume(spark, sf_dir, tmp_path):
    """Kill-mid-run simulation: only some manifests committed -> the
    rerun executes exactly the missing buckets and the combined output
    is complete."""
    import os

    from vtzero_spark.engine import checkpoint as cp

    src = synth.images(spark, sf_dir)
    out_dir = str(tmp_path / "ckpt_partial")

    def xform(df):
        return df.groupBy("fmt").agg(F.count("*").alias("n"))

    cp.run_with_checkpoint(spark, src, xform, out_dir, "image_id", n_buckets=4)
    # simulate a crash after bucket 0+1: drop the last two manifests
    # (data stays on disk — the manifest is the commit point)
    for b in (2, 3):
        os.remove(os.path.join(out_dir, "_manifest", f"bucket-{b}.json"))
    r = cp.run_with_checkpoint(spark, src, xform, out_dir, "image_id", n_buckets=4)
    assert r["buckets_run"] == 2 and r["buckets_skipped"] == 2
    total = cp.read_checkpointed(spark, out_dir).agg(F.sum("n")).collect()[0][0]
    assert total == src.count()


def test_donut_roundtrip_matches_duckdb_oracle(spark, sf_dir):
    """Multi-ring (outer + hole) polygons through the distributed
    encode -> decode -> stats path: the per-layer aggregate must equal
    the closed-form DuckDB oracle (ring semantics per
    geometry.hpp:337-379, fixtures 021/022)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as em

    sdf = em.queries()["donut_roundtrip"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")
    odf = con.execute(em.oracle_sql()["donut_roundtrip"]).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_donut_cmds_decode_as_outer_plus_inner_ring(spark):
    """One donut command stream decodes to exactly [outer, inner] ring
    types with opposite signed areas (outer positive in the y-down
    convention, hole negative)."""
    from vtzero_spark.engine import geomops
    from vtzero_spark.mvt import geometry as G

    df = spark.range(1).select(
        geomops.donut_cmds(F.lit(100), F.lit(200), F.lit(40), F.lit(24))
        .alias("g"))
    cmds = np.asarray(df.first()["g"], dtype=np.int64)
    parts, ring_types = G.decode_geometry(G.GEOM_POLYGON, cmds)
    assert len(parts) == 2
    assert ring_types == [G.RING_OUTER, G.RING_INNER]
    a_outer = G.ring_signed_area2(parts[0])
    a_inner = G.ring_signed_area2(parts[1])
    assert a_outer == 2 * 40 * 24
    assert a_inner == -2 * 20 * 12
