"""Streaming tile ingest (engine/streaming.py) and multimodal payload
operators (engine/payload.py): streaming result must equal the batch
computation on the same data; thumbnails/features are deterministic."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from vtzero_spark.engine import payload, simsearch, streaming, synth


def test_tile_stream_matches_batch(spark, sf_dir, tmp_path):
    img = streaming.with_event_time(synth.images(spark, sf_dir)).limit(2000)
    src = str(tmp_path / "stream_in")
    img.write.parquet(src)

    def tidy(df):
        return df.select(
            F.col("window.start").alias("ws"), "z", "x", "y",
            "n_images", "sum_x", "sum_y",
        ).toPandas().sort_values(["ws", "z", "x", "y"]).reset_index(drop=True)

    batch = tidy(streaming.tile_stream_counts(spark.read.parquet(src)))

    sdf = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming.tile_stream_counts(sdf)
        .writeStream.format("memory").queryName("tile_counts")
        .outputMode("complete").start()
    )
    try:
        q.processAllAvailable()
        got = tidy(spark.table("tile_counts"))
    finally:
        q.stop()

    assert len(got) == len(batch) and len(got) > 0
    for col in ("n_images", "sum_x", "sum_y"):
        assert (got[col].to_numpy() == batch[col].to_numpy()).all()


def test_stream_encode_tiles_matches_batch(spark, sf_dir, tmp_path):
    """foreachBatch MVT production: the union of all micro-batch tile
    sets re-aggregates to the same per-tile feature totals as a batch
    encode of the same data (tiles differ per batch by design — each
    batch encodes its own slice)."""
    import __spark_entry__ as entry
    from vtzero_spark.engine import assemble, streaming, tiling
    from vtzero_spark.engine.synth import EXTENT, ZOOM

    img = synth.images(spark, sf_dir).limit(3000)
    src = str(tmp_path / "imgs_in")
    img.write.parquet(src)

    sdf = spark.readStream.schema(spark.read.parquet(src).schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = streaming.stream_encode_tiles(
        sdf, str(tmp_path / "tiles_out"), entry.PROP_SPEC,
        str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_tiles = spark.read.parquet(str(tmp_path / "tiles_out"))
    assert got_tiles.count() > 0
    # decode every produced tile and compare total features per (z,x,y)
    dec = assemble.decode_tiles(got_tiles.select("z", "x", "y", "tile_bytes"))
    got = dec.where(F.col("decode_status") == "ok") \
        .groupBy("z", "x", "y").count().toPandas() \
        .sort_values(["z", "x", "y"]).reset_index(drop=True)
    want = tiling.assign_tiles(spark.read.parquet(src), zoom=ZOOM,
                               extent=EXTENT, buffer=0) \
        .groupBy("z", "x", "y").count().toPandas() \
        .sort_values(["z", "x", "y"]).reset_index(drop=True)
    assert len(got) == len(want)
    for col in ("z", "x", "y", "count"):
        assert (got[col].to_numpy(np.int64) == want[col].to_numpy(np.int64)).all(), col


def test_image_features_deterministic(spark, sf_dir):
    img = synth.images(spark, sf_dir, with_bytes=True).limit(50)
    out = payload.image_features(img).toPandas()
    assert (out["status"] == "ok").all()
    assert (out["thumb_w"] == 8).all() and (out["thumb_h"] == 8).all()
    assert all(len(f) == 12 for f in out["features"])
    # oracle: recompute one row end-to-end in pure numpy
    row = img.where(F.col("image_id") == out["image_id"].iloc[0]) \
        .select("phash", "w", "h", "fmt", "bytes").first()
    px = payload.decode_payload(row["bytes"], row["fmt"])
    want = payload.color_features(px)
    got = np.array(out["features"].iloc[0])
    assert np.allclose(got, want)
    th = payload.thumbnail(px)
    assert bytes(out["thumbnail"].iloc[0]) == th.tobytes()


def test_stateful_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """Closed sessions emitted by the stateful streaming operator equal
    the batch sessionization minus each user's open (last) session."""
    from vtzero_spark.engine import sessions

    events = synth.load(spark, sf_dir, "events")
    src = str(tmp_path / "events_in")
    events.write.parquet(src)

    batch = sessions.sessionize(spark.read.parquet(src)).toPandas()
    # drop each user's last (still-open) session
    last = batch.groupby("user_id")["session_id"].transform("max")
    want = batch[batch["session_id"] != last] \
        .sort_values(["user_id", "session_id"]).reset_index(drop=True)

    sdf = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        sessions.sessionize_stream(sdf)
        .writeStream.format("memory").queryName("sessions_out")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = spark.table("sessions_out").toPandas() \
            .sort_values(["user_id", "session_id"]).reset_index(drop=True)
    finally:
        q.stop()

    assert len(got) == len(want) and len(got) > 0
    for col in ("user_id", "session_id", "n_events", "first_ts", "last_ts"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col
    assert np.allclose(got["value_sum"], want["value_sum"])


def test_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming hashed dedup == batch dedup groups when all
    duplicates arrive inside the watermark: one output row per
    distinct text, each the first-seen doc."""
    from vtzero_spark.engine import streaming, textops

    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    # deterministic event time: 1 second per doc id
    ts = docs.withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id") % 300))
    src = str(tmp_path / "docs_in")
    ts.write.parquet(src)

    batch_groups = textops.dedup_exact(spark.read.parquet(src)).toPandas()

    sdf = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (streaming.dedup_stream(sdf)
         .writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.table("dedup_out").toPandas()
    finally:
        q.stop()

    assert len(got) == len(batch_groups)
    assert set(got["text"]) == set(
        synth.load(spark, sf_dir, "documents")
        .select("text").toPandas()["text"])


def test_ivf_topk_recall(spark, sf_dir):
    emb = synth.load(spark, sf_dir, "embeddings")
    exact = simsearch.ann_topk(emb, n_queries=4, k=5).toPandas()

    def recall(train_iters: int) -> float:
        approx = simsearch.ivf_topk(emb, n_queries=4, k=5, ncentroids=16,
                                    nprobe=8, train_iters=train_iters).toPandas()
        assert set(approx["qid"]) == {0, 1, 2, 3}
        hits = total = 0
        for qid in (0, 1, 2, 3):
            want = set(exact[exact["qid"] == qid]["vec_id"])
            got = set(approx[approx["qid"] == qid]["vec_id"])
            # IVF distances can never beat the exact ones
            e_best = exact[exact["qid"] == qid]["dist_q"].min()
            a_best = approx[approx["qid"] == qid]["dist_q"].min()
            assert a_best >= e_best
            hits += len(want & got)
            total += len(want)
        return hits / total

    # trained codebook (2 distributed Lloyd iterations): the round-1
    # untrained floor was 0.5; training must clear 0.7 and must not be
    # WORSE than the untrained assignment
    r_trained = recall(2)
    assert r_trained >= 0.7, f"trained IVF recall too low: {r_trained}"
    assert r_trained >= recall(0)


def test_ivf_codebook_cache_trains_once(spark, sf_dir, monkeypatch):
    """Train-once discipline: repeated ivf_topk over the same table +
    params must hit the codebook cache (no extra Lloyd jobs), and an
    explicit ivf_build codebook must reproduce the cached-path result
    exactly (same deterministic init, same refine order)."""
    import pandas as pd

    emb = synth.load(spark, sf_dir, "embeddings")
    simsearch._CODEBOOK_CACHE.clear()
    calls: list[int] = []
    orig = simsearch.ivf_train

    def counting_train(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(simsearch, "ivf_train", counting_train)

    def run(codebook=None):
        return (
            simsearch.ivf_topk(emb, n_queries=2, k=3, ncentroids=8,
                               nprobe=4, codebook=codebook)
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
        )

    r1 = run()
    assert len(calls) == 1
    r2 = run()
    assert len(calls) == 1, "second call must reuse the cached codebook"
    pd.testing.assert_frame_equal(r1, r2)

    cb = simsearch.ivf_build(emb, n_queries=2, ncentroids=8)
    assert len(calls) == 2
    r3 = run(codebook=cb)
    assert len(calls) == 2, "explicit codebook must skip training"
    pd.testing.assert_frame_equal(r1, r3)


def test_codebook_cache_bypass_clear_and_bound(spark, sf_dir, monkeypatch):
    """An explicit codebook bypasses the cache (no training, no entry),
    clearing the cache dicts makes the next call retrain once, and the
    cache never grows past its bound."""
    import numpy as np

    emb = synth.load(spark, sf_dir, "embeddings")
    simsearch._CODEBOOK_CACHE.clear()
    simsearch._PQ_CACHE.clear()
    calls: list[int] = []
    orig = simsearch.ivf_train

    def counting_train(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(simsearch, "ivf_train", counting_train)

    kw = dict(n_queries=2, k=3, ncentroids=8, nprobe=4)
    cb = simsearch.ivf_build(emb, n_queries=2, ncentroids=8)
    assert len(calls) == 1
    # bypass: an explicit codebook neither trains nor fills the cache
    simsearch.ivf_topk(emb, codebook=cb, **kw).collect()
    assert len(calls) == 1 and not simsearch._CODEBOOK_CACHE
    simsearch.ivf_topk(emb, **kw).collect()
    assert len(calls) == 2 and len(simsearch._CODEBOOK_CACHE) == 1
    # clear: next cached call retrains once
    simsearch._CODEBOOK_CACHE.clear()
    simsearch.ivf_topk(emb, **kw).collect()
    assert len(calls) == 3

    # bound: inserting past the cap evicts the oldest entry
    for i in range(simsearch._CACHE_MAX_ENTRIES + 3):
        simsearch._cache_put(
            simsearch._CODEBOOK_CACHE, ("k", i), np.zeros(1))
    assert len(simsearch._CODEBOOK_CACHE) == simsearch._CACHE_MAX_ENTRIES
    assert ("k", 2) not in simsearch._CODEBOOK_CACHE
    assert ("k", simsearch._CACHE_MAX_ENTRIES + 2) \
        in simsearch._CODEBOOK_CACHE
    simsearch._CODEBOOK_CACHE.clear()


def test_codebook_cache_keys_on_data_identity(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """Rewriting the parquet behind the same path must not serve the
    old table's codebook: the plan (and its semantic hash) is the same,
    the input files are not. The next ivf_topk retrains once and
    returns exactly what a cold run on the new data returns."""
    import pandas as pd

    path = str(tmp_path / "emb.parquet")
    src = synth.load(spark, sf_dir, "embeddings")
    src.write.parquet(path)
    simsearch._CODEBOOK_CACHE.clear()
    calls: list[int] = []
    orig = simsearch.ivf_train

    def counting_train(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(simsearch, "ivf_train", counting_train)

    def run():
        return (
            simsearch.ivf_topk(spark.read.parquet(path), n_queries=2, k=3,
                               ncentroids=8, nprobe=4)
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
        )

    run()
    run()
    assert len(calls) == 1
    # same path, new data: the ids run backwards, so other vectors
    # seed the centroids and other vectors are the queries
    top = src.agg(F.max("vec_id")).first()[0]
    src.withColumn("vec_id", F.lit(top) - F.col("vec_id")) \
        .write.mode("overwrite").parquet(path)
    warm = run()
    assert len(calls) == 2, "a rewrite of the files must retrain"
    simsearch._CODEBOOK_CACHE.clear()
    cold = run()
    assert len(calls) == 3
    pd.testing.assert_frame_equal(warm, cold)
    simsearch._CODEBOOK_CACHE.clear()


def test_verify_payload_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming payload verification (the ingestion-time quality
    gate) emits exactly the batch verify_payloads rows for the same
    images, including an undecodable payload's failure verdict."""
    import pandas as pd

    from vtzero_spark.engine import payload, streaming

    src = str(tmp_path / "img_in")
    imgs = synth.images(spark, sf_dir, with_bytes=True) \
        .orderBy("iid").limit(120) \
        .select("image_id", "bytes", "phash", "w", "h", "fmt", "caption")
    # corrupt one payload: must surface as pixels_ok=False, not a crash
    victim = imgs.select(F.min("image_id")).collect()[0][0]
    imgs = imgs.withColumn(
        "bytes",
        F.when(F.col("image_id") == victim,
               F.lit(bytes(b"\xFF\xD8garbage"))).otherwise(F.col("bytes")))
    imgs.write.parquet(src)

    want = payload.verify_payloads(spark.read.parquet(src)).toPandas() \
        .sort_values("image_id").reset_index(drop=True)
    assert (~want["pixels_ok"]).sum() == 1

    sdf = spark.readStream.schema(spark.read.parquet(src).schema) \
        .parquet(src)
    q = (streaming.verify_payload_stream(sdf)
         .writeStream.format("memory").queryName("verify_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.table("verify_out").toPandas() \
            .sort_values("image_id").reset_index(drop=True)
    finally:
        q.stop()
    pd.testing.assert_frame_equal(got, want)


def test_native_session_window_stream_matches_batch(spark, sf_dir, tmp_path):
    """The built-in session_window operator run as a STREAM (state
    store merges fragments across micro-batches, watermark closes
    sessions) must emit exactly the batch sessionize_native sessions
    once the watermark has passed them. Two far-future flush events
    advance the watermark in successive micro-batches so every real
    session closes; the flush user's own sessions are excluded."""
    from vtzero_spark.engine import sessions

    events = synth.load(spark, sf_dir, "events")
    src = str(tmp_path / "events_in")
    events.write.parquet(src)

    batch = sessions.sessionize_native(spark.read.parquet(src)).toPandas()
    want = batch.drop(columns=["session_id"]) \
        .sort_values(["user_id", "first_ts"]).reset_index(drop=True)

    schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(schema).parquet(src)
    q = (
        sessions.sessionize_stream_native(sdf)
        .writeStream.format("memory").queryName("native_sessions_out")
        .outputMode("append").start()
    )
    sentinel = 10**9
    try:
        q.processAllAvailable()
        for i, when in enumerate(("2030-01-01 00:00:00",
                                  "2031-01-01 00:00:00")):
            flush = spark.createDataFrame(
                [(10**7 + i, when, sentinel, "flush", 0.0, "{}")],
                "event_id long, ts string, user_id long, "
                "event_type string, value double, props string",
            ).withColumn("ts", F.to_timestamp("ts"))
            flush.select(list(schema.names)) \
                .write.mode("append").parquet(src)
            q.processAllAvailable()
        got = spark.table("native_sessions_out").toPandas()
    finally:
        q.stop()

    got = got[got["user_id"] != sentinel] \
        .sort_values(["user_id", "first_ts"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    for col in ("user_id", "n_events", "first_ts", "last_ts",
                "value_cents"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col
    assert np.allclose(got["value_sum"], want["value_sum"])


def test_pq_topk_recall_and_rerank_exactness(spark, sf_dir):
    """PQ-ADC with exact re-rank: (a) surviving ranks carry TRUE
    distances never better than the exact scan's; (b) recall@5 against
    brute force clears 0.6 at default overfetch and reaches 1.0 with a
    generous overfetch (the exact top-k then always survives the
    compressed shortlist, so results equal ann_topk exactly)."""
    import pandas as pd

    emb = synth.load(spark, sf_dir, "embeddings")
    exact = simsearch.ann_topk(emb, n_queries=4, k=5).toPandas()

    approx = simsearch.pq_topk(emb, n_queries=4, k=5).toPandas()
    assert set(approx["qid"]) == {0, 1, 2, 3}
    hits = total = 0
    for qid in range(4):
        want = set(exact[exact["qid"] == qid]["vec_id"])
        got = set(approx[approx["qid"] == qid]["vec_id"])
        assert approx[approx["qid"] == qid]["dist_q"].min() \
            >= exact[exact["qid"] == qid]["dist_q"].min()
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.6, f"PQ recall too low: {hits / total}"

    # generous overfetch -> identical to brute force (exact re-rank)
    wide = simsearch.pq_topk(emb, n_queries=4, k=5, overfetch=100) \
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        wide, exact.sort_values(["qid", "rank"]).reset_index(drop=True))


def test_pq_codebook_cache_trains_once(spark, sf_dir, monkeypatch):
    import pandas as pd

    emb = synth.load(spark, sf_dir, "embeddings")
    simsearch._PQ_CACHE.clear()
    calls: list[int] = []
    orig = simsearch.pq_train

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(simsearch, "pq_train", counting)

    def run():
        return simsearch.pq_topk(emb, n_queries=2, k=3).toPandas() \
            .sort_values(["qid", "rank"]).reset_index(drop=True)

    r1 = run()
    assert len(calls) == 1
    r2 = run()
    assert len(calls) == 1
    pd.testing.assert_frame_equal(r1, r2)


def test_pq_encode_compresses_to_m_codes(spark, sf_dir):
    emb = synth.load(spark, sf_dir, "embeddings")
    cb = simsearch.pq_train(emb, m=8, ksub=16, train_iters=1)
    assert cb.shape == (8, 16, 8)
    codes = simsearch.pq_encode(emb, cb).toPandas()
    assert len(codes) == emb.count()
    assert all(len(c) == 8 for c in codes["codes"])
    assert all(0 <= v < 16 for c in codes["codes"] for v in c)


def test_ivfpq_topk_recall_and_full_probe_exactness(spark, sf_dir):
    """Composed IVF-PQ: (a) default probe/overfetch clears a recall
    floor with true distances never beating exact; (b) probing ALL
    cells with a generous overfetch removes both approximations, so
    the result equals brute force exactly."""
    import pandas as pd

    emb = synth.load(spark, sf_dir, "embeddings")
    exact = simsearch.ann_topk(emb, n_queries=4, k=5).toPandas()

    approx = simsearch.ivfpq_topk(emb, n_queries=4, k=5).toPandas()
    hits = total = 0
    for qid in range(4):
        want = set(exact[exact["qid"] == qid]["vec_id"])
        got = set(approx[approx["qid"] == qid]["vec_id"])
        assert approx[approx["qid"] == qid]["dist_q"].min() \
            >= exact[exact["qid"] == qid]["dist_q"].min()
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.5, f"IVF-PQ recall too low: {hits / total}"

    full = simsearch.ivfpq_topk(
        emb, n_queries=4, k=5, ncentroids=16, nprobe=16, overfetch=100
    ).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        full, exact.sort_values(["qid", "rank"]).reset_index(drop=True))


def test_neardup_band_stream_bounded_state(spark, tmp_path):
    """Streaming near-dup: band-bucket first-ownership with bounded
    state. An exact re-arrival loses ALL its bands, a lightly-edited
    near-dup loses SOME (shares >=1 band with the batch-1 owner held
    in state across triggers), unrelated docs own all 16."""
    import os

    import pandas as pd

    from vtzero_spark.engine import streaming

    base = ("the quick brown fox jumps over the lazy dog while the "
            "band plays on")[:64].ljust(64, "x")
    other = ("completely different content with nothing shared at all "
             "here ok")[:64].ljust(64, "y")
    third = ("yet another unrelated document body for the second batch "
             "stream")[:64].ljust(64, "z")
    edited = base[:40] + "EDIT" + base[44:]
    t0 = pd.Timestamp("2026-01-01 00:00:00").to_pydatetime()

    src = str(tmp_path / "docs_in")
    os.makedirs(src)
    schema = "doc_id long, ts timestamp, text string"
    b1 = spark.createDataFrame(
        [(1, t0, base), (2, t0, other)], schema)
    b1.write.parquet(os.path.join(src, "b1"))

    sdf = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1000").parquet(src + "/*")
    q = (streaming.neardup_band_stream(sdf, watermark="1 hour")
         .writeStream.format("memory").queryName("nd_bands")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        n_after_b1 = spark.table("nd_bands").count()
        assert n_after_b1 == 32  # 2 docs x 16 bands, all first owners

        t1 = (pd.Timestamp(t0) + pd.Timedelta(minutes=1)).to_pydatetime()
        b2 = spark.createDataFrame(
            [(3, t1, base),    # exact re-arrival
             (4, t1, third),   # unrelated
             (5, t1, edited)], # partial near-dup
            schema)
        b2.write.parquet(os.path.join(src, "b2"))
        q.processAllAvailable()
        allrows = spark.table("nd_bands")
        owned = allrows.groupBy("doc_id").count().toPandas() \
            .set_index("doc_id")["count"].to_dict()
    finally:
        q.stop()

    assert owned[1] == 16 and owned[2] == 16 and owned[4] == 16
    assert 3 not in owned              # identical sig: loses every band
    assert 0 < owned.get(5, 0) < 16    # shares >=1 band across batches

    kept = set(r["doc_id"] for r in
               streaming.neardup_first_owners(allrows).collect())
    assert kept == {1, 2, 4}


def test_image_neardup_band_stream(spark, tmp_path):
    """Streaming image near-dup: a q75 re-encode arriving in a LATER
    trigger shares at least one band with the batch-1 owner held in
    state (pigeonhole: requant distance <= 15), so it is flagged;
    unrelated images own all 16 of their buckets."""
    import os

    import pandas as pd

    from vtzero_spark.engine import jpeg, streaming
    from vtzero_spark.engine.payload import encode_payload, synth_pixels

    t0 = pd.Timestamp("2026-01-01 00:00:00").to_pydatetime()
    t1 = pd.Timestamp("2026-01-01 00:01:00").to_pydatetime()
    schema = "image_id string, ts timestamp, bytes binary, fmt string"
    src = str(tmp_path / "imgs_in")
    os.makedirs(src)

    b1 = spark.createDataFrame(
        [("a", t0, encode_payload(11, 32, 16, "png"), "png"),
         ("b", t0, encode_payload(22, 32, 16, "jpeg"), "jpeg")], schema)
    b1.write.parquet(os.path.join(src, "b1"))

    sdf = spark.readStream.schema(schema).parquet(src + "/*")
    q = (streaming.image_neardup_band_stream(sdf, watermark="1 hour")
         .writeStream.format("memory").queryName("img_nd")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        assert spark.table("img_nd").count() == 32

        dup = jpeg.encode_jpeg(synth_pixels(11, 32, 16), quality=75)
        b2 = spark.createDataFrame(
            [("a_dup", t1, dup, "jpeg"),
             ("c", t1, encode_payload(33, 32, 16, "png"), "png")], schema)
        b2.write.parquet(os.path.join(src, "b2"))
        q.processAllAvailable()
        allrows = spark.table("img_nd")
        owned = allrows.groupBy("image_id").count().toPandas() \
            .set_index("image_id")["count"].to_dict()
    finally:
        q.stop()

    assert owned["a"] == 16 and owned["b"] == 16 and owned["c"] == 16
    assert owned.get("a_dup", 0) < 16  # lost >=1 band to 'a'
    # the documented composition: id_col='image_id', no rename needed
    kept = set(r["image_id"] for r in
               streaming.neardup_first_owners(
                   allrows, n_bands=16, id_col="image_id").collect())
    assert kept == {"a", "b", "c"}


def test_exif_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """Continuous geotagged-image ingest: the streaming Exif parse
    emits exactly the batch exif_index rows for the same payloads,
    including a corrupt payload's status row and a GPS-less payload
    (no Exif planted) surfacing as 'no_exif' rather than a crash."""
    import pandas as pd

    from vtzero_spark.engine import exif

    src = str(tmp_path / "exif_in")
    base = synth.images(spark, sf_dir, with_bytes=True) \
        .orderBy("iid").limit(100)
    tagged = exif.attach_exif(base).select("image_id", "bytes")
    # one corrupt payload + one that never got Exif
    victim = tagged.select(F.min("image_id")).collect()[0][0]
    tagged = tagged.withColumn(
        "bytes",
        F.when(F.col("image_id") == victim,
               F.lit(bytes(b"\xFF\xD8\xFF\xE1garbage")))
        .otherwise(F.col("bytes")))
    plain = base.orderBy(F.desc("iid")).limit(1) \
        .select(F.concat(F.lit("bare_"), "image_id").alias("image_id"),
                "bytes")
    tagged.unionByName(plain).write.parquet(src)

    want = exif.exif_index(spark.read.parquet(src)).toPandas() \
        .sort_values("image_id").reset_index(drop=True)
    assert (want["status"].str.startswith("corrupt")).sum() == 1
    assert (want["status"] == "no_exif").sum() >= 1
    assert (want["status"] == "ok").sum() == 99

    sdf = spark.readStream.schema(spark.read.parquet(src).schema) \
        .parquet(src)
    q = (streaming.exif_ingest_stream(sdf)
         .writeStream.format("memory").queryName("exif_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.table("exif_out").toPandas() \
            .sort_values("image_id").reset_index(drop=True)
    finally:
        q.stop()
    pd.testing.assert_frame_equal(got, want)
