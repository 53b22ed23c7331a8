"""Multimodal payload operators (engine/payload.py) and the approximate
similarity-search tiers (engine/simsearch.py): thumbnails/features are
deterministic, IVF and IVF-PQ clear their recall floors and match
brute force at full probe, and trained codebooks are cached once per
data identity."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from vtzero_spark.engine import payload, simsearch, synth


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


def test_pq_codebook_cache_trains_once(spark, sf_dir, monkeypatch):
    """Repeated ivfpq_topk over the same table + params trains the PQ
    codebooks once and returns the same rows from the cached ones."""
    import pandas as pd

    emb = synth.load(spark, sf_dir, "embeddings")
    simsearch._CODEBOOK_CACHE.clear()
    simsearch._PQ_CACHE.clear()
    calls: list[int] = []
    orig = simsearch.pq_train

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(simsearch, "pq_train", counting)

    def run():
        return simsearch.ivfpq_topk(emb, n_queries=2, k=3, ncentroids=8,
                                    nprobe=4).toPandas() \
            .sort_values(["qid", "rank"]).reset_index(drop=True)

    r1 = run()
    assert len(calls) == 1
    r2 = run()
    assert len(calls) == 1, "second call must reuse the cached codebooks"
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
