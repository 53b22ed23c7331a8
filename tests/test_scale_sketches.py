"""Scale properties of the round-2 sketch upgrades:

- multi-table 16-bit sign-LSH shrinks the max bucket share ~2^12x vs
  the round-1 nbits=4 scheme (candidate blowup is the 100 TB killer);
- planted near-duplicates still collide in at least one table
  (OR-combination recovers the recall a single 16-bit window loses);
- the pre-hashed exact-dedup path returns the same groups as the
  full-text groupBy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from vtzero_spark.engine import simsearch, synth, textops


def _bucket_stats(signs: np.ndarray, dims: list[int]) -> tuple[int, int]:
    """(max bucket size, n candidate pairs) for one sign-LSH table."""
    w = (signs[:, dims] << np.arange(len(dims))).sum(axis=1)
    _, counts = np.unique(w, return_counts=True)
    return int(counts.max()), int((counts * (counts - 1) // 2).sum())


def test_bucket_share_shrinks_4096x():
    rng = np.random.RandomState(7)
    n = 200_000
    signs = (rng.rand(n, 64) > 0.5).astype(np.int64)

    max4, cand4 = _bucket_stats(signs, list(range(4)))
    max16 = cand16 = 0
    for t in range(4):
        m, c = _bucket_stats(signs, list(range(t * 16, (t + 1) * 16)))
        max16 = max(max16, m)
        cand16 += c

    share4 = max4 / n
    share16 = max16 / n
    # 2^16 buckets vs 2^4: MEAN bucket share shrinks 2^12x; the MAX
    # share carries a Poisson tail (mean occupancy ~3 at n=200k), so
    # assert a conservative floor
    assert share4 / share16 > 500, (share4, share16)
    # candidate pairs scale with sum(n_b^2): theory predicts exactly
    # 2^16/(4*2^4) = 2^10 fewer across ALL four 16-bit tables combined
    assert cand4 / cand16 > 900, (cand4, cand16)


def test_planted_neardups_survive_multitable_lsh(spark):
    """150 base vectors + a perturbed copy of each (true near-dups):
    every planted pair must be returned by the multi-table query with
    its exact quantized distance."""
    rng = np.random.RandomState(42)
    nbase = 150
    base = rng.randn(nbase, 64).astype(np.float64) * 2.0
    noise = rng.randn(nbase, 64) * 0.01  # sign flips only near zero
    rows = []
    for i in range(nbase):
        rows.append((i, 0, base[i].tolist()))
        rows.append((i + nbase, 0, (base[i] + noise[i]).tolist()))
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    got = simsearch.embed_neardup_pairs(
        emb, max_dist_q=10_000_000).toPandas()
    found = set(zip(got["vec_id"], got["other_id"]))
    planted = {(i, i + nbase) for i in range(nbase)}
    recall = len(found & planted) / nbase
    assert recall >= 0.95, f"planted recall {recall}"
    # exact refine: distances match numpy recomputation
    q = np.floor(np.vstack([
        np.repeat(base, 1, axis=0), base + noise]) * 1024).astype(np.int64)
    ids = np.array([i for i in range(nbase)] + [i + nbase for i in range(nbase)])
    pos = {int(v): j for j, v in enumerate(ids)}
    for _, r in got.head(50).iterrows():
        d = int(((q[pos[r["vec_id"]]] - q[pos[r["other_id"]]]) ** 2).sum())
        assert d == int(r["dist_q"])


def test_single_16bit_window_alone_loses_recall(spark):
    """Sanity for WHY multiple tables exist: one 16-bit window misses
    planted pairs that the 4-table OR recovers."""
    rng = np.random.RandomState(3)
    nbase = 120
    # noise/base sigma ratio 0.133 -> per-dim sign-flip prob ~4%:
    # one 16-bit window matches ~50% of pairs, the 4-table OR ~94%
    base = rng.randn(nbase, 64) * 0.15
    noise = rng.randn(nbase, 64) * 0.02
    rows = []
    for i in range(nbase):
        rows.append((i, 0, base[i].tolist()))
        rows.append((i + nbase, 0, (base[i] + noise[i]).tolist()))
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    planted = {(i, i + nbase) for i in range(nbase)}

    multi = simsearch.embed_neardup_pairs(
        emb, max_dist_q=10_000_000_000).toPandas()
    r_multi = len(set(zip(multi["vec_id"], multi["other_id"])) & planted) / nbase
    single = simsearch.embed_neardup_pairs(
        emb, ntables=1, max_dist_q=10_000_000_000).toPandas()
    r_single = len(set(zip(single["vec_id"], single["other_id"])) & planted) / nbase
    assert r_multi > r_single + 0.2
    assert r_multi >= 0.85


def test_dedup_exact_hashed_matches_text_groups(spark, sf_dir):
    from vtzero_spark.engine import synth

    docs = synth.load(spark, sf_dir, "documents")
    by_text = textops.dedup_exact(docs).toPandas() \
        .sort_values("keep_id").reset_index(drop=True)
    by_hash = textops.dedup_exact_hashed(docs).toPandas() \
        .sort_values("keep_id").reset_index(drop=True)
    assert len(by_text) == len(by_hash)
    assert (by_text["keep_id"].to_numpy() == by_hash["keep_id"].to_numpy()).all()
    assert (by_text["n_copies"].to_numpy() == by_hash["n_copies"].to_numpy()).all()


def test_neardup_components_match_union_find(spark, sf_dir):
    """Distributed min-label components over the real MinHash pair
    graph equal a pure-Python union-find on the identical pairs."""
    from vtzero_spark.engine import textops

    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = textops.minhash_lsh_pairs(docs).localCheckpoint(eager=True)
    got = textops.neardup_components(pairs).toPandas() \
        .set_index("doc_id")["component"].to_dict()

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pp = pairs.toPandas()
    assert len(pp) > 0
    for a, b in zip(pp["doc_id"], pp["other_id"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


def test_neardup_components_chain_worst_case(spark):
    """A 100-node chain (diameter 99) must still collapse to one
    component within the pointer-jumping round budget."""
    from vtzero_spark.engine import textops

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "doc_id long, other_id long")
    comp = textops.neardup_components(pairs).toPandas()
    assert set(comp["component"]) == {0}
    assert len(comp) == 100


def test_dedup_neardup_keeps_min_representative(spark, sf_dir):
    """dedup_neardup keeps exactly one doc per component (the min id)
    plus every unpaired doc."""
    from vtzero_spark.engine import textops

    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = textops.minhash_lsh_pairs(docs).localCheckpoint(eager=True)
    comp = textops.neardup_components(pairs).toPandas()
    kept = textops.dedup_neardup(docs, pairs=pairs).toPandas()
    n_docs = docs.count()
    losers = (comp["component"] != comp["doc_id"]).sum()
    assert len(kept) == n_docs - losers
    assert not set(comp.loc[comp["component"] != comp["doc_id"], "doc_id"]) \
        & set(kept["doc_id"])


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc that quotes a benchmark doc's text is flagged
    with the exact distinct-gram hit count; disjoint docs are clean.
    The gram probe must be a broadcast join (no shuffle of the
    training side for the match)."""
    bench_text = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (0, bench_text),                       # benchmark (id % 50 == 0)
        (1, "xyz " + bench_text[:20]),         # quotes 20 chars
        (2, "completely unrelated words 123"),  # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.decontaminate(docs).toPandas().set_index("doc_id")
    assert bool(out.loc[1, "contaminated"])
    # 20-char quote -> 20-13+1 = 8 distinct 13-grams, all hits
    assert out.loc[1, "n_hits"] == 8
    assert not bool(out.loc[2, "contaminated"])
    assert out.loc[2, "n_hits"] == 0

    plan = textops.decontaminate(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_md5_sketch_tier_matches_duckdb(spark, sf_dir):
    """The round-5 cross-engine tier: the md5-basis MinHash pair query
    and the fuzzy-decontamination query must be value-identical to an
    independent engine (DuckDB) running the published SQL — the same
    check the driver's oracle gate performs, pinned here so a drift in
    either the Spark expression or the SQL text fails fast.  Also pins
    the two cross-engine premises: Spark md5 == DuckDB md5 (lowercase
    hex), and lexicographic MIN over the fixed-width hex == numeric
    MIN (same-length strings)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    # premise: identical md5 hex across engines
    s_md5 = spark.sql("SELECT md5('vtzero|abc') AS h").collect()[0]["h"]
    d_md5 = con.execute("SELECT md5('vtzero|abc')").fetchone()[0]
    assert s_md5 == d_md5 and s_md5 == s_md5.lower() and len(s_md5) == 32

    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    for sdf, sql in [
        (textops.neardup_md5_pairs(docs), textops.neardup_md5_pairs_sql()),
        (textops.decontaminate_fuzzy_md5(docs),
         textops.decontaminate_fuzzy_md5_sql()),
    ]:
        sp = sdf.toPandas()
        oc = con.execute(sql).df()
        cols = sorted(sp.columns)
        assert cols == sorted(oc.columns)
        sp = sp[cols].sort_values(cols).reset_index(drop=True).astype(str)
        oc = oc[cols].sort_values(cols).reset_index(drop=True).astype(str)
        assert len(sp) > 0, "trivial empty result proves nothing"
        assert sp.equals(oc)


def test_md5_fuzzy_tier_catches_planted_paraphrases(spark, sf_dir):
    """The md5 tier closes the gap the exact tier leaves: paraphrases
    that break every exact 13-gram (5 single-char substitutions spaced
    12 chars apart) still flag.  Recall is lower than the retired
    xxhash64/16-band form's (0.86 measured vs 0.94): at true J~0.6 a
    4-of-8-lanes threshold is P(Binom(8,.6)>=4) ~ 0.83 while the 16x4
    banding's any-band curve sits ~0.89 — the md5 tier trades a few
    recall points for oracle verifiability, which is its entire job.
    Deterministic kernel + fixed plants -> pin the measured number
    with a 0.85 floor.  The benchmark probe must stay a broadcast join
    (training side never shuffles for the match)."""
    docs = synth.load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 0).collect()

    ALPH = "QXZJKVWYBF"
    planted = []
    k = 0
    for r in bench:
        for copy in range(5):
            t = list(r["text"][:64].ljust(64, "x"))
            for i, p in enumerate((6, 18, 30, 42, 54)):
                c = ALPH[(copy * 5 + i) % len(ALPH)]
                t[p] = c if t[p] != c else "#"
            pid = 20_000_001 + k * 2
            if pid % 50 == 0:
                pid += 2
            planted.append((pid, "".join(t)))
            k += 1
    pl_df = spark.createDataFrame(planted, "doc_id long, text string")
    all_docs = docs.unionByName(pl_df)
    planted_ids = [p for p, _ in planted]

    # the gap this tier exists for: the exact 13-gram probe sees nothing
    ex = textops.decontaminate(all_docs).toPandas().set_index("doc_id")
    assert ex.loc[planted_ids, "n_hits"].max() == 0

    out = textops.decontaminate_fuzzy_md5(all_docs).toPandas() \
        .set_index("doc_id")
    recall = out.loc[planted_ids, "fuzzy_contaminated"].mean()
    assert recall >= 0.85, f"planted-paraphrase recall {recall}"
    assert (out.loc[planted_ids, "max_match_lanes"].max()) <= 8

    plan = textops.decontaminate_fuzzy_md5(all_docs)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
