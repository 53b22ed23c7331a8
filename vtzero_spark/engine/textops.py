"""Training-data text pipeline operators over the documents table.

Each operator is expressed with built-in pyspark.sql.functions (JVM
side, whole-stage codegen) and integer arithmetic wherever the DuckDB
oracle must reproduce values exactly. MinHash-LSH and SimHash use
vectorized pandas UDFs (their hash mixing isn't worth re-expressing in
two SQL dialects) and are verified against brute-force pytest oracles
instead.

Operators: exact dedup, char-ngram Jaccard similarity, MinHash+LSH
near-dup candidates, SimHash fingerprints, language-ID heuristic,
quality scoring, token stats, rolling-hash document fingerprint.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ------------------------------------------------------------ exact dedup

def dedup_exact(docs: DataFrame, key_col: str | None = None) -> DataFrame:
    """Exact duplicate groups: keep the smallest doc_id per group.

    Default groups by the full text — simple and exact, but the shuffle
    carries every document body as its key. At 100 TB pass
    ``key_col='text_hash'`` (any precomputed fixed-width digest column):
    the shuffle key shrinks to 8-16 bytes and the text column can be
    pruned from the scan entirely. With a cryptographic-strength hash
    the result is identical up to collisions (~n^2 / 2^64)."""
    key = key_col if key_col is not None else "text"
    return (
        docs.groupBy(key)
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def dedup_exact_hashed(docs: DataFrame) -> DataFrame:
    """Scale form of dedup_exact: pre-hash the text to a 64-bit key
    (xxhash64, JVM-side) so the groupBy shuffles fixed-width keys."""
    hashed = docs.select("doc_id", F.xxhash64("text").alias("text_hash"))
    return dedup_exact(hashed, key_col="text_hash")


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


# ------------------------------------------------------ n-gram Jaccard

def _shingles(col: str, prefix: int = 64, n: int = 3):
    p = f"substring({col}, 1, {prefix})"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(1, length({p}) - {n - 1})),"
        f" i -> substring({p}, i, {n})))"
    )


def ngram_jaccard_adjacent(docs: DataFrame, prefix: int = 64) -> DataFrame:
    """Exact 3-gram Jaccard similarity for adjacent doc_id pairs
    (deterministic linear-cost pair set; the all-pairs path is
    minhash_lsh below). jaccard_x1000 is integer-exact."""
    d = docs.select("doc_id", _shingles("text", prefix).alias("sh"))
    a = d.alias("a")
    b = d.alias("b")
    joined = a.join(
        b, F.col("b.doc_id") == F.col("a.doc_id") + 1, "inner"
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        (F.col("a.doc_id") + 1).alias("other_id"),
        F.size(F.array_intersect("a.sh", "b.sh")).alias("n_inter"),
        (F.size("a.sh") + F.size("b.sh")).alias("n_total"),
    )
    return joined.select(
        "doc_id", "other_id", "n_inter",
        (F.col("n_total") - F.col("n_inter")).alias("n_union"),
        F.expr("(1000 * n_inter) div (n_total - n_inter)").alias("jaccard_x1000"),
    )


def ngram_jaccard_adjacent_sql(prefix: int = 64) -> str:
    sh = (f"list_distinct([substr(substr(text, 1, {prefix}), CAST(i AS INT), 3)"
          f" FOR i IN range(1, greatest(1, length(substr(text, 1, {prefix})) - 2) + 1)])")
    return f"""
WITH d AS (SELECT doc_id, {sh} AS sh FROM documents)
SELECT a.doc_id AS doc_id, a.doc_id + 1 AS other_id,
       len(list_intersect(a.sh, b.sh)) AS n_inter,
       len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union,
       (1000 * len(list_intersect(a.sh, b.sh)))
         // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard_x1000
FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
"""


# ------------------------------------------------------ MinHash + LSH

_MINHASH_P = (1 << 61) - 1
_N_HASH = 64
_N_BANDS = 16  # 4 rows per band


def _minhash_params() -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(12345)
    a = rng.randint(1, _MINHASH_P, size=_N_HASH, dtype=np.int64)
    b = rng.randint(0, _MINHASH_P, size=_N_HASH, dtype=np.int64)
    return a, b


_P61 = np.uint64(_MINHASH_P)
_U29 = np.uint64(29)
_U32 = np.uint64(32)
_U61 = np.uint64(61)
_M29 = np.uint64((1 << 29) - 1)


def _affine_mod_p61(a: int, b: int, h: np.ndarray) -> np.ndarray:
    """(a*h + b) mod (2^61-1), exact, pure uint64 vector math.

    Requires h < 2^32 (crc32 values) and 0 <= a,b < p. Decompose
    a = a_hi*2^32 + a_lo: a*h = (a_hi*h)*2^32 + a_lo*h where both
    partial products fit uint64 exactly; reduce via 2^61 === 1 (mod p)
    folds. Replaces the per-lane Python-object bigint arithmetic the
    old kernel used (round-1 advisory)."""
    a_hi = np.uint64(a >> 32)
    a_lo = np.uint64(a & 0xFFFFFFFF)
    lo = a_lo * h                      # < 2^64, exact
    u = a_hi * h                       # < 2^61, exact
    # u*2^32 mod p: u = u1*2^29 + u0  ->  u1*2^61 + u0*2^32 === u1 + u0<<32
    t = (u >> _U29) + ((u & _M29) << _U32)        # < 2^62
    lo_f = (lo >> _U61) + (lo & _P61)             # < 2^61 + 8
    s = lo_f + t + np.uint64(b)                   # < 2^63.2, exact
    s = (s >> _U61) + (s & _P61)                  # < p + 5
    return np.where(s >= _P61, s - _P61, s)


def _crc32_batch(strs: list[str]) -> np.ndarray:
    """crc32 of each utf-8 string (C calls, no Python arithmetic)."""
    return np.fromiter(
        (zlib.crc32(s.encode("utf-8")) for s in strs),
        dtype=np.uint64, count=len(strs))


_CRC_TAB: np.ndarray | None = None


def _crc32_table() -> np.ndarray:
    """The standard CRC-32 (0xEDB88320) byte table — lets crc32 of
    fixed-width windows run as pure vectorized table lookups."""
    global _CRC_TAB
    if _CRC_TAB is None:
        tab = np.empty(256, dtype=np.uint32)
        for i in range(256):
            c = np.uint32(i)
            for _ in range(8):
                c = (c >> np.uint32(1)) ^ (
                    np.uint32(0xEDB88320) if c & np.uint32(1)
                    else np.uint32(0))
            tab[i] = c
        _CRC_TAB = tab
    return _CRC_TAB


def _segmented_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated (vectorized)."""
    total = int(counts.sum())
    starts = np.cumsum(counts) - counts
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def _shingle_hashes(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """crc32 hashes of every 3-char shingle of every prefix, batched:
    one concatenated byte buffer, window starts by segmented arange,
    crc32 as THREE vectorized table-lookup steps — no per-doc Python
    on the common (ASCII, len>=3) path. Duplicate shingles are kept:
    MinHash minima are unaffected, so signatures stay byte-identical
    to the set-based kernel (pinned in test_sketch_golden).

    Returns (hashes uint64, per-doc counts int64) in document order."""
    n = len(texts)
    enc = [t.encode("utf-8") for t in texts]
    blens = np.fromiter((len(e) for e in enc), np.int64, n)
    clens = np.fromiter((len(t) for t in texts), np.int64, n)
    fast = (blens == clens) & (clens >= 3)  # pure-ASCII, >=1 full window
    counts = np.where(fast, clens - 2, 1).astype(np.int64)
    # slow docs (non-ASCII or short): per-doc, rare by construction
    slow_idx = np.flatnonzero(~fast)
    for i in slow_idx:
        p = texts[i]
        counts[i] = max(1, len(p) - 2)
    offs_out = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offs_out[1:])
    H = np.empty(int(offs_out[-1]), dtype=np.uint64)

    if fast.any():
        buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
        boffs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(blens, out=boffs[1:])
        fcounts = counts[fast]
        # global byte position of every window start, doc-major
        win = (np.repeat(boffs[:-1][fast], fcounts)
               + _segmented_arange(fcounts))
        tab = _crc32_table()
        crc = np.full(win.size, 0xFFFFFFFF, dtype=np.uint32)
        for k in range(3):
            b = buf[win + k].astype(np.uint32)
            crc = (crc >> np.uint32(8)) ^ tab[(crc ^ b) & np.uint32(0xFF)]
        vals = (crc ^ np.uint32(0xFFFFFFFF)).astype(np.uint64)
        # scatter into doc-order output segments
        dst = (np.repeat(offs_out[:-1][fast], fcounts)
               + _segmented_arange(fcounts))
        H[dst] = vals
    for i in slow_idx:
        p = texts[i]
        sh = [p[j:j + 3] for j in range(max(1, len(p) - 2))]
        H[offs_out[i]:offs_out[i + 1]] = _crc32_batch(sh)
    return H, counts


_MH_BLOCK = 1 << 16  # shingles per cache block (~0.5 MB buffers)


def _minhash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    a, b = _minhash_params()
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            yield pd.DataFrame({"doc_id": [], "sig": []},
                               columns=["doc_id", "sig"])
            continue
        # batched shingling: every doc yields >=1 hash (an empty prefix
        # shingles to ""), so reduceat segments are never empty; the
        # whole batch hashes via three vectorized crc table steps
        H, counts = _shingle_hashes([t[:64] for t in pdf["text"]])
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=offs[1:])
        # cache-blocked lanes: all 64 affine-mod lanes run over an
        # L2-resident shingle block before moving on, so the hash array
        # is streamed from memory ONCE instead of 64x10 passes (the
        # unblocked form is memory-bandwidth-bound, not compute-bound);
        # per-doc minima merge across block edges (min is associative,
        # results stay byte-identical)
        sig = np.full((n, _N_HASH), _MINHASH_P, dtype=np.int64)
        total = len(H)
        for s0 in range(0, total, _MH_BLOCK):
            s1 = min(s0 + _MH_BLOCK, total)
            hb = H[s0:s1]
            d_lo = int(np.searchsorted(offs, s0, side="right")) - 1
            d_hi = int(np.searchsorted(offs, s1, side="left"))  # excl
            local = np.maximum(offs[d_lo:d_hi] - s0, 0)
            for j in range(_N_HASH):
                v = _affine_mod_p61(int(a[j]), int(b[j]), hb)
                mins = np.minimum.reduceat(v, local).astype(np.int64)
                np.minimum(sig[d_lo:d_hi, j], mins,
                           out=sig[d_lo:d_hi, j])
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].astype(np.int64).to_numpy(),
            "sig": list(sig),
        }, columns=["doc_id", "sig"])


def _spread(df: DataFrame) -> DataFrame:
    """Widen pathologically narrow inputs (a single small parquet file
    scans as ONE partition, serializing every downstream UDF) to the
    session's parallelism. No-op when the scan is already parallel —
    at real scale the source has thousands of partitions and this
    never shuffles."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """64-lane MinHash signature per document (Arrow-batched UDF).
    Only the shingled 64-char prefix crosses the Arrow boundary — the
    projection runs plan-side so full document bodies never leave the
    JVM (and column pruning reaches the parquet scan)."""
    return _spread(docs.select(
        "doc_id", F.substring("text", 1, 64).alias("text")
    )).mapInPandas(_minhash_batch, schema="doc_id long, sig array<long>")


def minhash_lsh_pairs(docs: DataFrame, threshold_x1000: int = 500) -> DataFrame:
    """LSH candidate pairs: 16 bands x 4 rows; a pair is a candidate if
    any band's 4-lane slice matches; candidates verified by estimated
    Jaccard (matching lanes / 64) >= threshold.

    The band bucket join is the scale path: groupBy(band, bucket_hash)
    — a pure shuffle join, no quadratic blowup."""
    # materialize signatures ONCE (eager localCheckpoint): three
    # consumers follow (band build + both refine sides) and the UDF is
    # the expensive stage; at cluster scale this is the standard
    # persist-the-sketch-table step
    sig = minhash_signatures(docs).localCheckpoint(eager=True)
    rows_per_band = _N_HASH // _N_BANDS
    # bands stay THIN (doc_id, band, bucket): the pair join and its
    # dedup shuffle move 24-byte rows, never the 64-lane signatures —
    # those rejoin only for the surviving candidate pairs
    bands = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BANDS - 1))).alias("band"),
        "sig",
    ).select(
        "doc_id", "band",
        F.xxhash64(F.col("band"), F.expr(
            f"slice(sig, band * {rows_per_band} + 1, {rows_per_band})")
        ).alias("bucket"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id"),
                F.col("b.doc_id").alias("other_id"))
        .dropDuplicates(["doc_id", "other_id"])
    )
    sa = sig.select(F.col("doc_id"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("other_id"),
                    F.col("sig").alias("sig_b"))
    est = cand.join(sa, "doc_id").join(sb, "other_id").withColumn(
        "est_jaccard_x1000",
        F.expr(
            "(1000 * size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)))"
            f" div {_N_HASH}"
        ),
    )
    return est.where(F.col("est_jaccard_x1000") >= threshold_x1000).select(
        "doc_id", "other_id", "est_jaccard_x1000"
    )


# ------------------------------------------------------------- SimHash

def _simhash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    bitpos = np.arange(32, dtype=np.uint64)
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            yield pd.DataFrame({"doc_id": [], "simhash": []},
                               columns=["doc_id", "simhash"])
            continue
        # tokenize per doc (C split), hash ALL tokens of the batch in
        # one pass, bit-vote via a single reduceat over the token-
        # exploded bit matrix — no per-token Python loop per document
        tok_parts = []
        counts = np.empty(n, dtype=np.int64)
        for i, text in enumerate(pdf["text"]):
            toks = text.split()
            counts[i] = len(toks)
            if toks:
                tok_parts.append(_crc32_batch(toks))
        H = (np.concatenate(tok_parts) if tok_parts
             else np.empty(0, np.uint64))
        bits = ((H[:, None] >> bitpos) & np.uint64(1)).astype(np.int64)
        # zero-row sentinel keeps reduceat valid for empty/trailing
        # segments; zero-token docs are masked to acc=0 below
        bits = np.vstack([bits, np.zeros((1, 32), dtype=np.int64)])
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=offs[1:])
        sums = np.add.reduceat(bits, offs, axis=0)
        acc = np.where(counts[:, None] == 0, 0,
                       2 * sums - counts[:, None])
        sh = ((acc > 0).astype(np.int64) << np.arange(32)).sum(axis=1)
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].astype(np.int64).to_numpy(),
            "simhash": sh,
        }, columns=["doc_id", "simhash"])


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over whitespace tokens (crc32 token hashes)."""
    return _spread(docs.select("doc_id", "text")).mapInPandas(
        _simhash_batch, schema="doc_id long, simhash long"
    )


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, candidate-generated
    by 4-way bit-slab blocking (pigeonhole: distance<=3 implies at
    least one identical 8-bit slab)."""
    sh = simhash(docs)
    slabs = sh.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("slab"),
    ).withColumn("slab_val", F.expr("(simhash div CAST(pow(256, slab) AS BIGINT)) % 256"))
    a = slabs.alias("a")
    b = slabs.alias("b")
    cand = (
        a.join(b, ["slab", "slab_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("other_id"),
                F.col("a.simhash").alias("ha"), F.col("b.simhash").alias("hb"))
        .dropDuplicates(["doc_id", "other_id"])
    )
    return cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))) \
        .where(F.col("hamming") <= max_hamming).select("doc_id", "other_id", "hamming")


# ----------------------------------------------------- language ID

_LANG_PROFILES = [
    ("en", ["the", "and"]),
    ("de", ["der", "und"]),
    ("es", ["el", "los"]),
    ("fr", ["le", "les"]),
]


def _occ(col: str, sub: str, div: str = "div") -> str:
    return f"((length({col}) - length(replace({col}, '{sub}', ''))) {div} {len(sub)})"


def lang_id(docs: DataFrame) -> DataFrame:
    """Deterministic stopword-count language heuristic; argmax with
    fixed tie order en > de > es > fr."""
    d = docs
    for lang, subs in _LANG_PROFILES:
        expr = " + ".join(_occ("text", s) for s in subs)
        d = d.withColumn(f"s_{lang}", F.expr(expr))
    pred = F.expr(
        "CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en' "
        "WHEN s_de >= s_es AND s_de >= s_fr THEN 'de' "
        "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END"
    )
    return d.select(
        "doc_id", "lang",
        pred.alias("pred_lang"),
        F.expr("greatest(s_en, s_de, s_es, s_fr)").alias("score"),
    )


def lang_id_sql() -> str:
    cols = []
    for lang, subs in _LANG_PROFILES:
        expr = " + ".join(_occ("text", s, div="//") for s in subs)
        cols.append(f"({expr}) AS s_{lang}")
    return f"""
WITH d AS (SELECT doc_id, lang, {', '.join(cols)} FROM documents)
SELECT doc_id, lang,
       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang,
       greatest(s_en, s_de, s_es, s_fr) AS score
FROM d
"""


# ----------------------------------------------------- quality / tokens

# BPE-ish subword tokenization: letter runs, digit runs, single
# punctuation marks (the GPT-2 pre-tokenizer shape, restricted to a
# regex dialect Spark and DuckDB evaluate identically)
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace token count, BPE-ish regex token count, vowel ratio,
    mean token length — all integer-exact (x1000 fixed point)."""
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        (F.length("text") - F.length(F.expr("replace(text, ' ', '')")) + 1).alias("n_tokens"),
        F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias("bpe_tokens"),
        F.expr(
            "(1000 * (length(text) - length(translate(text, 'aeiou', '')))) div length(text)"
        ).alias("vowel_x1000"),
        F.expr(
            "(100 * (length(replace(text, ' ', '')))) div "
            "(length(text) - length(replace(text, ' ', '')) + 1)"
        ).alias("tok_len_x100"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       length(text) AS n_chars_m,
       length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
       (1000 * (length(text) - length(translate(text, 'aeiou', '')))) // length(text) AS vowel_x1000,
       (100 * length(replace(text, ' ', ''))) //
         (length(text) - length(replace(text, ' ', '')) + 1) AS tok_len_x100
FROM documents
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Integer quality score in [0, 1000]: rewards mid-length docs,
    healthy vowel ratio, and bounded token length (a deterministic
    stand-in for a trained quality model)."""
    t = token_stats(docs)
    return t.select(
        "doc_id",
        F.expr(
            "least(1000, (least(n_chars_m, 400) * 400) div 400"
            " + (least(vowel_x1000, 400) * 400) div 400"
            " + (least(n_tokens, 100) * 200) div 100)"
        ).alias("quality"),
    )


QUALITY_SCORE_SQL = """
WITH t AS (
  SELECT doc_id,
         length(text) AS n_chars_m,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
         (1000 * (length(text) - length(translate(text, 'aeiou', '')))) // length(text) AS vowel_x1000
  FROM documents
)
SELECT doc_id,
       least(1000, (least(n_chars_m, 400) * 400) // 400
         + (least(vowel_x1000, 400) * 400) // 400
         + (least(n_tokens, 100) * 200) // 100) AS quality
FROM t
"""


# ----------------------------------------------------- curation pipeline

def curation_pipeline(docs: DataFrame, lang: str = "en",
                      min_quality: int = 600) -> DataFrame:
    """The composed training-data curation flow — exact dedup (keep
    first copy), language filter, quality gate, fingerprint — as ONE
    declarative plan: every stage is a Catalyst-visible relational op
    (the dedup semi-join, the scoring expressions, the final
    projection), so filters push down and the whole chain is 2
    shuffles (dedup group + the keep-join)."""
    keep = dedup_exact(docs).select(F.col("keep_id").alias("doc_id"))
    kept = docs.join(keep, "doc_id")  # first copy of each text survives
    scored = (
        lang_id(kept).select("doc_id", "pred_lang")
        .join(quality_score(kept), "doc_id")
        .join(fingerprint(kept), "doc_id")
    )
    return scored.where(
        (F.col("pred_lang") == lang) & (F.col("quality") >= min_quality)
    ).select("doc_id", "pred_lang", "quality", "fp")


def curation_sql(lang: str = "en", min_quality: int = 600) -> str:
    lang_cols = []
    for lg, subs in _LANG_PROFILES:
        expr = " + ".join(_occ("text", s, div="//") for s in subs)
        lang_cols.append(f"({expr}) AS s_{lg}")
    return f"""
WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
kept AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
l AS (
  SELECT doc_id, {', '.join(lang_cols)} FROM kept
),
lang AS (
  SELECT doc_id,
         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang
  FROM l
),
t AS (
  SELECT doc_id,
         length(text) AS n_chars_m,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
         (1000 * (length(text) - length(translate(text, 'aeiou', '')))) // length(text) AS vowel_x1000
  FROM kept
),
q AS (
  SELECT doc_id,
         least(1000, (least(n_chars_m, 400) * 400) // 400
           + (least(vowel_x1000, 400) * 400) // 400
           + (least(n_tokens, 100) * 200) // 100) AS quality
  FROM t
),
f AS (
  SELECT doc_id,
         list_reduce(
           list_concat([CAST({_FP_SEED} AS BIGINT)],
             [CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
              FOR i IN range(1, least({_FP_LEN}, length(text)) + 1)]),
           (a, c) -> (a * 31 + c) % {_FP_MOD}) AS fp
  FROM kept
)
SELECT lang.doc_id, pred_lang, quality, fp
FROM lang JOIN q USING (doc_id) JOIN f USING (doc_id)
WHERE pred_lang = '{lang}' AND quality >= {min_quality}
"""


# ----------------------------------------------------- fingerprint

_FP_MOD = 1000000007
_FP_SEED = 7
_FP_LEN = 32


def fingerprint(docs: DataFrame) -> DataFrame:
    """Polynomial rolling hash of the first 32 chars (base 31 mod 1e9+7)
    — the document fingerprinting primitive, exact in both engines."""
    return docs.select(
        "doc_id",
        F.expr(
            f"aggregate(transform(sequence(1, least({_FP_LEN}, length(text))),"
            f" i -> ascii(substring(text, i, 1))),"
            f" CAST({_FP_SEED} AS BIGINT), (a, c) -> (a * 31 + c) % {_FP_MOD})"
        ).alias("fp"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_concat([CAST({_FP_SEED} AS BIGINT)],
           [CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
            FOR i IN range(1, least({_FP_LEN}, length(text)) + 1)]),
         (a, c) -> (a * 31 + c) % {_FP_MOD}) AS fp
FROM documents
"""


# ------------------------------------------------- near-dup clustering

def neardup_components(pairs: DataFrame, a_col: str = "doc_id",
                       b_col: str = "other_id",
                       max_rounds: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc is
    labeled with the MIN doc id reachable through pair edges — the
    cluster key corpus dedup keeps one representative per.

    Distributed min-label propagation with POINTER JUMPING: each round
    (a) pulls the min label across edges, then (b) replaces every
    label by its label's current label (path halving), so convergence
    is O(log diameter) rounds — each round two shuffle joins plus a
    bounded-size convergence check, never a driver-side graph. LSH
    dup clusters are bucket-quasi-cliques (diameter 2-3), so 2-3
    rounds in practice; a 100-node chain needs ~7 (tested). Labels
    are localCheckpoint'ed per round to truncate the iterative
    lineage (the same discipline as knn_join's ring loop)."""
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint(eager=True)
    labels = edges.select("u").distinct().select(
        F.col("u").alias("id"), F.col("u").alias("lbl"))
    for _ in range(max_rounds):
        nbr = edges.join(
            labels.select(F.col("id").alias("v"),
                          F.col("lbl").alias("vlbl")), "v"
        ).groupBy("u").agg(F.min("vlbl").alias("nlbl"))
        new = labels.join(nbr, labels["id"] == nbr["u"], "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl")))
            .alias("lbl"))
        # pointer jumping: lbl <- lbl(lbl) (fresh attribute ids via
        # toDF so the self-join isn't ambiguous to the analyzer)
        l2 = new.toDF("jid", "jlbl")
        jumped = new.join(l2, new["lbl"] == l2["jid"], "left").select(
            "id", F.coalesce("jlbl", "lbl").alias("lbl")
        ).localCheckpoint(eager=True)
        changed = jumped.join(
            labels.select("id", F.col("lbl").alias("old")), "id"
        ).where(F.col("lbl") != F.col("old")).limit(1).count()
        labels = jumped
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("lbl").alias("component"))


def dedup_neardup(docs: DataFrame, pairs: DataFrame | None = None,
                  threshold_x1000: int = 500) -> DataFrame:
    """Corpus-level near-dup dedup: keep ONE representative (the min
    doc_id) per connected component of the MinHash-LSH pair graph;
    docs in no pair survive untouched. The standard final stage of a
    web-scale dedup pipeline: sketch -> bucket pairs -> components ->
    representative filter — every stage a shuffle-bounded DataFrame
    op."""
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, threshold_x1000)
    comp = neardup_components(pairs)
    losers = comp.where(F.col("component") != F.col("doc_id")) \
        .select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


# ---------------------------------------------------- decontamination

def decontaminate(docs: DataFrame, bench_mod: int = 50, n: int = 13,
                  prefix: int = 64) -> DataFrame:
    """Benchmark decontamination (the GPT-3 / Pile discipline): a
    training document is CONTAMINATED if it shares any character
    n-gram with any benchmark document. The benchmark here is the
    deterministic ``doc_id % bench_mod == 0`` slice (a stand-in for a
    held-out eval table; pass a real one by unioning it in with ids
    on the slice).

    Plan shape for 100 TB: the benchmark's distinct n-grams are small
    and BROADCAST; training grams explode and probe them with a
    BroadcastHashJoin, so the big side never shuffles for the match —
    the only shuffle is the per-doc hit-count aggregation (map-side
    combined). Returns (doc_id, n_hits, contaminated) for every
    training doc; n_hits = distinct grams of the doc's prefix that
    appear anywhere in the benchmark."""
    bench = docs.where(F.col("doc_id") % bench_mod == 0)
    train = docs.where(F.col("doc_id") % bench_mod != 0)
    bgrams = bench.select(
        F.explode(_shingles("text", prefix, n)).alias("g")).distinct()
    tgrams = train.select(
        "doc_id", F.explode(_shingles("text", prefix, n)).alias("g"))
    hits = tgrams.join(F.broadcast(bgrams), "g").groupBy("doc_id").agg(
        F.count("*").alias("n_hits"))
    return train.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"))


def decontaminate_sql(bench_mod: int = 50, n: int = 13,
                      prefix: int = 64) -> str:
    sh = (f"list_distinct([substr(substr(text, 1, {prefix}), "
          f"CAST(i AS INT), {n}) FOR i IN "
          f"range(1, greatest(1, length(substr(text, 1, {prefix})) "
          f"- {n - 1}) + 1)])")
    return f"""
WITH g AS (SELECT doc_id, unnest({sh}) AS g FROM documents),
b AS (SELECT DISTINCT g FROM g WHERE doc_id % {bench_mod} = 0),
t AS (SELECT doc_id, g FROM g WHERE doc_id % {bench_mod} <> 0),
h AS (SELECT doc_id, count(*) AS n_hits FROM t JOIN b USING (g)
      GROUP BY doc_id)
SELECT d.doc_id AS doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {bench_mod} <> 0) d
LEFT JOIN h USING (doc_id)
"""


# ------------------------------------ cross-engine (md5) sketch tier
#
# The production MinHash tier above hashes with xxhash64 (the right
# 100 TB basis: 8-byte lanes, JVM codegen, no string materialization)
# but xxhash64 exists in no ANSI engine, so the driver can only check
# those queries rows-only.  This tier re-expresses the SAME sketch
# semantics on a basis every engine shares: md5() emits identical
# lowercase hex in Spark and DuckDB, and lexicographic MIN over
# fixed-width hex strings IS numeric MIN — so the full
# shingle -> minhash -> band-join -> lane-count pipeline becomes
# hash-checked oracle evidence, not just pytest evidence.  Use the
# xxhash tier in production; use this tier to VERIFY the semantics
# against an independent engine (SURVEY.md §5 discipline).

_MD5_LANES = 8


def minhash_md5_signatures(docs: DataFrame, prefix: int = 64,
                           n: int = 3, lanes: int = _MD5_LANES) -> DataFrame:
    """Long-form MinHash signatures (doc_id, lane, mh) on the md5
    basis: lane ``l``'s value is min over the doc's distinct char
    ``n``-shingles of ``md5('<l>|' || shingle)``.

    Plan shape: ONE pass — shingles explode, the 8 lane minima are 8
    aggregate expressions over the same grams (map-side combined), and
    the long form is a zero-shuffle ``stack`` of the aggregate row.
    No per-lane row blowup before the shuffle.  The narrow (doc_id,
    text) projection spreads to session parallelism FIRST — the
    corpus parquet scans as 1-2 partitions, which would run the whole
    shingle-explode + 8-lane md5 chain on as many cores (the _spread
    discipline the xxhash tiers already apply; measured 1.7 s -> 0.4 s
    on the signature stage at sf0.1)."""
    g = _spread(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(_shingles("text", prefix, n)).alias("g"))
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(l)), F.col("g"))))
        .alias(f"mh{l}")
        for l in range(lanes)
    ]
    wide = g.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(f"{l}, mh{l}" for l in range(lanes))
    return wide.select(
        "doc_id", F.expr(f"stack({lanes}, {stack}) AS (lane, mh)"))


def neardup_md5_pairs(docs: DataFrame, min_lanes: int = 4,
                      prefix: int = 64, n: int = 7) -> DataFrame:
    """Near-duplicate candidate pairs on the md5 MinHash basis:
    (id_a, id_b, n_match_lanes) for every doc pair agreeing on >=
    ``min_lanes`` of 8 lanes (>= min_lanes/8 estimated Jaccard).

    This is LSH with 1-row bands followed by the lane-count refine,
    fused into one equi-join on (lane, mh) + one aggregate — the
    band join IS the refine count here because a 1-row band matches
    exactly when the lane matches.  Scale notes: run AFTER the exact
    dedup tier (c identical texts agree on all lanes and contribute
    c^2/2 pairs — the same rule the xxhash tier documents), and the
    join is a plain shuffle join on (lane, mh) buckets, nothing
    all-pairs; hot buckets are md5 collisions of real near-dups, the
    thing being sought.

    Shingle size n=7 (the 5-9-char range the dedup literature uses,
    vs the fuzzy-decontamination tier's deliberately forgiving n=3):
    3-char shingles barely discriminate English-ish text — measured
    on the sf0.1 corpus they put 17.3M rows through the candidate
    join and call 635k of 12.5M possible pairs near-dups (5%!),
    where n=7 yields 3.6M candidates and 6,657 pairs. The remaining
    candidate heat is identical-prefix template families agreeing on
    all 8 lanes — real near-dups, the quadratic the representative
    dedup tier (dedup_neardup) exists to collapse.

    The signature table is localCheckpoint'ed before the self-join:
    Catalyst plans the two join sides as separate subtrees (no
    exchange reuse — verified in the physical plan), so without it
    the full shingle-explode + 8-lane md5 aggregation runs TWICE."""
    sig = minhash_md5_signatures(docs, prefix, n) \
        .localCheckpoint(eager=True)
    a, b = sig.alias("a"), sig.alias("b")
    cand = a.join(
        b,
        (F.col("a.lane") == F.col("b.lane"))
        & (F.col("a.mh") == F.col("b.mh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return (
        cand.groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_match_lanes"))
        .where(F.col("n_match_lanes") >= min_lanes)
    )


def decontaminate_fuzzy_md5(docs: DataFrame, bench_mod: int = 50,
                            min_lanes: int = 4, prefix: int = 64,
                            n: int = 3) -> DataFrame:
    """Fuzzy benchmark decontamination on the md5 basis — the
    paraphrase tier the exact 13-gram probe (``decontaminate``) cannot
    see, verifiable by an independent engine (decontaminate_fuzzy_md5_sql).
    A training doc is flagged if
    its signature agrees with ANY benchmark doc's on >= ``min_lanes``
    of 8 lanes.  Returns (doc_id, n_bench_matches, max_match_lanes,
    fuzzy_contaminated) for every training doc.

    Plan shape mirrors ``decontaminate``: the benchmark signature
    table is small by definition and BROADCAST; the training side
    probes it map-side and never shuffles for the match — only the
    (candidate-sized) per-(doc, bench) lane counts shuffle."""
    sig = minhash_md5_signatures(docs, prefix, n)
    bs = sig.where(F.col("doc_id") % bench_mod == 0).select(
        F.col("doc_id").alias("bench_id"), "lane", "mh")
    ts = sig.where(F.col("doc_id") % bench_mod != 0)
    lanes_per_pair = (
        ts.join(F.broadcast(bs), ["lane", "mh"])
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_lanes"))
    )
    flagged = (
        lanes_per_pair.where(F.col("n_lanes") >= min_lanes)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bench_matches"),
             F.max("n_lanes").alias("max_match_lanes"))
    )
    spine = docs.where(F.col("doc_id") % bench_mod != 0).select("doc_id")
    return spine.join(flagged, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bench_matches", F.lit(0)).alias("n_bench_matches"),
        F.coalesce("max_match_lanes", F.lit(0)).alias("max_match_lanes"),
        (F.coalesce("n_bench_matches", F.lit(0)) > 0)
        .alias("fuzzy_contaminated"))


def _md5_sig_sql(prefix: int = 64, n: int = 3,
                 lanes: int = _MD5_LANES) -> str:
    """Shared DuckDB CTE text for the md5 signature table.  The
    shingle comprehension matches ``_shingles`` exactly (same prefix,
    same short-text floor, same ``n`` — n=7 for the near-dup pair
    tier, n=3 for the deliberately forgiving fuzzy-decon tier); lane
    hashing matches the Spark side exactly: md5('<lane>|' || shingle)
    over lowercase-hex md5."""
    p = f"substr(text, 1, {prefix})"
    sh = (f"list_distinct([substr({p}, CAST(i AS INT), {n}) FOR i IN "
          f"range(1, greatest(1, length({p}) - {n - 1}) + 1)])")
    return f"""
sh AS (SELECT doc_id, unnest({sh}) AS g FROM documents),
sig AS (
  SELECT doc_id, l.lane AS lane,
         min(md5(CAST(l.lane AS VARCHAR) || '|' || g)) AS mh
  FROM sh, (SELECT unnest(range(0, {lanes})) AS lane) l
  GROUP BY doc_id, l.lane
)"""


def neardup_md5_pairs_sql(min_lanes: int = 4, prefix: int = 64,
                          n: int = 7) -> str:
    return f"""
WITH {_md5_sig_sql(prefix, n)},
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_match_lanes
  FROM sig a JOIN sig b
    ON a.lane = b.lane AND a.mh = b.mh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_match_lanes FROM p WHERE n_match_lanes >= {min_lanes}
"""


def decontaminate_fuzzy_md5_sql(bench_mod: int = 50, min_lanes: int = 4,
                                prefix: int = 64, n: int = 3) -> str:
    return f"""
WITH {_md5_sig_sql(prefix, n)},
lp AS (
  SELECT t.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS n_lanes
  FROM (SELECT * FROM sig WHERE doc_id % {bench_mod} <> 0) t
  JOIN (SELECT * FROM sig WHERE doc_id % {bench_mod} = 0) b
    ON t.lane = b.lane AND t.mh = b.mh
  GROUP BY 1, 2),
f AS (
  SELECT doc_id, count(*) AS n_bench_matches,
         max(n_lanes) AS max_match_lanes
  FROM lp WHERE n_lanes >= {min_lanes} GROUP BY doc_id)
SELECT d.doc_id AS doc_id,
       COALESCE(f.n_bench_matches, 0) AS n_bench_matches,
       COALESCE(f.max_match_lanes, 0) AS max_match_lanes,
       COALESCE(f.n_bench_matches, 0) > 0 AS fuzzy_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {bench_mod} <> 0) d
LEFT JOIN f USING (doc_id)
"""
