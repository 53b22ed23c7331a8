"""Similarity search over the embeddings table (array<float> column).

Two tiers per the training-pipeline requirement:
- exact brute-force top-k on integer-quantized vectors (oracle-exact:
  floor(x*1024) quantization makes Spark and DuckDB agree bit-for-bit,
  no FP summation-order hazards);
- approximate scale paths: LSH sign buckets (bucket prune, then exact
  refine within buckets), IVF (probe the nearest trained cells) and
  IVF-PQ (probe cells, scan product-quantized codes, exact re-rank).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QUANT = 1024

_QEXPR = f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {QUANT}) AS BIGINT))"
_QSQL = f"list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {QUANT}) AS BIGINT))"


def quantized(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", "label", F.expr(_QEXPR).alias("q"))


def ann_topk(
    emb: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Brute-force exact top-k by quantized squared L2, queries = the
    first n_queries vectors, self excluded, ties broken by vec_id.

    The query side is broadcast (tiny); the scan side stays
    partition-parallel — this is the correct plan at any scale when
    the query set is small."""
    q = quantized(emb)
    queries = q.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qv")
    )
    joined = q.crossJoin(F.broadcast(queries)).where(F.col("vec_id") != F.col("qid"))
    dist = joined.withColumn(
        "dist_q",
        F.expr("aggregate(zip_with(q, qv, (a, b) -> (a - b) * (a - b)),"
               " CAST(0 AS BIGINT), (acc, v) -> acc + v)"),
    )
    w = Window.partitionBy("qid").orderBy("dist_q", "vec_id")
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "dist_q", "rank")
    )


def ann_topk_sql(n_queries: int = 8, k: int = 5) -> str:
    return f"""
WITH q AS (SELECT vec_id, {_QSQL} AS q FROM embeddings),
qq AS (SELECT vec_id AS qid, q AS qv FROM q WHERE vec_id < {n_queries})
SELECT qid, vec_id,
       CAST(list_sum(list_transform(list_zip(q.q, qq.qv),
            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist_q,
       CAST(row_number() OVER (
         PARTITION BY qid
         ORDER BY list_sum(list_transform(list_zip(q.q, qq.qv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))), vec_id
       ) AS INT) AS rank
FROM q CROSS JOIN qq
WHERE q.vec_id != qq.qid
QUALIFY rank <= {k}
"""


def _lsh_table_dims(nbits: int, ntables: int, dim: int) -> list[list[int]]:
    """Table t hashes the sign pattern of dims [t*nbits, (t+1)*nbits);
    requires ntables*nbits <= dim (64-dim embeddings: 4 tables x 16
    bits)."""
    if ntables * nbits > dim:
        raise ValueError(f"{ntables} tables x {nbits} bits exceeds dim {dim}")
    return [list(range(t * nbits, (t + 1) * nbits)) for t in range(ntables)]


def embed_neardup_pairs(emb: DataFrame, nbits: int = 16, ntables: int = 4,
                        max_dist_q: int = 6_000_000, dim: int = 64) -> DataFrame:
    """Embedding near-dup candidates: multi-table sign-LSH
    (OR-combination across ``ntables`` tables of ``nbits`` sign bits
    each), exact quantized-L2 refine. Integer-exact, oracle-matched.

    Scale shape: 2^16 buckets per table keeps the within-bucket
    candidate blowup ~2^12x smaller than the round-1 nbits=4 scheme
    (O(N^2/2^16) vs O(N^2/16) per table); recall is recovered by OR
    across tables — a true near-dup disagrees on few sign bits, so it
    collides in at least one 16-bit window with high probability. The
    refine is exact, so precision is unaffected by the table layout."""
    q = quantized(emb)
    tabs = []
    for t, dims in enumerate(_lsh_table_dims(nbits, ntables, dim)):
        expr = " + ".join(
            f"(CASE WHEN element_at(q, {d + 1}) > 0 THEN {1 << i} ELSE 0 END)"
            for i, d in enumerate(dims))
        tabs.append(F.struct(F.lit(t).alias("t"),
                             F.expr(expr).cast("long").alias("bucket")))
    b = q.select(
        "vec_id", "q", F.explode(F.array(*tabs)).alias("tb")
    ).select("vec_id", "q", F.col("tb.t").alias("t"),
             F.col("tb.bucket").alias("bucket"))
    a2 = b.alias("a")
    b2 = b.alias("b")
    cand = (
        a2.join(b2, ["t", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_id"),
                F.col("b.vec_id").alias("other_id"),
                F.col("a.q").alias("qa"), F.col("b.q").alias("qb"))
        .dropDuplicates(["vec_id", "other_id"])
    )
    return (
        cand.withColumn(
            "dist_q",
            F.expr("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
                   " CAST(0 AS BIGINT), (acc, v) -> acc + v)"),
        )
        .where(F.col("dist_q") <= max_dist_q)
        .select("vec_id", "other_id", "dist_q")
    )


def embed_neardup_sql(nbits: int = 16, ntables: int = 4,
                      max_dist_q: int = 6_000_000, dim: int = 64) -> str:
    selects = []
    for t, dims in enumerate(_lsh_table_dims(nbits, ntables, dim)):
        bucket = " + ".join(
            f"(CASE WHEN q[{d + 1}] > 0 THEN {1 << i} ELSE 0 END)"
            for i, d in enumerate(dims))
        selects.append(f"SELECT vec_id, q, {t} AS t, {bucket} AS bucket FROM q")
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH q AS (SELECT vec_id, {_QSQL} AS q FROM embeddings),
b AS ({union}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS other_id
  FROM b a JOIN b b ON a.t = b.t AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id
)
SELECT c.vec_id, c.other_id,
       CAST(list_sum(list_transform(list_zip(qa.q, qb.q),
            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist_q
FROM cand c
JOIN q qa ON qa.vec_id = c.vec_id
JOIN q qb ON qb.vec_id = c.other_id
WHERE CAST(list_sum(list_transform(list_zip(qa.q, qb.q),
      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) <= {max_dist_q}
"""


# ------------------------------------------------------------- IVF path

def _cell_assign_df(q: DataFrame, C: np.ndarray) -> DataFrame:
    """vec -> (vec_id, q, cell): nearest-centroid assignment as ONE
    narrow mapInPandas (the vector rides through the UDF, so no join
    back to the data and no shuffle; the centroid matrix rides in the
    closure — broadcast-sized by contract)."""
    c_norm2 = (C * C).sum(axis=1)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array(pdf["q"].tolist(), dtype=np.float64)
            d = (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ C.T) \
                + c_norm2[None, :]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(np.int64),
                "q": pdf["q"],
                "cell": d.argmin(axis=1).astype(np.int64),
            })

    return q.select("vec_id", "q").mapInPandas(
        fn, schema="vec_id long, q array<bigint>, cell long")


def ivf_train(q: DataFrame, init: np.ndarray, iters: int = 2) -> np.ndarray:
    """Distributed Lloyd iterations: assignment is a per-batch matmul
    (map side), the centroid update is a MAP-SIDE-COMBINED mean — each
    partition emits one (cell, count, sum-vector) partial, the reduce
    combines at most n_partitions rows per cell, and only the
    ncentroids x dim codebook ever reaches the driver (one tiny collect
    per iteration). Empty cells keep their previous centroid, k-means'
    standard degeneracy rule."""
    C = np.array(init, dtype=np.float64)
    ncent, dim = C.shape
    zero = f"array_repeat(CAST(0.0 AS DOUBLE), {dim})"
    for _ in range(iters):
        Ci = C
        c_norm2 = (Ci * Ci).sum(axis=1)

        def partials(batches: Iterator[pd.DataFrame],
                     Ci=Ci, c_norm2=c_norm2) -> Iterator[pd.DataFrame]:
            cnt = np.zeros(ncent, dtype=np.int64)
            acc = np.zeros((ncent, dim), dtype=np.float64)
            for pdf in batches:
                mat = np.array(pdf["q"].tolist(), dtype=np.float64)
                d = (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ Ci.T) \
                    + c_norm2[None, :]
                cell = d.argmin(axis=1)
                np.add.at(cnt, cell, 1)
                np.add.at(acc, cell, mat)
            nz = np.flatnonzero(cnt)
            yield pd.DataFrame({
                "cell": nz.astype(np.int64),
                "n": cnt[nz],
                "s": list(acc[nz]),
            })

        agg = (
            q.select("q").mapInPandas(
                partials, schema="cell long, n long, s array<double>")
            .groupBy("cell")
            .agg(F.sum("n").alias("n"),
                 F.expr(f"aggregate(collect_list(s), {zero},"
                        " (a, v) -> zip_with(a, v, (x, y) -> x + y))"
                        ).alias("s"))
        )
        C = Ci.copy()
        for r in agg.collect():  # ncentroids rows — bounded
            C[int(r["cell"])] = np.array(r["s"]) / r["n"]
    return C


# codebook caches: (data identity, train params) -> trained centroids.
# Training is a pure function of the input data + params, so repeated
# ivf_topk / ivfpq_topk calls over the same table (the serving pattern —
# a bench loop, a query service) skip the Lloyd jobs entirely; the
# entry is ncentroids x dim floats, driver-resident by design. The
# data identity is the logical plan's semantic hash plus (path, size,
# mtime) of every input file: the plan alone cannot see a rewrite of
# the files behind the same path. Both caches are bounded FIFO (oldest
# entry evicted) so a long-lived session cannot grow driver memory
# without limit.
_CACHE_MAX_ENTRIES = 16
_CODEBOOK_CACHE: dict[tuple, np.ndarray] = {}


def _cache_put(cache: dict, key: tuple, val: np.ndarray) -> None:
    while len(cache) >= _CACHE_MAX_ENTRIES:
        cache.pop(next(iter(cache)))
    cache[key] = val


def _cache_key(emb: DataFrame, *params) -> tuple | None:
    """Cache key for a codebook trained on ``emb`` with ``params``:
    the plan's semantic hash, (path, size, mtime) of each input file,
    then the params. None (train, do not cache) when either cannot be
    read."""
    try:
        sc = emb.sparkSession.sparkContext
        conf = sc._jsc.hadoopConfiguration()
        files = []
        for uri in sorted(emb.inputFiles()):
            path = sc._jvm.org.apache.hadoop.fs.Path(uri)
            st = path.getFileSystem(conf).getFileStatus(path)
            files.append((uri, st.getLen(), st.getModificationTime()))
        return (emb.semanticHash(), tuple(files), *params)
    except Exception:
        return None


def ivf_build(emb: DataFrame, n_queries: int = 8, ncentroids: int = 32,
              train_iters: int = 2) -> np.ndarray:
    """Train-once API: returns the trained IVF codebook for
    ``ivf_topk(..., codebook=...)``. Deterministic init — the
    ``ncentroids`` vectors following the query id range — then
    ``train_iters`` distributed Lloyd iterations (ivf_train)."""
    from .textops import _spread

    q = _spread(quantized(emb)).persist()
    try:
        init_rows = (
            q.where((F.col("vec_id") >= n_queries)
                    & (F.col("vec_id") < n_queries + ncentroids))
            .select("vec_id", "q").collect()
        )
        init = np.array(
            [r["q"] for r in sorted(init_rows, key=lambda r: r["vec_id"])],
            dtype=np.float64)
        return ivf_train(q, init, iters=train_iters)
    finally:
        q.unpersist(blocking=False)


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    ncentroids: int = 32,
    nprobe: int = 8,
    train_iters: int = 2,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k with a TRAINED k-means codebook: Lloyd
    iterations run distributed (ivf_train), every vector is
    coarse-quantized to its nearest centroid, and each query probes
    only its ``nprobe`` nearest cells with an exact quantized-L2 refine
    (same total order as ann_topk) inside them.

    The query path is assign -> probe -> refine only: pass a
    pre-trained ``codebook`` (ivf_build), or let the module-level cache
    key the trained centroids by the input's data identity (plan hash
    plus input files' path, size and mtime) — training then runs at
    most once per (data, params) per session, and again after the
    files behind the table are rewritten.

    Scale shape: the candidate scan touches ~nprobe/ncentroids of the
    data; the probe list is broadcast; the inverted lists are just a
    cell column (partition/bucket key at 10^12 scale); driver traffic
    is one queries-collect plus one codebook-collect per Lloyd
    iteration, all ncentroids-sized. Deterministic init: the
    ``ncentroids`` vectors following the query id range."""
    from .textops import _spread

    key = None
    if codebook is None:
        key = _cache_key(emb, n_queries, ncentroids, train_iters)
        if key is not None:
            codebook = _CODEBOOK_CACHE.get(key)

    q = _spread(quantized(emb)).persist()
    try:
        if codebook is None:
            head = (
                q.where(F.col("vec_id") < n_queries + ncentroids)
                .select("vec_id", "q").collect()
            )
            init = np.array(
                [r["q"] for r in sorted(head, key=lambda r: r["vec_id"])
                 if r["vec_id"] >= n_queries], dtype=np.float64)
            q_rows = [r for r in head if r["vec_id"] < n_queries]
            codebook = ivf_train(q, init, iters=train_iters)
            if key is not None:
                _cache_put(_CODEBOOK_CACHE, key, codebook)
        else:
            q_rows = (
                q.where(F.col("vec_id") < n_queries)
                .select("vec_id", "q").collect()
            )
        C = codebook
        c_norm2 = (C * C).sum(axis=1)

        data = _cell_assign_df(q, C)

        # probe list: nprobe nearest cells per query (driver-side;
        # query set is tiny by contract)
        probes = []
        for r in q_rows:
            v = np.array(r["q"], dtype=np.float64)
            d = ((v * v).sum() - 2.0 * (C @ v) + c_norm2)
            for cell in np.argsort(d)[:nprobe]:
                probes.append((int(r["vec_id"]), r["q"], int(cell)))
        spark = emb.sparkSession
        probe_df = spark.createDataFrame(
            probes, "qid long, qv array<bigint>, cell long")

        cand = data.join(F.broadcast(probe_df), "cell").where(
            F.col("vec_id") != F.col("qid"))
        dist = cand.withColumn(
            "dist_q",
            F.expr("aggregate(zip_with(q, qv, (a, b) -> (a - b) * (a - b)),"
                   " CAST(0 AS BIGINT), (acc, v) -> acc + v)"),
        )
        w = Window.partitionBy("qid").orderBy("dist_q", "vec_id")
        return (
            dist.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "vec_id", "dist_q", "rank")
        )
    finally:
        # the returned plan still references q; Spark recomputes it
        # lazily after unpersist, so defer to query end via weak unpin
        q.unpersist(blocking=False)


# ------------------------------------------------------------ PQ path

_PQ_CACHE: dict[tuple, np.ndarray] = {}


def pq_train(emb: DataFrame, m: int = 8, ksub: int = 16,
             train_iters: int = 2, n_queries: int = 8) -> np.ndarray:
    """Product-quantizer codebooks (the billion-vector compression
    tier): the dim splits into ``m`` subspaces, each with its own
    ``ksub``-centroid k-means codebook, so a vector stores as m small
    codes instead of dim floats. ONE distributed Lloyd pass trains all
    m codebooks simultaneously — partials are keyed (sub, cell), the
    reduce is map-side combined, and only the m x ksub x dsub codebook
    tensor ever reaches the driver (bounded collect per iteration,
    same discipline as ivf_train). Deterministic init: the ksub
    vectors following the query id range, sliced per subspace.
    Returns np.ndarray (m, ksub, dsub)."""
    from .textops import _spread

    q = _spread(quantized(emb)).persist()
    try:
        dim = len(q.select("q").first()["q"])
        assert dim % m == 0, f"dim {dim} not divisible by m={m}"
        dsub = dim // m
        init_rows = q.where(
            (F.col("vec_id") >= n_queries)
            & (F.col("vec_id") < n_queries + ksub)
        ).select("vec_id", "q").collect()
        init = np.array(
            [r["q"] for r in sorted(init_rows, key=lambda r: r["vec_id"])],
            dtype=np.float64)
        C = init.reshape(ksub, m, dsub).transpose(1, 0, 2).copy()
        zero = f"array_repeat(CAST(0.0 AS DOUBLE), {dsub})"
        for _ in range(train_iters):
            Ci = C.copy()

            def partials(batches: Iterator[pd.DataFrame],
                         Ci=Ci) -> Iterator[pd.DataFrame]:
                cnt = np.zeros((m, ksub), np.int64)
                acc = np.zeros((m, ksub, dsub), np.float64)
                for pdf in batches:
                    mat = np.array(pdf["q"].tolist(), np.float64) \
                        .reshape(-1, m, dsub)
                    for s in range(m):
                        d = ((mat[:, s, None, :] - Ci[s][None, :, :]) ** 2
                             ).sum(-1)
                        cell = d.argmin(1)
                        np.add.at(cnt[s], cell, 1)
                        np.add.at(acc[s], cell, mat[:, s, :])
                rows = []
                for s in range(m):
                    for c in np.flatnonzero(cnt[s]):
                        rows.append({"sub": s, "cell": int(c),
                                     "n": int(cnt[s][c]),
                                     "s": list(acc[s][c])})
                yield pd.DataFrame(rows, columns=["sub", "cell", "n", "s"])

            agg = (
                q.select("q").mapInPandas(
                    partials,
                    schema="sub long, cell long, n long, s array<double>")
                .groupBy("sub", "cell")
                .agg(F.sum("n").alias("n"),
                     F.expr(f"aggregate(collect_list(s), {zero},"
                            " (a, v) -> zip_with(a, v, (x, y) -> x + y))"
                            ).alias("s"))
            )
            for r in agg.collect():  # m * ksub rows — bounded
                C[int(r["sub"]), int(r["cell"])] = np.array(r["s"]) / r["n"]
        return C
    finally:
        q.unpersist(blocking=False)


def pq_encode(emb: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """vec -> (vec_id, codes[m]): each subvector's nearest sub-centroid
    index — the compressed representation the ADC scan reads (m codes
    instead of dim floats per vector)."""
    return _pq_encode_q(quantized(emb), codebooks)


def _pq_encode_q(qdf: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """pq_encode over an already-quantized (vec_id, q) frame."""
    m, ksub, dsub = codebooks.shape

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": [], "codes": []},
                                   columns=["vec_id", "codes"])
                continue
            mat = np.array(pdf["q"].tolist(), np.float64) \
                .reshape(-1, m, dsub)
            codes = np.empty((len(pdf), m), np.int64)
            for s in range(m):
                d = ((mat[:, s, None, :] - codebooks[s][None]) ** 2).sum(-1)
                codes[:, s] = d.argmin(1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(np.int64),
                "codes": list(codes),
            })

    return qdf.select("vec_id", "q").mapInPandas(
        fn, schema="vec_id long, codes array<long>")


def ivfpq_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    ncentroids: int = 32,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    overfetch: int = 8,
    train_iters: int = 2,
    coarse: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """The full Faiss-style IVF-PQ layout: the coarse IVF codebook
    buckets every vector into a cell (partition/bucket key at scale),
    PQ compresses each vector to m codes, and a query (a) probes its
    ``nprobe`` nearest cells, (b) ADC-scans only those cells' code
    rows with its lookup table, (c) exactly re-ranks the shortlist
    against the true vectors. The scan thus touches
    ~nprobe/ncentroids of the data AND reads dim/m-fold less per row
    — multiplicative with the PQ compression. Both codebooks come
    from the existing distributed trainers (ivf_train via ivf_build,
    pq_train) and cache the same way."""
    from .textops import _spread

    if coarse is None:
        ckey = _cache_key(emb, n_queries, ncentroids, train_iters)
        coarse = _CODEBOOK_CACHE.get(ckey) if ckey is not None else None
        if coarse is None:
            coarse = ivf_build(emb, n_queries=n_queries,
                               ncentroids=ncentroids,
                               train_iters=train_iters)
            if ckey is not None:
                _cache_put(_CODEBOOK_CACHE, ckey, coarse)
    if codebooks is None:
        key = _cache_key(emb, "pq", m, ksub, train_iters, n_queries)
        codebooks = _PQ_CACHE.get(key) if key is not None else None
        if codebooks is None:
            codebooks = pq_train(emb, m=m, ksub=ksub,
                                 train_iters=train_iters,
                                 n_queries=n_queries)
            if key is not None:
                _cache_put(_PQ_CACHE, key, codebooks)
    C = codebooks
    _, _, dsub = C.shape

    q = _spread(quantized(emb)).persist()
    try:
        q_rows = q.where(F.col("vec_id") < n_queries) \
            .select("vec_id", "q").collect()
        q_rows = sorted(q_rows, key=lambda r: r["vec_id"])
        qmat = np.array([r["q"] for r in q_rows], np.float64) \
            .reshape(len(q_rows), m, dsub)
        lut = ((qmat[:, :, None, :] - C[None, :, :, :]) ** 2).sum(-1)
        fetch = k * overfetch

        # coarse assignment rides with the codes (one narrow pass)
        cells = _cell_assign_df(q, coarse).select("vec_id", "cell")
        codes = _pq_encode_q(q, C).join(cells, "vec_id")

        # probe list per query (driver-side; queries tiny by contract)
        c_norm2 = (coarse * coarse).sum(axis=1)
        probes = []
        for r in q_rows:
            v = np.array(r["q"], np.float64)
            d = (v * v).sum() - 2.0 * (coarse @ v) + c_norm2
            for cell in np.argsort(d)[:nprobe]:
                probes.append((int(r["vec_id"]), int(cell)))
        probe_df = emb.sparkSession.createDataFrame(
            probes, "qid long, cell long")

        probed = codes.join(F.broadcast(probe_df), "cell").where(
            F.col("vec_id") != F.col("qid"))

        def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                cd = np.array(pdf["codes"].tolist(), np.int64)
                vid = pdf["vec_id"].to_numpy(np.int64)
                qid = pdf["qid"].to_numpy(np.int64)
                d = lut[qid[:, None], np.arange(m)[None, :], cd].sum(-1)
                # partial top-fetch per qid within the batch
                out = []
                for qi in np.unique(qid):
                    sel = qid == qi
                    dv, vv = d[sel], vid[sel]
                    top = np.argsort(dv, kind="stable")[:fetch]
                    out.append(pd.DataFrame({
                        "qid": qi, "vec_id": vv[top], "adc": dv[top]}))
                yield pd.concat(out, ignore_index=True)

        cand = probed.select("qid", "vec_id", "codes").mapInPandas(
            adc, schema="qid long, vec_id long, adc double")
        w_adc = Window.partitionBy("qid").orderBy("adc", "vec_id")
        short = cand.withColumn("_r", F.row_number().over(w_adc)) \
            .where(F.col("_r") <= fetch).drop("_r", "adc")

        qq = emb.sparkSession.createDataFrame(
            [(int(r["vec_id"]), list(r["q"])) for r in q_rows],
            "qid long, qv array<bigint>")
        exact = short.join(q, "vec_id").join(F.broadcast(qq), "qid") \
            .withColumn(
                "dist_q",
                F.expr("aggregate(zip_with(q, qv, (a, b) -> (a-b)*(a-b)),"
                       " CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        w = Window.partitionBy("qid").orderBy("dist_q", "vec_id")
        return (
            exact.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "vec_id", "dist_q", "rank")
        )
    finally:
        q.unpersist(blocking=False)
