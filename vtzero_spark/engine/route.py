"""Distributed single-source shortest paths over the road network —
the routing stage that composes with map matching (engine/snap.py):
snap GPS points to the network, then answer "how far along the
network" queries from a source set.

Graph model (all EXACT int64):

- nodes are road VERTICES, identified by their packed world coordinate
  ``(x << 20) | y`` (coords < 2^20 by construction);
- every road segment is a bidirectional edge of weight exactly 5
  (``snap.roads`` steps are Pythagorean norm-5 vectors);
- TRANSFER edges: one walking FOOTBRIDGE per pair of roads that come
  within ``transfer_eps`` of each other (Euclidean, inclusive — the
  dwithin cell-cull discipline) at the pair's min-L1 vertex pair,
  weight = that exact L1 distance; roads sharing a coordinate merge
  through the shared node itself at weight 0.

Scale shape — the published routing-engine discipline (OSRM/Valhalla
contract before they query) re-expressed in DataFrame ops:

1. CHAIN CONTRACTION. Roads are paths, so between junctions (road
   endpoints + transfer endpoints) every vertex has degree 2 and can
   never branch a shortest path. One window pass per road marks
   junctions and emits one contracted edge per junction-to-junction
   run (weight = 5 * run length). Round count of the iterative stage
   then scales with the JUNCTION-graph diameter, not the 256-hop road
   diameter — the difference between ~4 and ~256 Spark rounds.
2. FRONTIER BELLMAN-FORD (Pregel SSSP) on the contracted graph:
   per round, only nodes improved LAST round ship their distance over
   the edge list (join -> min-agg -> merge), localCheckpoint'ed to
   truncate lineage, stopping at the empty-frontier fixpoint. With
   nonnegative weights the fixpoint labeling is exactly Dijkstra's
   answer; tests pin it against a scalar Dijkstra and assert the
   fixpoint law (no relaxable edge) ON the output.
3. CHAIN INTERPOLATION back to every vertex: a mid-chain vertex's
   distance is min over the two bounding junctions plus the exact
   offset along the chain — valid because any path must enter the
   chain at a junction (transfer endpoints ARE junctions by
   construction).

Output: one row per distinct road vertex (vx, vy, dist), dist = -1
for unreachable. Reference analog: none (vtzero is a tile codec);
this extends the engine's spatial-join family per the north rule.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import drivertier
from . import snap as S

_SHIFT = 20  # coord pack: (x << 20) | y, coords < 2^20
# junction-census bound: a larger census means the network is not
# chain-contractible at this scale, so contracted_graph fails loudly
_JUNCTION_CAP = 4_000_000


def _nid(x, y):
    return F.shiftleft(x.cast("long"), _SHIFT) + y.cast("long")


def road_vertices(segs: DataFrame) -> DataFrame:
    """One row per (road_id, pos) path position: pos 0..k with the
    vertex coordinate (segment i contributes its start; the last
    segment also contributes its end)."""
    a = segs.select("road_id", F.col("seg").alias("pos"),
                    F.col("ax").alias("vx"), F.col("ay").alias("vy"))
    last = segs.groupBy("road_id").agg(F.max("seg").alias("_k"))
    b = (segs.join(last, "road_id")
         .where(F.col("seg") == F.col("_k"))
         .select("road_id", (F.col("seg") + 1).alias("pos"),
                 F.col("bx").alias("vx"), F.col("by").alias("vy")))
    return a.unionByName(b)


def transfer_edges(verts: DataFrame, eps: int) -> DataFrame:
    """ONE walking footbridge per road pair: for each unordered pair
    of roads with any vertices within ``eps`` (Euclidean, inclusive),
    the single min-L1 vertex pair (ties broken by packed node ids —
    deterministic), weight = exact L1 (0 at true shared coordinates).

    Per-pair reduction is the scale guard: vertex-to-vertex transfer
    pairs grow QUADRATICALLY with eps x chain density (measured: 159M
    pairs at eps=2048 on the sf0.1 network), while footbridges are
    bounded by the number of spatially-adjacent road PAIRS — the same
    one-crossing-node modeling a real network's intersections get.
    Candidate generation is the dwithin covering-grid cull; the
    reduction is one map-side-combined min-struct groupBy, so the
    full pair set never materializes past the combiner."""
    if eps < 0:
        raise ValueError(f"transfer_eps must be >= 0, got {eps}")
    cell = 1
    while cell < max(eps, 1):
        cell <<= 1
    pts = verts.select(
        "road_id", "vx", "vy", _nid(F.col("vx"), F.col("vy")).alias("nid")
    ).distinct()
    home = pts.select(
        F.col("nid").alias("dst"), F.col("road_id").alias("rb"),
        F.col("vx").alias("bx"), F.col("vy").alias("by"),
        F.expr(f"vx div {cell}").alias("cx"),
        F.expr(f"vy div {cell}").alias("cy"))
    # HALF-PLANE probe (the supercluster/placement s20 pattern): 5 of
    # the 9 neighbor offsets — the other 4 are these negated — so
    # each unordered vertex pair matches once (same-cell pairs keep
    # the probe-nid-larger one); orientation then NORMALIZES to the
    # road order (src rides the smaller road id), which keeps the
    # min-struct tie-break bit-identical to the symmetric build
    offs = F.array(*[F.struct(F.lit(dx_).alias("dx"),
                              F.lit(dy_).alias("dy"))
                     for dx_, dy_ in ((0, 0), (1, 0), (1, 1),
                                      (0, 1), (-1, 1))])
    probe = (pts.withColumn("_o", F.explode(offs))
             .select((F.expr(f"vx div {cell}") + F.col("_o.dx")).alias("cx"),
                     (F.expr(f"vy div {cell}") + F.col("_o.dy")).alias("cy"),
                     F.col("nid").alias("src"), F.col("road_id").alias("ra"),
                     F.col("vx").alias("ax"), F.col("vy").alias("ay"),
                     ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0))
                     .alias("_same")))

    # The candidate set is quadratic in per-cell chain density (~63
    # verts/cell at eps=1024 on the sf0.1 network -> ~80M JVM join
    # rows, 5 s of the query wall). The SAME pairs are evaluated here
    # as one numpy broadcast per cell (cogroup of probe x home on the
    # cell key) with a per-cell partial min per road pair, so only
    # road-pair partials (per cell) reach the final min-agg — the
    # guide §4.2 move: Spark keeps the distribution/shuffle, numpy
    # does the bulk arithmetic. Tie-breaking is bit-identical to the
    # old JVM join (lexicographic (w, src, dst) after road-order
    # normalization; pinned in tests/test_route.py).
    e2 = eps * eps
    out_schema = "ra long, rb long, w long, src long, dst long"
    _BLK = 4  # 4x4 cells per cogroup task: amortizes the per-group
    # Arrow/pandas conversion over 16 cells; the kernel still matches
    # per exact cell inside, so the candidate set is unchanged

    def _cell_pairs(_key, ppdf, hpdf):
        import pandas as pd

        empty = pd.DataFrame({c: np.array([], np.int64)
                              for c in ("ra", "rb", "w", "src", "dst")})
        if not len(ppdf) or not len(hpdf):
            return empty
        pkey = (ppdf["cx"].to_numpy(np.int64) << 32) \
            + ppdf["cy"].to_numpy(np.int64)
        hkey = (hpdf["cx"].to_numpy(np.int64) << 32) \
            + hpdf["cy"].to_numpy(np.int64)
        po = np.argsort(pkey, kind="stable")
        ho = np.argsort(hkey, kind="stable")
        pkey, hkey = pkey[po], hkey[ho]
        ra = ppdf["ra"].to_numpy(np.int64)[po]
        src = ppdf["src"].to_numpy(np.int64)[po]
        ax = ppdf["ax"].to_numpy(np.int64)[po]
        ay = ppdf["ay"].to_numpy(np.int64)[po]
        same = ppdf["_same"].to_numpy(bool)[po]
        rb = hpdf["rb"].to_numpy(np.int64)[ho]
        dst = hpdf["dst"].to_numpy(np.int64)[ho]
        bx = hpdf["bx"].to_numpy(np.int64)[ho]
        by = hpdf["by"].to_numpy(np.int64)[ho]
        outs = []
        cells = np.unique(pkey)
        ps = np.searchsorted(pkey, cells)
        pe = np.searchsorted(pkey, cells, side="right")
        hs = np.searchsorted(hkey, cells)
        he = np.searchsorted(hkey, cells, side="right")
        for k in range(len(cells)):
            p0, p1, h0, h1 = ps[k], pe[k], hs[k], he[k]
            if p1 == p0 or h1 == h0:
                continue
            i_ = slice(p0, p1)
            j_ = slice(h0, h1)
            dx = ax[i_, None] - bx[None, j_]
            dy = ay[i_, None] - by[None, j_]
            ok = ((ra[i_, None] != rb[None, j_])
                  & (~same[i_, None] | (src[i_, None] > dst[None, j_])
                     | ((src[i_, None] == dst[None, j_])
                        & (ra[i_, None] < rb[None, j_])))
                  & (dx * dx + dy * dy <= e2))
            ii, jj = np.nonzero(ok)
            if not len(ii):
                continue
            ii, jj = ii + p0, jj + h0
            w = np.abs(ax[ii] - bx[jj]) + np.abs(ay[ii] - by[jj])
            fwd = ra[ii] < rb[jj]
            outs.append((np.minimum(ra[ii], rb[jj]),
                         np.maximum(ra[ii], rb[jj]), w,
                         np.where(fwd, src[ii], dst[jj]),
                         np.where(fwd, dst[jj], src[ii])))
        if not outs:
            return empty
        era = np.concatenate([o[0] for o in outs])
        erb = np.concatenate([o[1] for o in outs])
        w = np.concatenate([o[2] for o in outs])
        esrc = np.concatenate([o[3] for o in outs])
        edst = np.concatenate([o[4] for o in outs])
        order = np.lexsort((edst, esrc, w, erb, era))
        era, erb = era[order], erb[order]
        w, esrc, edst = w[order], esrc[order], edst[order]
        first = np.r_[True, (era[1:] != era[:-1]) | (erb[1:] != erb[:-1])]
        return pd.DataFrame({"ra": era[first], "rb": erb[first],
                             "w": w[first], "src": esrc[first],
                             "dst": edst[first]})

    probe_b = probe.withColumns({"_bx": F.expr(f"cx div {_BLK}"),
                                 "_by": F.expr(f"cy div {_BLK}")})
    home_b = home.withColumns({"_bx": F.expr(f"cx div {_BLK}"),
                               "_by": F.expr(f"cy div {_BLK}")})
    part = probe_b.groupBy("_bx", "_by").cogroup(
        home_b.groupBy("_bx", "_by")).applyInPandas(_cell_pairs,
                                                    out_schema)
    best = part.groupBy("ra", "rb").agg(
        F.min(F.struct(F.col("w"), F.col("src"), F.col("dst")))
        .alias("_e"))
    return best.select(F.col("_e.src").alias("src"),
                       F.col("_e.dst").alias("dst"),
                       F.col("_e.w").alias("w"))


def contracted_graph(segs: DataFrame, transfer_eps: int = 64,
                     extra_junctions: list[int] | None = None
                     ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (edges, skips, chain).

    edges: (src, dst, w) directed both ways — consecutive-junction
    road runs plus transfer footbridges: the exact graph, sufficient
    for any shortest-path computation.
    skips: additional skip-list shortcut edges (junction -> junction
    2^t ahead on the same road, weight = the exact along-road
    distance) — genuine road sub-paths, so adding them changes no
    distance; they exist to cut the DISTRIBUTED relaxation loop's
    round count toward log(chain length) and are lazy (never computed
    unless that tier runs).
    chain: one row per road vertex with its bounding junctions:
    (road_id, pos, vx, vy, nid, lj, lpos, rj, rpos) where lj/rj are
    the junction node ids at the nearest junction positions <=/>= pos
    (the interpolation anchors)."""
    # one materialization serves both consumers (transfer candidates
    # and the dup census) — the roads window otherwise re-runs per read
    verts = road_vertices(segs).localCheckpoint(eager=True)
    # junction nid set: transfer endpoints + requested extras + every
    # coordinate visited MORE THAN ONCE — by another road or by the
    # same road's own walk crossing itself (one topological node; the
    # node id is the packed coordinate, so contracted runs meeting
    # there connect through it for free). Junction counts are the
    # contraction premise (junction graph << vertex graph), so the
    # set is a bounded driver collect — capped loudly. The transfer
    # edges are junction-PAIR-sized, so they collect ONCE here and
    # ride back as an Arrow frame, while the dup census overlaps the
    # transfer-kernel job (both read the checkpointed verts).
    dups = (verts.select(_nid(F.col("vx"), F.col("vy")).alias("nid"))
            .groupBy("nid").agg(F.count("*").alias("_n"))
            .where("_n > 1").select("nid"))
    tr_pd, dup_rows = drivertier.beside(
        transfer_edges(verts, transfer_eps).toPandas,
        lambda: drivertier.collect_within(dups, _JUNCTION_CAP))
    if dup_rows is None:
        raise ValueError(
            f"junction census exceeds {_JUNCTION_CAP} nodes — the "
            "network is not chain-contractible at this scale")
    jset = set(dup_rows["nid"].tolist())
    jset.update(int(v_) for v_ in tr_pd["src"].tolist())
    jset.update(int(v_) for v_ in tr_pd["dst"].tolist())
    # e.g. SSSP sources: a mid-chain source must split its chain so
    # its own label (0) anchors the interpolation exactly
    jset.update(int(v_) for v_ in extra_junctions or ())
    jset_b = segs.sparkSession.sparkContext.broadcast(jset)
    tr = segs.sparkSession.createDataFrame(tr_pd,
                                           "src long, dst long, w long")

    # ONE applyInPandas pass per road replaces the old 3-join +
    # double-window chain annotation (the fill columns are plain
    # numpy scans per road): measured ~2x off the contraction wall
    def _annotate(pdf):
        pdf = pdf.sort_values("seg", kind="stable")
        ax = pdf["ax"].to_numpy(np.int64)
        ay = pdf["ay"].to_numpy(np.int64)
        k = len(pdf)
        vx = np.empty(k + 1, np.int64)
        vy = np.empty(k + 1, np.int64)
        vx[:k] = ax
        vy[:k] = ay
        vx[k] = int(pdf["bx"].iloc[-1])
        vy[k] = int(pdf["by"].iloc[-1])
        nid = (vx << _SHIFT) + vy
        pos = np.arange(k + 1, dtype=np.int64)
        js = jset_b.value
        jflag = np.fromiter((int(n) in js for n in nid), bool, k + 1)
        jflag[0] = jflag[k] = True
        # forward/backward fill of junction pos; nid via gather
        # (pos 0 and k are always junctions, so fills never run dry)
        lpos = np.maximum.accumulate(np.where(jflag, pos, -1))
        rpos = np.minimum.accumulate(
            np.where(jflag, pos, np.int64(1) << 60)[::-1])[::-1]
        rid = int(pdf["road_id"].iloc[0])
        return pd.DataFrame({
            "road_id": np.full(k + 1, rid, np.int64),
            "pos": pos, "vx": vx, "vy": vy, "nid": nid,
            "lj": nid[lpos], "lpos": lpos,
            "rj": nid[rpos], "rpos": rpos,
            "jflag": jflag,
        })

    import pandas as pd

    v = segs.groupBy("road_id").applyInPandas(
        _annotate,
        "road_id long, pos long, vx long, vy long, nid long, "
        "lj long, lpos long, rj long, rpos long, jflag boolean"
    ).localCheckpoint(eager=True)
    chain = v.select("road_id", "pos", "vx", "vy", "nid",
                     "lj", "lpos", "rj", "rpos")
    # contracted edges: consecutive junctions along each road, PLUS
    # skip-list shortcuts (junction -> junction 2^t ahead on the same
    # road, weight = the exact along-road distance). Shortcuts are
    # genuine road sub-paths so every label stays achievable; they cut
    # the iterative stage's round count from the junction-chain length
    # toward its log (self-crossing roads make those chains deep).
    # One applyInPandas pass per road emits all tiers vectorized —
    # per-task state is one road's junction sequence.
    j = v.where("jflag").select("road_id", "pos", "nid")
    jw = Window.partitionBy("road_id").orderBy("pos")
    runs = (j.withColumn("npos", F.lead("pos").over(jw))
            .withColumn("nnid", F.lead("nid").over(jw))
            .where(F.col("npos").isNotNull())
            .select(F.col("nid").alias("src"),
                    F.col("nnid").alias("dst"),
                    ((F.col("npos") - F.col("pos")) * 5).alias("w")))

    def _emit_skips(pdf):
        import pandas as pd

        pdf = pdf.sort_values("pos")
        nid = pdf["nid"].to_numpy()
        pos = pdf["pos"].to_numpy()
        srcs, dsts, ws = [], [], []
        step = 2
        while step < len(nid):
            srcs.append(nid[:-step])
            dsts.append(nid[step:])
            ws.append((pos[step:] - pos[:-step]) * 5)
            step <<= 1
        if not srcs:
            return pd.DataFrame({"src": [], "dst": [], "w": []})
        return pd.DataFrame({"src": np.concatenate(srcs),
                             "dst": np.concatenate(dsts),
                             "w": np.concatenate(ws)})

    sk = j.groupBy("road_id").applyInPandas(
        _emit_skips, "src long, dst long, w long")

    def both_ways(df):
        return df.unionByName(
            df.select(F.col("dst").alias("src"),
                      F.col("src").alias("dst"), "w"))

    # duplicates are harmless under the min-agg relaxation — no
    # distinct shuffle needed
    return both_ways(runs.unionByName(tr)), both_ways(sk), chain


def _dijkstra(edge_rows, seed_rows) -> dict[int, int]:
    """Driver-tier exact Dijkstra over the (small) contracted graph —
    the same labeling the distributed loop converges to."""
    import collections
    import heapq

    adj = collections.defaultdict(list)
    for r in edge_rows:
        adj[r.src].append((r.dst, r.w))
    dist: dict[int, int] = {}
    pq = []
    for r in seed_rows:
        if r.node not in dist or r.dist < dist[r.node]:
            dist[r.node] = r.dist
    for n, d in dist.items():
        heapq.heappush(pq, (d, n))
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 1 << 62):
            continue
        for v2, w in adj[u]:
            nd = d + w
            if nd < dist.get(v2, 1 << 62):
                dist[v2] = nd
                heapq.heappush(pq, (nd, v2))
    return dist


def sssp(spark: SparkSession, segs: DataFrame, sources: DataFrame,
         transfer_eps: int = 64, max_rounds: int = 64) -> DataFrame:
    """Shortest network distance from the source set to EVERY road
    vertex. ``sources``: rows (vx, vy) that must be road vertices
    (snap first for arbitrary points). Returns one row per distinct
    vertex (vx, vy, dist); -1 = unreachable.

    Two merge tiers on the contracted junction graph — the bounded-
    collect discipline joins.pip_join and dbscan established: under
    ``drivertier.SERIAL_ROWS`` edges the graph is Dijkstra'd on the
    driver (the junction graph is contraction-sized, not vertex-sized)
    and the labels ride back as a DataFrame; past it the frontier
    Bellman-Ford loop runs fully distributed. Tiers are label-
    identical (pytest-pinned)."""
    import pandas as pd

    # the source set is query-sized by contract (a routing request),
    # so it collects ONCE and rides everywhere as plain ints — one
    # job instead of four (distinct-count, junction toPandas,
    # validation join build, seed checkpoint)
    src_pd = sources.select(
        _nid(F.col("vx"), F.col("vy")).alias("nid")).distinct().toPandas()
    src_nids = [int(v) for v in src_pd["nid"]]
    n_src = len(src_nids)
    if n_src == 0:
        raise ValueError("sssp needs at least one source")
    # sources become junctions, so each source IS a node of the
    # contracted graph and seeds itself at distance 0
    edges, skips, chain = contracted_graph(segs, transfer_eps,
                                           extra_junctions=src_nids)
    # chain is a projection of the annotate pass, which
    # contracted_graph already checkpointed — both its consumers
    # (validation, interpolation) replay that checkpoint for free.
    # The contracted edge list is junction-sized, so the tier choice
    # and the Dijkstra input come from ONE capped collect, with the
    # source-validation count riding a second driver thread over the
    # same checkpoint (guide §2.6).
    edges_pd, matched = drivertier.beside(
        lambda: drivertier.collect_within(edges, drivertier.SERIAL_ROWS),
        chain.where(F.col("nid").isin(src_nids)).select("nid")
        .distinct().count)
    if matched < n_src:
        raise ValueError(
            f"{n_src - matched} source(s) are not road vertices — "
            "snap them to the network first (snap.snap_points)")
    seed_pd = pd.DataFrame({"node": pd.Series(src_nids, dtype="int64"),
                            "dist": np.zeros(n_src, np.int64)})
    n_dist = None
    labels = None
    if edges_pd is not None:
        # Arrow transfer + namedtuples, not Row collect: at the 500k
        # cap Row materialization alone costs seconds
        labels = _dijkstra(
            edges_pd.itertuples(index=False),
            seed_pd.itertuples(index=False))

        # Arrow path, not a python Row list; the label count is known
        # here, so the interpolation joins below can broadcast
        n_dist = len(labels)
        dist = spark.createDataFrame(
            pd.DataFrame({"node": pd.Series(list(labels.keys()),
                                            dtype="int64"),
                          "dist": pd.Series(list(labels.values()),
                                            dtype="int64")}),
            "node long, dist long")
    else:
        # the distributed tier adds the skip shortcuts (distance-
        # preserving) so rounds track log(chain length), not length
        edges = edges.unionByName(skips).localCheckpoint(eager=True)
        dist = spark.createDataFrame(seed_pd, "node long, dist long")
        frontier = dist
        for _ in range(max_rounds):
            cand = (frontier.join(edges,
                                  frontier["node"] == edges["src"])
                    .select(F.col("dst").alias("node"),
                            (F.col("dist") + F.col("w")).alias("nd"))
                    .groupBy("node").agg(F.min("nd").alias("nd")))
            merged = (dist.join(cand, "node", "full")
                      .select("node",
                              F.least(F.coalesce("dist", F.lit(2**62)),
                                      F.coalesce("nd", F.lit(2**62)))
                              .alias("dist"),
                              (F.col("nd").isNotNull()
                               & (F.col("dist").isNull()
                                  | (F.col("nd") < F.col("dist"))))
                              .alias("_imp"))
                      .localCheckpoint(eager=True))
            frontier = merged.where("_imp").select("node", "dist")
            dist = merged.select("node", "dist")
            if frontier.limit(1).count() == 0:
                break
    # interpolate every chain vertex from its bounding junctions;
    # mid-chain sources also seed directly through their own nid.
    #
    # Driver tier (the bounded-collect discipline, distributed
    # fallback unchanged): when the labels are ALREADY driver-side
    # (Dijkstra tier) and the chain fits the cap, the interpolation
    # is a pure numpy gather + segmented min — the three broadcast
    # joins and the (vx, vy) groupBy shuffle disappear.  Arithmetic
    # mirrors the join projection EXACTLY: a missing label is the
    # 2^62 sentinel WITHOUT the chain offset (coalesce semantics),
    # the per-vertex min dedups junction-shared coordinates (nid
    # bijects (vx, vy) — the packed coordinate), and >= 2^62 -> -1.
    # Tier equality is pinned in tests/test_route.py.
    if labels is not None:
        ch_pd = drivertier.collect_within(
            chain.select("nid", "pos", "lpos", "rpos", "lj", "rj"),
            drivertier.SERIAL_ROWS)
        if ch_pd is not None:
            nid = ch_pd["nid"].to_numpy(np.int64)
            keys = np.fromiter(labels.keys(), np.int64, len(labels))
            vals = np.fromiter(labels.values(), np.int64, len(labels))
            order = np.argsort(keys)
            keys, vals = keys[order], vals[order]
            INF = np.int64(1) << 62

            def lab(arr: np.ndarray) -> np.ndarray:
                if not len(keys):
                    return np.full(len(arr), INF, np.int64)
                p = np.searchsorted(keys, arr)
                pc = np.minimum(p, len(keys) - 1)
                return np.where(keys[pc] == arr, vals[pc], INF)

            pos = ch_pd["pos"].to_numpy(np.int64)
            ldist = lab(ch_pd["lj"].to_numpy(np.int64))
            rdist = lab(ch_pd["rj"].to_numpy(np.int64))
            dl = np.where(
                ldist >= INF, INF,
                ldist + (pos - ch_pd["lpos"].to_numpy(np.int64)) * 5)
            dr = np.where(
                rdist >= INF, INF,
                rdist + (ch_pd["rpos"].to_numpy(np.int64) - pos) * 5)
            d = np.minimum(np.minimum(dl, dr), lab(nid))
            o = np.argsort(nid, kind="stable")
            nid_s, d_s = nid[o], d[o]
            starts = np.flatnonzero(np.r_[True, nid_s[1:] != nid_s[:-1]])
            uq = nid_s[starts]
            dmin = np.minimum.reduceat(d_s, starts)
            dmin = np.where(dmin >= INF, np.int64(-1), dmin)
            return spark.createDataFrame(
                pd.DataFrame({"vx": uq >> _SHIFT,
                              "vy": uq & ((np.int64(1) << _SHIFT) - 1),
                              "dist": dmin}),
                "vx long, vy long, dist long")

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if n_dist is not None \
            and n_dist <= 4_000_000 else df

    dl = _b(dist.select(F.col("node").alias("lj"),
                        F.col("dist").alias("_dl")))
    dr = _b(dist.select(F.col("node").alias("rj"),
                        F.col("dist").alias("_dr")))
    ds = _b(dist.select(F.col("node").alias("nid"),
                        F.col("dist").alias("_ds")))
    out = (chain.join(dl, "lj", "left").join(dr, "rj", "left")
           .join(ds, "nid", "left")
           .select("vx", "vy",
                   F.least(
                       F.coalesce(F.col("_dl")
                                  + (F.col("pos") - F.col("lpos")) * 5,
                                  F.lit(2**62)),
                       F.coalesce(F.col("_dr")
                                  + (F.col("rpos") - F.col("pos")) * 5,
                                  F.lit(2**62)),
                       F.coalesce("_ds", F.lit(2**62))).alias("dist")))
    return (out.groupBy("vx", "vy")
            .agg(F.min("dist").alias("dist"))
            .select("vx", "vy",
                    F.when(F.col("dist") >= 2**62, F.lit(-1).cast("long"))
                    .otherwise(F.col("dist").cast("long")).alias("dist")))


def route_sources(spark: SparkSession, sf_dir: str,
                  n: int = 4) -> DataFrame:
    """Deterministic source set for benchmarks/tests: the first vertex
    of the lowest-keyed ``n`` roads."""
    segs = S.roads(spark, sf_dir)
    return (segs.where((F.col("seg") == 0))
            .orderBy("road_id").limit(n)
            .select(F.col("ax").alias("vx"), F.col("ay").alias("vy")))


def segment_bands(spark: SparkSession, segs: DataFrame,
                  sources: DataFrame, band_width: int = 1000,
                  n_bands: int = 8, transfer_eps: int = 64) -> DataFrame:
    """Per-segment isochrone band: segment rows plus ``band`` =
    min endpoint network distance div ``band_width``; unreachable and
    past-horizon segments drop. The tested core of isochrone_tiles."""
    dist = sssp(spark, segs, sources, transfer_eps=transfer_eps)
    da = dist.select(F.col("vx").alias("ax"), F.col("vy").alias("ay"),
                     F.col("dist").alias("_da"))
    db = dist.select(F.col("vx").alias("bx"), F.col("vy").alias("by"),
                     F.col("dist").alias("_db"))
    return (segs.join(da, ["ax", "ay"]).join(db, ["bx", "by"])
            .where((F.col("_da") >= 0) & (F.col("_db") >= 0))
            .withColumn("band",
                        F.floor(F.least("_da", "_db") / F.lit(band_width))
                        .cast("long"))
            .where(F.col("band") < n_bands)
            .drop("_da", "_db"))


def isochrone_tiles(spark: SparkSession, segs: DataFrame,
                    sources: DataFrame, band_width: int = 1000,
                    n_bands: int = 8, transfer_eps: int = 64,
                    zoom: int | None = None, extent: int = 4096
                    ) -> DataFrame:
    """Isochrone map: road segments bucketed by network distance from
    the source set, served as per-band MVT line layers ("iso_0" is the
    closest band). Band of a segment = min endpoint distance div
    ``band_width`` (the leading edge); segments past band ``n_bands-1``
    or unreachable drop. Adjacent vertices are mutually reachable
    (every segment is an edge), so a segment's endpoints are either
    both labeled or both unreachable — no mixed case exists.

    Pure composition: sssp labels -> two endpoint joins -> the shared
    world-features tail with ``coalesce_lines=True``, so same-band
    runs merge into maximal polylines per tile before encode — the
    same kernels every other tile producer runs."""
    from . import geojson as _geojson
    from . import synth

    if zoom is None:
        zoom = synth.ZOOM
    j = segment_bands(spark, segs, sources, band_width=band_width,
                      n_bands=n_bands, transfer_eps=transfer_eps)
    feats = j.select(
        (F.col("road_id") * 512 + F.col("seg")).alias("fid"),
        F.lit("LineString").alias("gj_type"),
        F.array(F.array(F.array("ax", "ay"),
                        F.array("bx", "by"))).alias("parts"),
        F.concat(F.lit("iso_"), F.col("band")).alias("_layer"))
    return _geojson.world_features_to_tiles(
        feats, zoom, extent, coalesce_lines=True, layer_col="_layer")
