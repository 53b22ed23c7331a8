"""Supercluster — hierarchical greedy point clustering for tiled maps.

Semantics (the published mapbox/supercluster algorithm, made
deterministic): points are visited in ascending id order; a point that
has not been absorbed yet becomes a cluster SEED and absorbs every
still-unabsorbed point within ``radius``.  Because seeds are created
in id order, the sequential sweep has a closed form — the one both the
distributed loop and the DuckDB oracle compute:

- ``seed(p)``   <=>  there is NO seed q < p with d2(q, p) <= radius^2
- ``assign(p)``  =   min{ q <= p : seed(q), d2(q, p) <= radius^2 }
                     (p itself when p is a seed)

i.e. the seed set is the lexicographically-first maximal independent
set of the radius graph, and every point joins its minimum-id seed
neighbor.  Distance is squared-Euclidean on int64 world coordinates,
boundary inclusive — no floats anywhere.  A cluster's position is its
members' exact coordinate centroid; between pyramid levels the
centroid quantizes to the integer world grid (``sum div n`` — the same
grid snap MVT encoding applies), and the exact sums ride along so mass
and first moments are conserved bit-exactly through the whole ladder.

Scale shape (the 100 TB story):

1. Candidate pairs are the cell-bucketed radius SELF-join every other
   neighborhood operator here runs (``dbscan.neighbor_pairs``: one
   home cell of side 2^s >= radius, half-plane probe building each
   unordered conflict once, int64 refine in codegen) — pair volume
   is bounded by true neighborhood density.
2. The greedy order dependence resolves as a WAVEFRONT, not a scan:
   an undecided point p decides the moment the pairs can prove its
   status —

   - ``min_seed``  = min decided-seed neighbor q < p,
   - ``min_undec`` = min still-undecided neighbor q < p,
   - p is ABSORBED by ``min_seed`` once ``min_undec > min_seed`` (no
     undecided smaller point can still produce a smaller seed), and
   - p is a SEED once every q < p neighbor is decided non-seed.

   Rounds 1+2 FUSE into one pass (round-1 seeds are closed-form —
   no smaller neighbor — so one flag join answers round 2's
   seed-status question immediately); q's decided-seed status rides
   the pair row from then on, making each later round one
   map-side-combined min-aggregate over the pruned pair set alone,
   no join.  The pair set shrinks every round (decided probes and
   decided-non-seed targets are pruned away) and each round's
   survivors are localCheckpoint'ed, so lineage stays flat.  A dense
   blob resolves in ONE fused pass (its min-id point seeds,
   everything else absorbs);
   the round count equals the longest strictly-decreasing-id
   dependency chain, O(log n) for random ids — the same loop
   discipline as ``knn`` ring expansion and ``dbscan``'s merge.
   Progress is guaranteed (the globally-minimum undecided point is
   always decidable), so ``max_rounds`` only bounds adversarial
   id-orderings, loudly.  Once the FRONTIER fits under
   ``drivertier.SERIAL_ROWS`` (both the undecided set and the
   surviving pairs), the residual subproblem collects once and the
   sequential sweep finishes it on the driver — the dbscan-merge
   bounded-collect discipline; the dependency-chain tail is
   latency-bound distributed and trivial serially, and both tiers
   compute the identical closed form (pytest-pinned with
   ``drivertier.SERIAL_ROWS`` set to 0).
3. The pyramid (``supercluster_levels``) re-clusters each level's
   cluster points with a doubling radius — level z's input is level
   z+1's OUTPUT (cluster-count-sized, not point-sized), so the total
   work is a geometric series over shrinking inputs, and the
   per-level loop state is never more than the surviving cluster set.
4. ``cluster_tiles`` serves the result: per-level tile assignment is
   pure column math and the encode is the shared Arrow point-tile
   encoder (one shuffle, no Python strings).

Driver materializations are ``drivertier.collect_within`` collects
bounded by ``drivertier.SERIAL_ROWS``; no stage is quadratic in
anything but true neighbor density.  Reference analog: none —
vtzero is the tile codec this engine serves through (SURVEY §2 scope);
supercluster is the canonical map-side companion (mapbox/supercluster,
public algorithm) a tile server runs to render point layers at low
zooms, and its output feeds the same MVT encode tail as every other
operator here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import drivertier
from .dbscan import neighbor_pairs
from .synth import EXTENT, WORLD

# row bound under which an id-keyed narrow build side broadcasts
# (~64 MB of (long, long) rows — comfortably executor-sized; every
# use pairs it with a COUNTED bound, never an estimate)
_BCAST_ROWS = 4_000_000


def _serial_sweep(und_ids, p_arr, q_arr, flags):
    """The greedy sweep as VECTORIZED wavefront rounds on collected
    arrays — the same round rule the distributed loop iterates (see
    the module docstring), so the fixpoint is the sequential sweep's
    closed form by the same argument, with zero per-pair Python:
    each round computes per-probe min decided-seed / min undecided
    targets with masked segment minima, decides every decidable
    probe at once, and COMPRESSES the pair set (decided probes and
    decided-non-seed targets drop), so total work is a geometric
    series over shrinking arrays (measured ~5x off the per-pair
    Python walk at the 457k/1.25M scale).  Returns (seed, assign)
    aligned with the sorted ``und_ids``."""
    import numpy as np

    n_ids = len(und_ids)
    seed = np.ones(n_ids, bool)
    assign = und_ids.copy()
    if not len(p_arr):
        return seed, assign
    # int64 max as the masked-min filler, with PRESENCE tracked by
    # per-group counts, never by sentinel comparison — ids may use
    # the full int64 range (marker priorities pack mass<<32|id)
    INF = np.iinfo(np.int64).max
    # state: 0 undecided, 1 seed, 2 non-seed (index space = und_ids)
    state = np.zeros(n_ids, np.int8)
    order = np.lexsort((q_arr, p_arr))
    p_s, q_s, f_s = p_arr[order], q_arr[order], flags[order]
    pidx = np.searchsorted(und_ids, p_s)
    qpos = np.minimum(np.searchsorted(und_ids, q_s),
                      max(n_ids - 1, 0))
    q_in = und_ids[qpos] == q_s  # target still undecided at entry
    # round 1 closed form: a point never appearing as probe has no
    # smaller conflict and seeds
    inp = np.zeros(n_ids, bool)
    inp[pidx] = True
    state[~inp] = 1
    while True:
        # per-pair target status under the CURRENT state
        qseed = f_s | (q_in & (state[qpos] == 1))
        qund = ~f_s & q_in & (state[qpos] == 0)
        starts = np.flatnonzero(np.r_[True, p_s[1:] != p_s[:-1]])
        gpos = pidx[starts]
        min_seed = np.minimum.reduceat(
            np.where(qseed, q_s, INF), starts)
        min_und = np.minimum.reduceat(
            np.where(qund, q_s, INF), starts)
        has_seed = np.add.reduceat(qseed, starts) > 0
        has_und = np.add.reduceat(qund, starts) > 0
        absorb = has_seed & (~has_und | (min_und > min_seed))
        seeds_now = ~has_seed & ~has_und
        if not (absorb.any() or seeds_now.any()):
            # the progress guarantee (module docstring) makes this
            # unreachable; fail loudly rather than return a partial
            # labeling if an invariant is ever broken
            raise RuntimeError(
                f"serial wavefront stalled with {len(starts)} "
                "undecided probes")
        state[gpos[absorb]] = 2
        assign[gpos[absorb]] = min_seed[absorb]
        seed[gpos[absorb]] = False
        state[gpos[seeds_now]] = 1
        # compress: decided probes drop; decided-non-seed targets
        # drop (they can never block); decided-seed targets fold
        # into the flag so state[] is no longer consulted for them
        qseed = f_s | (q_in & (state[qpos] == 1))
        keep = (state[pidx] == 0) & (qseed
                                     | (q_in & (state[qpos] == 0)))
        # a still-undecided probe whose pairs ALL dropped has every
        # smaller conflict decided non-seed -> it SEEDS (the
        # distributed loop's per-round `pairless` anti-join rule);
        # without this it would vanish from the compressed arrays
        # undecided and stall its waiters
        surv = np.add.reduceat(keep.astype(np.int64), starts)
        lost = (state[gpos] == 0) & (surv == 0)
        state[gpos[lost]] = 1
        if not keep.any():
            break
        p_s, q_s, qpos, q_in = p_s[keep], q_s[keep], qpos[keep], \
            q_in[keep]
        f_s = qseed[keep]
        pidx = pidx[keep]
    return seed, assign


def wavefront_mis(pts: DataFrame, pairs: DataFrame,
                  max_rounds: int = 64) -> DataFrame:
    """The shared lex-first-MIS wavefront: given points (pid) and
    ordered CONFLICT pairs (p, q) with q < p — any symmetric conflict
    relation: radius balls (supercluster), collision boxes (label
    placement) — returns (pid, seed, assign) where the seed set is
    the lexicographically-first maximal independent set and every
    non-seed's ``assign`` is its min-id conflicting seed.  ``pairs``
    may be a lazy plan: the wavefront checkpoints it, and the first
    pair count materializes it.  See the module docstring for the
    round rule and the progress guarantee.

    TWO TIERS, the dbscan-merge / pip-hot-census bounded-collect
    discipline: distributed rounds while the frontier is large; once
    the undecided set fits under ``drivertier.SERIAL_ROWS`` rows and
    the surviving pair set under four times that, the residual
    subproblem (which the pruning invariant keeps self-contained:
    every surviving pair's target is undecided or a decided seed)
    collects once and finishes with the sequential sweep on the
    driver — the dependency-chain TAIL is latency-bound distributed
    and trivial serially.  ``drivertier.SERIAL_ROWS = 0`` forces the
    pure distributed loop (tier equality is pytest-pinned; both tiers
    compute the identical closed form)."""
    import numpy as np
    import pandas as pd

    spark = pts.sparkSession
    schema = "pid long, seed boolean, assign long"
    decided_parts: list[DataFrame] = []

    # lazy: the n_pairs count below materializes it in one job
    pairs = pairs.localCheckpoint(eager=False)
    und = pts.select("pid").localCheckpoint(eager=False)
    n_und = und.count()  # materializes the checkpoint
    # q's decided-seed status RIDES THE PAIR ROW (set by the prune
    # join the round q decides): later rounds and the serial tier read
    # it in place — no growing seed-union relation, no extra join
    pairs = pairs.withColumn("q_seed", F.lit(None).cast("boolean"))
    n_pairs = pairs.count()

    # size-aware join strategy, decided from the counts the loop
    # already takes (the joins.py broadcast-vs-shuffle discipline):
    # the id-keyed build sides (probe-id census, per-round decisions)
    # are bounded by the frame the census measured, so broadcast them
    # while that bound fits an executor — shuffle joins past it

    def _maybe_b(df: DataFrame, bound: int) -> DataFrame:
        return F.broadcast(df) if bound <= _BCAST_ROWS else df

    rounds = 0
    while n_und > 0:
        # pair rows are three fixed-width longs (~24 B) — a quarter
        # of the widest row the 500k-point bound was sized for — so
        # the pair side of the bounded collect admits 4x the rows at
        # the SAME byte bound; tier equality is unchanged
        # (pytest-pinned serial==distributed)
        cap = drivertier.SERIAL_ROWS
        if n_und <= cap and n_pairs <= 4 * cap:
            # bounded-collect tier: the residual subproblem is
            # exactly (und, pairs-with-q_seed) — each bounded by the
            # check above.  Arrow/pandas transfer, not Row collect;
            # the q_seed flag makes this a pure numpy computation
            # (zero further Spark jobs); the sweep itself is the
            # shared _serial_sweep (measured 2-3x off the old
            # dict/set sweep at the 500k cap).
            pp = pairs.toPandas()
            und_ids = np.sort(und.toPandas()["pid"].to_numpy(np.int64))
            seed, assign = _serial_sweep(
                und_ids,
                pp["p"].to_numpy(np.int64),
                pp["q"].to_numpy(np.int64),
                pp["q_seed"].eq(True).to_numpy(dtype=bool))
            decided_parts.append(spark.createDataFrame(
                pd.DataFrame({"pid": pd.Series(und_ids),
                              "seed": seed,
                              "assign": pd.Series(assign)}),
                schema))
            break
        rounds += 2 if rounds == 0 and max_rounds >= 2 else 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"wavefront did not converge in {max_rounds} rounds "
                f"({n_und} points undecided): the input's id order forms "
                "a dependency chain longer than max_rounds — raise it")
        if not decided_parts and max_rounds >= 2:
            # FUSED ROUNDS 1+2 in one pass.  Round 1's seeds are
            # closed-form (q seeds iff q has no smaller neighbor, i.e.
            # q never appears as a probe p), so one flag join answers
            # round 2's seed-status question without waiting a round:
            # absorb p iff its min round-1-seed neighbor undercuts its
            # min still-undecided neighbor.  Provably identical to two
            # iterations of the round rule (no non-seed decisions
            # exist after round 1, so no pruning intervenes).
            probe_ids = pairs.select(F.col("p").alias("q")).distinct() \
                .withColumn("q_has", F.lit(True))
            agg = (pairs.join(_maybe_b(probe_ids, n_und), "q", "left")
                   .groupBy("p").agg(
                       F.min(F.when(F.col("q_has").isNull(), F.col("q")))
                       .alias("min_seed"),
                       F.min(F.when(F.col("q_has").isNotNull(),
                                    F.col("q"))).alias("min_undec")))
            absorbed = agg.where(
                F.col("min_seed").isNotNull()
                & (F.col("min_undec").isNull()
                   | (F.col("min_undec") > F.col("min_seed")))
            ).select(F.col("p").alias("pid"),
                     F.lit(False).alias("seed"),
                     F.col("min_seed").alias("assign"))
            seeds1 = (und.join(
                _maybe_b(pairs.select(F.col("p").alias("pid")), n_pairs),
                "pid", "left_anti")
                .select("pid", F.lit(True).alias("seed"),
                        F.col("pid").alias("assign")))
            new = seeds1.unionByName(absorbed) \
                .localCheckpoint(eager=False)
        elif not decided_parts:
            # max_rounds == 1 legacy shape: round 1 alone (seeds-only)
            new = (und.join(pairs.select(F.col("p").alias("pid")),
                            "pid", "left_anti")
                   .select("pid", F.lit(True).alias("seed"),
                           F.col("pid").alias("assign"))
                   .localCheckpoint(eager=True))
        else:
            # general round over the PRUNED pair set alone: the
            # pruning invariant keeps every surviving probe p
            # undecided and every surviving target q undecided-or-
            # flagged-seed, so the aggregate needs no join at all —
            # and a point whose pairs are all gone seeds by anti-join
            agg = pairs.groupBy("p").agg(
                F.min(F.when(F.col("q_seed").isNull(), F.col("q")))
                .alias("min_undec"),
                F.min(F.when(F.col("q_seed"), F.col("q")))
                .alias("min_seed"))
            absorbed = agg.where(
                F.col("min_seed").isNotNull()
                & (F.col("min_undec").isNull()
                   | (F.col("min_undec") > F.col("min_seed")))
            ).select(F.col("p").alias("pid"),
                     F.lit(False).alias("seed"),
                     F.col("min_seed").alias("assign"))
            pairless = (und.join(
                _maybe_b(pairs.select(F.col("p").alias("pid")), n_pairs),
                "pid", "left_anti")
                .select("pid", F.lit(True).alias("seed"),
                        F.col("pid").alias("assign")))
            new = pairless.unionByName(absorbed) \
                .localCheckpoint(eager=False)

        decided_parts.append(new)
        n_new = new.count()  # materializes this round's lazy checkpoint
        n_und -= n_new
        und = und.join(_maybe_b(new, n_new), "pid", "left_anti") \
            .localCheckpoint(eager=True)
        # shrink the pair set: decided probes are done; decided
        # NON-seed targets can never matter again (they are neither a
        # seed candidate nor undecided); decided-seed targets stay
        # with their q_seed flag set, feeding min_seed for later
        # waves.  This pruning is also the serial tier's
        # self-containment invariant.
        dec_q = new.select(F.col("pid").alias("q"),
                           F.col("seed").alias("_dseed"))
        pairs = (pairs
                 .join(_maybe_b(new.select(F.col("pid").alias("p")),
                                n_new), "p", "left_anti")
                 .join(_maybe_b(dec_q, n_new), "q", "left")
                 .where(F.col("_dseed").isNull() | F.col("_dseed"))
                 .withColumn("q_seed",
                             F.when(F.col("_dseed"), F.lit(True))
                             .otherwise(F.col("q_seed")))
                 .drop("_dseed")
                 .localCheckpoint(eager=False))
        n_pairs = pairs.count()  # materializes the pruned pair set

    if not decided_parts:
        return spark.createDataFrame([], schema)
    out = decided_parts[0]
    for part in decided_parts[1:]:
        out = out.unionByName(part)
    return out


def _serial_radius_pairs(pid, px, py, radius):
    """Driver-tier ordered conflict pairs (p, q), q < p, d2 <= r^2 —
    the exact pair SET neighbor_pairs(ordered=True) computes, built
    fully vectorized on collected arrays: sort by home cell, probe
    the 5 half-plane neighbor offsets via searchsorted run expansion,
    refine with exact int64 d2.  No per-cell Python loop."""
    import numpy as np

    s = 0
    while (1 << s) < radius:
        s += 1
    r2 = radius * radius

    def refine(du, dv, _ii, _jj, _ex):
        # in-place: du/dv are refine-owned candidate temporaries
        du *= du
        dv *= dv
        du += dv
        return du <= r2

    return _serial_cell_pairs(pid, px, py, s, refine)


# candidate-expansion bound for the driver-tier pair build: the old
# counted serial tier refused pair sets past its row cap; this is the
# same guard applied BEFORE materialization — past it the caller falls
# back to the distributed path (which spreads the same volume)
_SERIAL_CAND_CAP = 64_000_000


def _serial_cell_pairs(pid, px, py, s, refine, extras=()):
    """Shared driver-tier half-plane cell expansion: candidates from
    the 5 half-plane neighbor offsets over 2^s cells (unique-cell
    binary search + run expansion, no per-cell Python), refined by
    ``refine(du, dv, ii, jj, extras_sorted)`` (exact int64; ii/jj
    index the cell-sorted arrays, ``extras_sorted`` are the caller's
    per-point side arrays in that same order).  Returns ordered pairs
    (p, q), q < p — the exact pair SET the distributed cell joins
    compute — or ``None`` when the candidate volume exceeds
    ``_SERIAL_CAND_CAP`` (a dense blob; the caller falls back to the
    distributed tier rather than materializing it on the driver)."""
    import numpy as np

    n = len(pid)
    key = ((px >> s) << 32) + (py >> s)
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    pid_s, px_s, py_s = pid[order], px[order], py[order]
    extras_s = tuple(e[order] for e in extras)
    # unique occupied cells (sorted) + per-point cell index: the
    # neighbor lookup then binary-searches the CELL table, not the
    # point table (~2x fewer, and only once per offset)
    new_cell = np.r_[True, key_s[1:] != key_s[:-1]]
    ukeys = key_s[new_cell]
    ustart = np.flatnonzero(new_cell)
    ucnt = np.r_[ustart[1:], n] - ustart
    uidx = np.cumsum(new_cell) - 1            # sorted-point -> ucell
    nu = len(ukeys)
    out_p: list[np.ndarray] = []
    out_q: list[np.ndarray] = []
    cand_total = 0
    for dx, dy in ((0, 0), (1, 0), (1, 1), (0, 1), (-1, 1)):
        shift = (np.int64(dx) << 32) + np.int64(dy)
        m = np.searchsorted(ukeys, ukeys + shift)
        mc = np.minimum(m, nu - 1)
        valid = ukeys[mc] == ukeys + shift
        cnt_u = np.where(valid, ucnt[mc], 0)
        cnt_pt = cnt_u[uidx]                  # per sorted probe point
        total = int(cnt_pt.sum())
        cand_total += total
        if cand_total > _SERIAL_CAND_CAP:
            return None
        if total == 0:
            continue
        ii = np.repeat(np.arange(n), cnt_pt)  # probe (sorted) index
        starts = np.cumsum(cnt_pt) - cnt_pt
        jj = np.arange(total) - np.repeat(starts, cnt_pt) \
            + np.repeat(ustart[mc][uidx], cnt_pt)  # home (sorted) idx
        du = px_s[ii] - px_s[jj]
        dv = py_s[ii] - py_s[jj]
        ok = refine(du, dv, ii, jj, extras_s)
        if dx == 0 and dy == 0:
            ok &= pid_s[ii] > pid_s[jj]
        k = np.flatnonzero(ok)
        u = pid_s[ii[k]]
        v = pid_s[jj[k]]
        out_p.append(np.maximum(u, v))
        out_q.append(np.minimum(u, v))
    if not out_p:
        e = np.empty(0, np.int64)
        return e, e
    return np.concatenate(out_p), np.concatenate(out_q)


def _trunc_div(a, b):
    """Spark SQL ``div`` on int64 arrays: integer division truncating
    toward ZERO (numpy's ``//`` floors, which differs on negative
    quotients)."""
    import numpy as np

    q = np.abs(a) // np.abs(b)
    return np.where((a < 0) != (b < 0), -q, q)


def _serial_pyramid(pp, radius: int, min_zoom: int, max_zoom: int,
                    has_v: bool):
    """The WHOLE zoom pyramid on the driver from one bounded collect —
    engaged by ``supercluster_hierarchy`` when the top level fits the
    serial cap (cluster counts only shrink down the ladder, so every
    later level fits a fortiori).  Level-by-level this is exactly the
    serial tier ``greedy_cluster`` already runs (same
    ``_serial_radius_pairs`` pair set, same ``_serial_sweep`` closed
    form) plus the rollup as exact int64 ``np.add.at`` accumulations
    and the ``div`` centroid quantization — bit-identical to the
    distributed rollup (pinned in tests/test_supercluster.py), with
    ZERO per-level Spark jobs.  Returns (levels_pdf, edges_pdf), or
    None when any level's candidate expansion exceeds the driver cap
    (the caller then runs the distributed loop from the start)."""
    import numpy as np
    import pandas as pd

    order = np.argsort(pp["pid"].to_numpy(np.int64), kind="stable")
    pid = pp["pid"].to_numpy(np.int64)[order]
    px = pp["px"].to_numpy(np.int64)[order]
    py = pp["py"].to_numpy(np.int64)[order]
    nn = pp["n_points"].to_numpy(np.int64)[order]
    sx = pp["sum_x"].to_numpy(np.int64)[order]
    sy = pp["sum_y"].to_numpy(np.int64)[order]
    sv = pp["sum_v"].to_numpy(np.int64)[order] if has_v else None
    lv_parts: list[tuple] = []
    ed_parts: list[tuple] = []
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        r_z = radius << (max_zoom - 1 - z)
        res = _serial_radius_pairs(pid, px, py, r_z)
        if res is None:
            return None
        p_arr, q_arr = res
        _seed, assign = _serial_sweep(pid, p_arr, q_arr,
                                      np.zeros(len(p_arr), bool))
        ed_parts.append((z, pid, assign))
        uq, inv = np.unique(assign, return_inverse=True)
        k = len(uq)
        nn2 = np.zeros(k, np.int64)
        np.add.at(nn2, inv, nn)
        sx2 = np.zeros(k, np.int64)
        np.add.at(sx2, inv, sx)
        sy2 = np.zeros(k, np.int64)
        np.add.at(sy2, inv, sy)
        sv2 = None
        if has_v:
            sv2 = np.zeros(k, np.int64)
            np.add.at(sv2, inv, sv)
        cx = _trunc_div(sx2, nn2)
        cy = _trunc_div(sy2, nn2)
        lv_parts.append((z, uq, nn2, sx2, sy2, sv2, cx, cy))
        # np.unique returns uq SORTED, so the next level's pid array
        # keeps the sorted invariant _serial_sweep requires
        pid, px, py, nn, sx, sy, sv = uq, cx, cy, nn2, sx2, sy2, sv2
    cols = {
        "zoom": np.concatenate(
            [np.full(len(t[1]), t[0], np.int32) for t in lv_parts]),
        "cluster_id": np.concatenate([t[1] for t in lv_parts]),
        "n_points": np.concatenate([t[2] for t in lv_parts]),
        "sum_x": np.concatenate([t[3] for t in lv_parts]),
        "sum_y": np.concatenate([t[4] for t in lv_parts]),
    }
    if has_v:
        cols["sum_v"] = np.concatenate([t[5] for t in lv_parts])
    cols["cx"] = np.concatenate([t[6] for t in lv_parts])
    cols["cy"] = np.concatenate([t[7] for t in lv_parts])
    edges = pd.DataFrame({
        "zoom": np.concatenate(
            [np.full(len(t[1]), t[0], np.int32) for t in ed_parts]),
        "child_id": np.concatenate([t[1] for t in ed_parts]),
        "parent_id": np.concatenate([t[2] for t in ed_parts]),
    })
    return pd.DataFrame(cols), edges


def greedy_cluster(points: DataFrame, radius: int,
                   point_id: str = "pid", x_col: str = "px",
                   y_col: str = "py", max_rounds: int = 64,
                   n_points: int | None = None) -> DataFrame:
    """One level of greedy clustering: one row per input point with
    columns (pid, seed boolean, assign long) — ``assign`` is the
    min-id seed whose cluster absorbed the point (itself for seeds).
    Exact lex-first-MIS semantics over the radius conflict graph; see
    the module docstring.

    Serial tier (the dbscan-merge / route-Dijkstra bounded-collect
    discipline): when the point count fits ``drivertier.SERIAL_ROWS``,
    the point triples collect ONCE (three longs a row) and both the
    radius pairs and the greedy sweep run vectorized on the driver —
    label-identical to the distributed path by construction (the pair
    set is the same set, the sweep is the same closed form; pinned in
    tests).  Past it the cell-join + wavefront path runs unchanged.
    ``n_points``, when the caller already counted the points, decides
    the tier without a collect."""
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    import numpy as np
    import pandas as pd

    spark = points.sparkSession
    pts3 = points.select(
        F.col(point_id).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"))
    if n_points is None:
        # materialize the 3-long-column projection ONCE: every later
        # read (cell-join home/probe + id spine) is then a narrow
        # columnar scan — without this an expensive upstream re-runs
        # per read.  LAZY: the capped collect is the materializing
        # job, so sizing and checkpointing fuse into one
        pts3 = pts3.localCheckpoint(eager=False)
        pp = drivertier.collect_within(pts3, drivertier.SERIAL_ROWS)
    else:
        pp = pts3.toPandas() \
            if 0 < n_points <= drivertier.SERIAL_ROWS else None
    if pp is not None and len(pp):
        pid = pp["pid"].to_numpy(np.int64)
        px = pp["px"].to_numpy(np.int64)
        py = pp["py"].to_numpy(np.int64)
        res = _serial_radius_pairs(pid, px, py, radius)
        if res is not None:
            p_arr, q_arr = res
            und_ids = np.sort(pid)
            seed, assign = _serial_sweep(
                und_ids, p_arr, q_arr, np.zeros(len(p_arr), bool))
            return spark.createDataFrame(
                pd.DataFrame({"pid": pd.Series(und_ids), "seed": seed,
                              "assign": pd.Series(assign)}),
                "pid long, seed boolean, assign long")
        # candidate volume past _SERIAL_CAND_CAP (dense blob): run
        # the distributed path instead of materializing it driver-side
    if n_points is not None:
        pts3 = pts3.localCheckpoint(eager=True)
    # ordered conflict pairs (p, q) with q < p and d2 <= radius^2 —
    # the half-plane probe builds each unordered conflict exactly
    # once (5/9 the join volume of the symmetric set). The pair plan
    # stays LAZY: the wavefront checkpoints it itself.
    pairs = (neighbor_pairs(pts3, radius, join_hint="shuffle_hash",
                            ordered=True)
             .select(F.col("u").alias("p"), F.col("v").alias("q")))
    return wavefront_mis(pts3.select("pid"), pairs, max_rounds=max_rounds)


def cluster_rollup(points: DataFrame, labels: DataFrame,
                   point_id: str = "pid", x_col: str = "px",
                   y_col: str = "py") -> DataFrame:
    """Clusters from labels: (cluster_id, n_points, sum_x, sum_y,
    cx, cy) — exact integer member-coordinate sums, centroid
    quantized to the world grid by integer division (coords are
    non-negative, so truncation == floor).  One map-side-combined
    groupBy."""
    pts = points.select(
        F.col(point_id).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"))
    return (pts.join(labels.select("pid", "assign"), "pid")
            .groupBy(F.col("assign").alias("cluster_id"))
            .agg(F.count("*").alias("n_points"),
                 F.sum("px").alias("sum_x"),
                 F.sum("py").alias("sum_y"))
            .select("cluster_id", "n_points", "sum_x", "sum_y",
                    F.expr("sum_x div n_points").alias("cx"),
                    F.expr("sum_y div n_points").alias("cy")))


def supercluster_hierarchy(points: DataFrame, radius: int,
                           min_zoom: int, max_zoom: int,
                           point_id: str = "pid", x_col: str = "px",
                           y_col: str = "py",
                           value_col: str | None = None,
                           max_rounds: int = 64
                           ) -> tuple[DataFrame, DataFrame]:
    """The zoom pyramid: level ``max_zoom`` is the raw points
    (singleton clusters); each level z below clusters level z+1's
    clusters with radius ``radius << (max_zoom - 1 - z)`` (the
    standard per-zoom doubling ladder — one screen-pixel radius spans
    twice the world units one zoom out).  Weighted centroids carry
    EXACT original-point sums (n_points, sum_x, sum_y accumulate
    member masses, not level positions), so every level conserves
    total mass and both first moments bit-exactly; only the cluster
    POSITION quantizes to the integer grid between levels.

    ``value_col`` is the supercluster ``reduce`` accumulator: an
    optional per-point integer property whose EXACT sum rides every
    cluster as ``sum_v`` (the public API's map/reduce pair restricted
    to the sum monoid — the one that distributes losslessly).

    Returns (levels, edges).  ``levels``: (zoom, cluster_id,
    n_points, sum_x, sum_y[, sum_v], cx, cy), one row per cluster per
    level, min_zoom..max_zoom.  ``edges``: (zoom, child_id,
    parent_id), one row per level-(zoom+1) item per level zoom — the
    membership ladder behind mapbox's getChildren / getLeaves /
    getClusterExpansionZoom (a seed's self-edge carries the
    same-id chain, so single-child clusters keep their id down the
    ladder).  The edges are a free byproduct of the per-level labels;
    no extra jobs run to produce them."""
    if not 0 <= min_zoom <= max_zoom:
        raise ValueError(f"bad zoom range [{min_zoom}, {max_zoom}]")
    # materialized once: the level loop reads items repeatedly (the
    # greedy pair join and the rollup join), and each later level is
    # checkpointed below anyway
    vcols = [F.col(value_col).cast("long").alias("sum_v")] \
        if value_col is not None else []
    vnames = ["sum_v"] if value_col is not None else []
    items = points.select(
        F.col(point_id).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"),
        F.lit(1).cast("long").alias("n_points"),
        F.col(x_col).cast("long").alias("sum_x"),
        F.col(y_col).cast("long").alias("sum_y"),
        *vcols).localCheckpoint(eager=False)
    out = items.select(
        F.lit(max_zoom).cast("int").alias("zoom"),
        F.col("pid").alias("cluster_id"), "n_points", "sum_x", "sum_y",
        *vnames, F.col("px").alias("cx"), F.col("py").alias("cy"))
    edge_parts: list[DataFrame] = []
    spark = points.sparkSession
    if min_zoom <= max_zoom - 1:
        # driver-serial PYRAMID tier: when the top level fits the
        # serial cap, every level below fits too (cluster counts only
        # shrink), so the whole ladder runs from ONE bounded collect —
        # same pair sets, same sweep, exact int64 rollups, zero
        # per-level Spark jobs (see _serial_pyramid)
        pp = drivertier.collect_within(items, drivertier.SERIAL_ROWS)
        if pp is not None and len(pp):
            res = _serial_pyramid(pp, radius, min_zoom, max_zoom,
                                  value_col is not None)
            if res is not None:
                lv_pd, ed_pd = res
                lv_schema = (
                    "zoom int, cluster_id long, n_points long, "
                    "sum_x long, sum_y long, "
                    + ("sum_v long, " if value_col is not None else "")
                    + "cx long, cy long")
                out = out.unionByName(
                    spark.createDataFrame(lv_pd, lv_schema))
                edges = spark.createDataFrame(
                    ed_pd, "zoom int, child_id long, parent_id long")
                return out, edges
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        r_z = radius << (max_zoom - 1 - z)
        n_items = items.count()  # cheap: items is checkpointed
        lab = greedy_cluster(items, r_z, max_rounds=max_rounds,
                             n_points=n_items)
        edge_parts.append(lab.select(
            F.lit(z).cast("int").alias("zoom"),
            F.col("pid").alias("child_id"),
            F.col("assign").alias("parent_id")))
        vaggs = [F.sum("sum_v").alias("sum_v")] \
            if value_col is not None else []
        # the label side is one (pid, assign) row per item — counted,
        # so broadcast it under the same tier the wavefront uses and
        # the rollup join goes map-side (the groupBy still shuffles)
        side = lab.select("pid", "assign")
        if n_items <= _BCAST_ROWS:
            side = F.broadcast(side)
        items = (items.join(side, "pid")
                 .groupBy(F.col("assign").alias("pid"))
                 .agg(F.sum("n_points").alias("n_points"),
                      F.sum("sum_x").alias("sum_x"),
                      F.sum("sum_y").alias("sum_y"), *vaggs)
                 .select("pid", "n_points", "sum_x", "sum_y", *vnames,
                         F.expr("sum_x div n_points").alias("px"),
                         F.expr("sum_y div n_points").alias("py"))
                 .localCheckpoint(eager=True))
        out = out.unionByName(items.select(
            F.lit(z).cast("int").alias("zoom"),
            F.col("pid").alias("cluster_id"), "n_points", "sum_x",
            "sum_y", *vnames,
            F.col("px").alias("cx"), F.col("py").alias("cy")))
    edges = points.sparkSession.createDataFrame(
        [], "zoom int, child_id long, parent_id long")
    for part in edge_parts:
        edges = edges.unionByName(part)
    return out, edges


def supercluster_levels(points: DataFrame, radius: int,
                        min_zoom: int, max_zoom: int,
                        point_id: str = "pid", x_col: str = "px",
                        y_col: str = "py", value_col: str | None = None,
                        max_rounds: int = 64) -> DataFrame:
    """The levels table alone — see ``supercluster_hierarchy``."""
    return supercluster_hierarchy(
        points, radius, min_zoom, max_zoom, point_id, x_col, y_col,
        value_col, max_rounds)[0]


def cluster_leaves(points: DataFrame, edges: DataFrame,
                   min_zoom: int, max_zoom: int,
                   point_id: str = "pid") -> DataFrame:
    """The getLeaves table for EVERY cluster at once: (zoom, pid,
    cluster_id) — which cluster owns each base point at each level.
    One hash join per level down the ladder (the ownership closure of
    the edge relation); each step is checkpointed so lineage stays
    flat.  Law (pytest-pinned): per-(zoom, cluster) leaf counts equal
    the levels table's n_points exactly."""
    own = points.select(
        F.col(point_id).cast("long").alias("pid"),
        F.col(point_id).cast("long").alias("cluster_id"))
    out = own.select(F.lit(max_zoom).cast("int").alias("zoom"),
                     "pid", "cluster_id")
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        step = edges.where(F.col("zoom") == z).select(
            F.col("child_id").alias("cluster_id"),
            F.col("parent_id"))
        own = (own.join(step, "cluster_id")
               .select("pid", F.col("parent_id").alias("cluster_id"))
               .localCheckpoint(eager=True))
        out = out.unionByName(own.select(
            F.lit(z).cast("int").alias("zoom"), "pid", "cluster_id"))
    return out


def expansion_zooms(levels: DataFrame, edges: DataFrame,
                    max_zoom: int) -> DataFrame:
    """getClusterExpansionZoom for EVERY cluster at once: (zoom,
    cluster_id, expansion_zoom) — the first zoom past this one where
    the cluster breaks into more than one child.  Single-child
    clusters keep their id down the ladder (the seed self-edge), so
    the split census groups the edge relation once and each cluster
    takes the MIN splitting level at-or-after its own; a cluster that
    never splits (a singleton, or an inseparable stack) expands at
    ``max_zoom + 1``, mapbox's convention for 'only leaves below'."""
    splits = (edges.groupBy("zoom", "parent_id")
              .agg(F.count("*").alias("_nc"))
              .where(F.col("_nc") > 1)
              .select(F.col("zoom").alias("_sz"),
                      F.col("parent_id").alias("cluster_id")))
    lv = levels.select("zoom", "cluster_id")
    # no pre-filter: a split BELOW this row's zoom must not drop the
    # row (the seed child keeps the split cluster's id down the
    # ladder) — the when() guard inside the aggregate ignores it
    return (lv.join(splits, "cluster_id", "left")
            .groupBy("zoom", "cluster_id")
            .agg(F.min(F.when(F.col("_sz") >= F.col("zoom"),
                              F.col("_sz") + 1)).alias("_e"))
            .select("zoom", "cluster_id",
                    F.coalesce("_e", F.lit(max_zoom + 1))
                    .cast("int").alias("expansion_zoom")))


def cluster_tiles(levels: DataFrame, extent: int = EXTENT,
                  world: int = WORLD,
                  layer: str = "clusters") -> DataFrame:
    """Servable form: each pyramid level's cluster points as MVT point
    tiles at THEIR OWN zoom — the marker layer a slippy map requests.
    Tile assignment is pure column math (span = world >> zoom; local
    coordinates quantize to ``extent``); the encode is the shared
    Arrow point-tile encoder (one shuffle, strings never enter
    Python).  Each feature carries ``point_count`` (the cluster mass)
    as an int property and the cluster id as the MVT feature id."""
    from . import assemble

    wbits = world.bit_length() - 1
    if 1 << wbits != world:
        raise ValueError(f"world must be a power of two, got {world}")
    feats = levels.withColumn(
        "_span", F.expr(f"shiftleft(CAST(1 AS BIGINT), {wbits} - zoom)")
    ).select(
        F.col("zoom").alias("z"),
        F.expr("cx div _span").alias("x"),
        F.expr("cy div _span").alias("y"),
        F.lit(layer).alias("layer_name"),
        F.col("cluster_id").alias("feature_ordinal"),
        F.col("cluster_id").alias("feature_id"),
        F.expr(f"((cx % _span) * {extent}) div _span").alias("loc_x"),
        F.expr(f"((cy % _span) * {extent}) div _span").alias("loc_y"),
        F.col("n_points").alias("point_count"))
    return assemble.encode_point_tiles_arrow(
        feats, prop_spec=[("point_count", 5, "point_count")])


def wavefront_sql(points_cte: str, pairs_cte: str = "{pr}") -> str:
    """DuckDB oracle for the shared wavefront: the SAME round rule
    iterated to fixpoint inside one recursive CTE — the decided set
    rides each recursion row as a LIST<STRUCT> (DuckDB 1.0 recursion
    exposes only the previous iteration's rows, so the state travels
    in the row; the guard stops the recursion the round the set
    saturates).  ``points_cte`` exposes (pid, ...); ``pairs_cte``
    exposes the ordered conflict pairs (p, q), q < p.  Yields
    sc_labels(pid, seed, assign)."""
    p, pr = points_cte, pairs_cte
    return f"""
sc_wave(round, st) AS (
  SELECT 0, CAST([] AS STRUCT(pid BIGINT, seed BOOLEAN, assign BIGINT)[])
  UNION ALL
  SELECT scw.round + 1, l.newst
  FROM sc_wave scw, LATERAL (
    SELECT list(ROW(n.pid, n.seed, n.assign)) AS newst
    FROM (
      SELECT u.pid AS pid, u.seed AS seed, u.assign AS assign
      FROM unnest(scw.st) AS t(u)
      UNION ALL
      SELECT agg.pid, (agg.min_seed IS NULL) AS seed,
             COALESCE(agg.min_seed, agg.pid) AS assign
      FROM (
        SELECT p2.pid,
          MIN(CASE WHEN d.pid IS NULL AND {pr}.q IS NOT NULL
                   THEN {pr}.q END) AS min_undec,
          MIN(CASE WHEN d.seed THEN {pr}.q END) AS min_seed
        FROM {p} p2
        LEFT JOIN (SELECT u.pid FROM unnest(scw.st) AS t(u)) done
          ON p2.pid = done.pid
        LEFT JOIN {pr} ON {pr}.p = p2.pid
        LEFT JOIN (SELECT u.pid AS pid, u.seed AS seed
                   FROM unnest(scw.st) AS t(u)) d
          ON {pr}.q = d.pid
        WHERE done.pid IS NULL
        GROUP BY p2.pid) agg
      WHERE (agg.min_undec IS NULL AND agg.min_seed IS NULL)
         OR (agg.min_seed IS NOT NULL
             AND (agg.min_undec IS NULL
                  OR agg.min_undec > agg.min_seed))
    ) n
  ) l
  WHERE len(scw.st) < (SELECT count(*) FROM {p})
),
sc_labels AS (
  SELECT u.pid AS pid, u.seed AS seed, u.assign AS assign
  FROM (SELECT st FROM sc_wave ORDER BY round DESC LIMIT 1),
       unnest(st) AS t(u)
)"""


def greedy_cluster_sql(points_cte: str, radius: int) -> str:
    """DuckDB oracle for one greedy level: brute-force radius pairs
    (the cell grid is a pure candidate cull, row-identical) feeding
    the shared wavefront.  Caller prepends
    ``WITH RECURSIVE <points cte>,`` — ``points_cte`` exposes
    (pid, px, py).  Yields sc_labels(pid, seed, assign)."""
    p = points_cte
    return f"""
sc_pr AS (
  SELECT a.pid AS p, b.pid AS q FROM {p} a, {p} b
  WHERE b.pid < a.pid
    AND (a.px - b.px) * (a.px - b.px)
      + (a.py - b.py) * (a.py - b.py) <= {radius * radius}
),{wavefront_sql(p, "sc_pr")}"""


def supercluster_sql(points_cte: str, radius: int) -> str:
    """DuckDB oracle for one full level — greedy labels + exact
    rollup: (cluster_id, n_points, sum_x, sum_y, cx, cy).  DuckDB sums
    BIGINT into HUGEINT, so the sums cast back (world sums fit int64
    by orders of magnitude).  Caller prepends the points CTE."""
    p = points_cte
    return f"""{greedy_cluster_sql(p, radius)}
SELECT l.assign AS cluster_id,
       count(*) AS n_points,
       CAST(sum(p.px) AS BIGINT) AS sum_x,
       CAST(sum(p.py) AS BIGINT) AS sum_y,
       CAST(sum(p.px) AS BIGINT) // count(*) AS cx,
       CAST(sum(p.py) AS BIGINT) // count(*) AS cy
FROM sc_labels l JOIN {p} p ON l.pid = p.pid
GROUP BY l.assign"""
