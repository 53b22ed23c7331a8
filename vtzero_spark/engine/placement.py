"""Greedy label / symbol placement — collision-free marker selection.

Semantics (the mapbox-gl collision pass, made deterministic): symbols
are visited in PRIORITY order (ascending id — the caller encodes
priority into the id, exactly like supercluster encodes visit order);
a symbol is PLACED unless its collision box overlaps an
already-placed symbol's box.  That is the lexicographically-first
maximal independent set of the box-overlap graph — the same closed
form as supercluster, over a different conflict relation:

- ``placed(p)``  <=>  no placed q < p whose box overlaps p's box
- ``blocker(p)``  =   the min-id placed overlapper (p itself when
                      placed) — the diagnostic a map debugger wants.

Overlap is CLOSED-interval (edge contact collides — one-unit label
padding folds into the box half-extents), all int64, no floats.

Scale shape (the 100 TB story): the conflict join is cell-bucketed
exactly like the radius joins — each box lands in the home cell of
its CENTER with cell side 2^s >= the corpus' max box EXTENT (width or
height), so any two overlapping boxes sit within one cell of each
other in both axes and the half-plane probe (5 of 9 neighbor offsets)
is complete, building each unordered pair once; the refine is four
int64 comparisons in codegen.  The max extent is one map-side-combined
scalar aggregate (a single driver value, the knn-density discipline —
not a data collect).  The greedy order then resolves through the SAME
shared wavefront as supercluster (``supercluster.wavefront_mis``):
rounds 1+2 fused into one flag-join pass, later rounds one min-agg
over the pruned pairs alone, pair set anti-joined down and
localCheckpoint'ed each round, dense stacks decide in the fused pass,
progress guaranteed.  A z-ordered label corpus clusters heavily —
the common round count is the supercluster one, O(log n) for
hash-spread priorities.

Reference analog: none — vtzero is the tile codec underneath
(SURVEY §2 scope); placement is the render-side companion the tile
consumer (mapbox-gl's CollisionIndex, a public algorithm) runs over
exactly the point layers this engine serves, and running it
ENGINE-SIDE is what a 10^12-marker corpus needs: ship only the
symbols that will actually draw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import drivertier
from .supercluster import wavefront_mis


def collision_pairs(lab: DataFrame) -> DataFrame:
    """Ordered conflict pairs (p, q), q < p, whose collision boxes
    (center +- half extents; w/h are FULL widths in world units)
    overlap closed-interval, over a (pid, px, py, w, h) long frame.
    Cell-bucketed: home cell of the box center, side 2^s >= max(w, h)
    over the corpus, half-plane probe (5 of the 9 neighbor offsets;
    the other 4 are these negated) — complete, because two
    overlapping boxes' centers differ by at most (w1+w2)/2 <= max
    extent <= cell side per axis, and each unordered pair is built
    exactly once.  ``lab`` is read three times (extent census, home
    side, probe side), so pass a checkpointed frame."""
    bounds = lab.agg(
        F.max(F.greatest("w", "h")).alias("ext"),
        F.min(F.least("w", "h")).alias("mn")).collect()[0]
    if bounds.ext is None:
        return lab.sparkSession.createDataFrame([], "p long, q long")
    if bounds.mn <= 0:
        raise ValueError("label boxes need positive w and h")
    ext = bounds.ext
    s = 0
    while (1 << s) < ext:
        s += 1
    home = lab.select(
        F.col("pid").alias("q"), F.col("px").alias("qx"),
        F.col("py").alias("qy"), F.col("w").alias("qw"),
        F.col("h").alias("qh"),
        F.shiftright("px", s).alias("cx"),
        F.shiftright("py", s).alias("cy"))
    # HALF-PLANE probe: 5 offsets instead of 9 — the other 4 are
    # these negated, so every adjacent distinct-cell pair matches in
    # exactly one orientation and same-cell pairs (offset (0,0),
    # matched in both) keep the probe-id-larger one.  5/9 the join
    # volume, no matched row discarded.
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"),
                              F.lit(dy).alias("dy"))
                     for dx, dy in ((0, 0), (1, 0), (1, 1),
                                    (0, 1), (-1, 1))])
    probe = (lab.withColumn("_o", F.explode(offs))
             .select(
                 (F.shiftright("px", s) + F.col("_o.dx")).alias("cx"),
                 (F.shiftright("py", s) + F.col("_o.dy")).alias("cy"),
                 F.col("pid").alias("p"), F.col("px").alias("x"),
                 F.col("py").alias("y"), F.col("w").alias("pw"),
                 F.col("h").alias("ph"),
                 ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0))
                 .alias("_same")))
    # closed-interval overlap on doubled coordinates (2*center +- w
    # stays integral for odd extents)
    ox = (F.abs(2 * F.col("x") - 2 * F.col("qx"))
          <= F.col("pw") + F.col("qw"))
    oy = (F.abs(2 * F.col("y") - 2 * F.col("qy"))
          <= F.col("ph") + F.col("qh"))
    # SHUFFLE_HASH: the probe side is exploded x5 and the home side is
    # the full corpus — a self-join with no small side.  Left alone,
    # Catalyst broadcasts whichever side the (stats-less, checkpointed)
    # estimate undercounts — measured building a 4.1M-row hashed
    # relation on the driver, 9 s of the 11 s pair build and an OOM at
    # scale.  The hint pins the dbscan discipline: both sides
    # hash-partition on the cell key.
    return (probe.hint("shuffle_hash").join(home, ["cx", "cy"])
            .where((~F.col("_same") | (F.col("p") > F.col("q")))
                   & ox & oy)
            .select(F.greatest("p", "q").alias("p"),
                    F.least("p", "q").alias("q")))


def place_labels(labels: DataFrame, point_id: str = "pid",
                 x_col: str = "px", y_col: str = "py",
                 w_col: str = "w", h_col: str = "h",
                 max_rounds: int = 64) -> DataFrame:
    """Collision-free placement: one row per label with columns
    (pid, placed boolean, blocker long) — exact priority-greedy
    semantics (see the module docstring), resolved through the shared
    supercluster wavefront.

    Serial tier (the greedy_cluster bounded-collect discipline): the
    5-column label frame collects ONCE when it fits
    ``drivertier.SERIAL_ROWS`` and both the overlap pairs and the
    greedy sweep run vectorized on the driver — label-identical by
    construction (same pair set, same closed form; sequential-parity
    pinned in tests).  Past it the cell join + distributed wavefront
    run unchanged."""
    import numpy as np
    import pandas as pd

    from .supercluster import _serial_cell_pairs, _serial_sweep

    # LAZY checkpoint: the capped collect materializes it, so sizing
    # the tier and materializing the 5-column frame are ONE job, not
    # two (every later read still hits the checkpoint)
    lab = labels.select(
        F.col(point_id).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"),
        F.col(w_col).cast("long").alias("w"),
        F.col(h_col).cast("long").alias("h")).localCheckpoint(eager=False)
    pp = drivertier.collect_within(lab, drivertier.SERIAL_ROWS)
    if pp is not None and len(pp):
        pid = pp["pid"].to_numpy(np.int64)
        px = pp["px"].to_numpy(np.int64)
        py = pp["py"].to_numpy(np.int64)
        w = pp["w"].to_numpy(np.int64)
        h = pp["h"].to_numpy(np.int64)
        if (w <= 0).any() or (h <= 0).any():
            raise ValueError("label boxes need positive w and h")
        ext = int(np.max(np.maximum(w, h)))
        s = 0
        while (1 << s) < ext:
            s += 1

        def refine(du, dv, ii, jj, ex):
            # in-place over the candidate-volume temporaries (du/dv
            # are refine-owned): ~halves the allocation traffic of
            # the 16M-candidate pass
            w_s, h_s = ex
            np.abs(du, out=du)
            du += du
            wsum = w_s[ii]
            wsum += w_s[jj]
            m = du <= wsum
            np.abs(dv, out=dv)
            dv += dv
            hsum = h_s[ii]
            hsum += h_s[jj]
            m &= dv <= hsum
            return m

        res = _serial_cell_pairs(pid, px, py, s, refine,
                                 extras=(w, h))
        if res is not None:
            p_arr, q_arr = res
            und_ids = np.sort(pid)
            seed, assign = _serial_sweep(
                und_ids, p_arr, q_arr, np.zeros(len(p_arr), bool))
            return labels.sparkSession.createDataFrame(
                pd.DataFrame({"pid": pd.Series(und_ids), "placed": seed,
                              "blocker": pd.Series(assign)}),
                "pid long, placed boolean, blocker long")
        # candidate volume past the driver cap: distributed fallback
    # lazy pair plan: the wavefront checkpoints it itself
    out = wavefront_mis(lab.select("pid"), collision_pairs(lab),
                        max_rounds=max_rounds)
    return out.select("pid", F.col("seed").alias("placed"),
                      F.col("assign").alias("blocker"))


def collision_pairs_sql(labels_cte: str) -> str:
    """DuckDB twin of ``collision_pairs``: brute-force cross join (the
    cell grid is a pure candidate cull, row-identical), the identical
    doubled-coordinate closed-interval overlap.  ``labels_cte``
    exposes (pid, px, py, w, h).  Yields pl_pr(p, q)."""
    t = labels_cte
    return f"""
pl_pr AS (
  SELECT a.pid AS p, b.pid AS q FROM {t} a, {t} b
  WHERE b.pid < a.pid
    AND abs(2 * a.px - 2 * b.px) <= a.w + b.w
    AND abs(2 * a.py - 2 * b.py) <= a.h + b.h
)"""


def place_labels_sql(labels_cte: str) -> str:
    """DuckDB oracle for the full placement: collision pairs + the
    shared recursive-CTE wavefront.  Caller prepends
    ``WITH RECURSIVE <labels cte>,``.  Final SELECT yields
    (pid, placed, blocker)."""
    from .supercluster import wavefront_sql

    t = labels_cte
    return f"""{collision_pairs_sql(t)},{wavefront_sql(t, 'pl_pr')}
SELECT pid, seed AS placed, assign AS blocker FROM sc_labels"""
