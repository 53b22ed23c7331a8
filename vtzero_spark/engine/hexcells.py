"""Hexagonal cell index — the H3 analog beside cells.py's S2-style
quadkey (the north rule's "H3/S2 cell-indexed" pair).

Hex grids buy what squares can't: uniform adjacency (every cell has
exactly 6 equidistant neighbors, so k-ring growth has no corner
anisotropy) and ~13% lower average center-to-point distance at equal
cell area — which is why H3 owns the geo-analytics niche. This module
is NOT the icosahedral H3 (no sphere, no pentagon seams — the engine's
world is vtzero's planar integer grid); it is the planar hex core:
axial-coordinate cells, cube rounding, k-rings, and a hex-bucketed
PIP join.

INTEGER-EXACT BY CONSTRUCTION. Textbook hex assignment rounds
floating-point axial coords (size √3 is irrational); a float
round-trip can differ across engines at cell boundaries, which would
poison cross-engine oracle checks. Here the grid basis is rational —
center(q, r) = (q·w + r·w/2, r·h) for integer w (even) and h — so a
point's fractional cube coords are exact integer ratios
N_q/(2wh), N_r/(2wh), N_s/(2wh), and the whole cube-rounding pipeline
(round-half-up via floor-div, largest-residual fix) runs in int64
arithmetic that Spark and DuckDB reproduce bit-identically
(`hex_cell_sql` is the literal mirror; pinned cross-engine in
tests/test_hexcells.py). With h/w = 7/8 the hexes are within 1% of
regular proportions; every hex-index property (partition, 6-neighbor
adjacency, ring sizes 6k) is exact, only the metric is ~1% squashed.

All column math — no UDFs, whole-stage codegen, and the hex id is a
single shuffle/broadcast key exactly like the quadkey path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# id packing: hex_id = (q + OFF) * SPAN + (r + OFF); SPAN = 2*OFF.
# OFF = 2^25 supports |q|, |r| < 33M cells — far beyond any grid the
# integer world can hold — and keeps ids under 2^52 (exact in BIGINT
# and in a float64-reading engine).
_OFF = 1 << 25
_SPAN = 1 << 26


def _floordiv_col(n: Column, d: int) -> Column:
    """Exact floor division of a long column by a positive literal,
    identical in Spark and DuckDB (both `%` operators take the
    dividend's sign, so the pmod trick is engine-portable; Spark's
    `div` truncates and DuckDB's `//` floors, which is why neither is
    used directly on negatives)."""
    n = n.cast("long")
    pmod = ((n % F.lit(d)) + F.lit(d)) % F.lit(d)
    return ((n - pmod) / F.lit(d)).cast("long")


def _round_div(n: Column, d: int) -> Column:
    """round-half-up(n / d) for positive literal d."""
    return _floordiv_col(n * 2 + F.lit(d), 2 * d)


def hex_axial(x: Column, y: Column, w: int, h: int) -> tuple[Column, Column]:
    """Axial (q, r) of the hex containing integer point (x, y).

    Cube rounding in scaled integers: with D = 2wh,
    q_frac = (2hx - wy)/D, r_frac = 2wy/D, s_frac = -q-r; round each
    half-up, then recompute the coordinate with the largest scaled
    residual from the other two (ties fix q first, then r) — the
    standard cube-round made engine-exact."""
    if w % 2:
        raise ValueError("w must be even (rational hex centers)")
    x = x.cast("long")
    y = y.cast("long")
    d = 2 * w * h
    nq = F.lit(2 * h) * x - F.lit(w) * y
    nr = F.lit(2 * w) * y
    ns = -nq - nr
    q0 = _round_div(nq, d)
    r0 = _round_div(nr, d)
    s0 = _round_div(ns, d)
    eq = F.abs(nq - q0 * d)
    er = F.abs(nr - r0 * d)
    es = F.abs(ns - s0 * d)
    ok = (q0 + r0 + s0) == F.lit(0)
    fix_q = (eq >= er) & (eq >= es)
    fix_r = er >= es
    q = F.when(ok | ~fix_q, q0).otherwise(-r0 - s0)
    r = F.when(ok | fix_q | ~fix_r, r0).otherwise(-q0 - s0)
    return q.cast("long"), r.cast("long")


def hex_id(q: Column, r: Column) -> Column:
    return (q + F.lit(_OFF)) * F.lit(_SPAN) + (r + F.lit(_OFF))


def hex_qr(cell: Column) -> tuple[Column, Column]:
    q = _floordiv_col(cell, _SPAN) - F.lit(_OFF)
    r = (cell % F.lit(_SPAN)) - F.lit(_OFF)
    return q.cast("long"), r.cast("long")


def hex_cell(x: Column, y: Column, w: int, h: int) -> Column:
    q, r = hex_axial(x, y, w, h)
    # coalesce with a non-null literal marks the expression
    # non-nullable (it never IS null — every branch of the cube-round
    # `when` chain has an otherwise). Without this, Catalyst inserts
    # an isnotnull(<whole hex expr>) join-key filter and pushes it
    # below upstream aggregates, re-evaluating the assignment once
    # per RAW input row instead of once per point — measured 9x on
    # the PIP join at sf0.1 (BENCH.md).
    return F.coalesce(hex_id(q, r), F.lit(-1))


def point_hex_cells(df: DataFrame, w: int, h: int,
                    wx: str = "wx", wy: str = "wy",
                    out: str = "hex") -> DataFrame:
    """Attach the hex cell id of each point (wx, wy)."""
    return df.withColumn(out, hex_cell(F.col(wx), F.col(wy), w, h))


# ------------------------------------------------------------ k-rings


def hex_distance(q1: Column, r1: Column, q2: Column, r2: Column) -> Column:
    """Hex (cube) distance between two axial cells:
    (|dq| + |dr| + |dq+dr|) / 2 — integer, exact."""
    dq = (q1 - q2).cast("long")
    dr = (r1 - r2).cast("long")
    return ((F.abs(dq) + F.abs(dr) + F.abs(dq + dr)) / 2).cast("long")


def hex_kring(df: DataFrame, k: int, cell: str = "hex",
              out: str = "hex_nbr") -> DataFrame:
    """Explode each row into its k-ring DISK: all cells within hex
    distance ``k`` (1 + 3k(k+1) of them), own cell included — the
    neighbor-expansion primitive a hex kNN / smoothing pass joins on.
    Offsets are a (2k+1)^2 axial box filtered by cube distance, all
    plan-side."""
    if k < 0:
        raise ValueError("k must be >= 0")
    q, r = hex_qr(F.col(cell))
    dq = F.explode(F.sequence(F.lit(-k), F.lit(k)))
    df = df.withColumn("_dq", dq)
    dr = F.explode(F.sequence(
        F.greatest(F.lit(-k), -F.col("_dq") - F.lit(k)),
        F.least(F.lit(k), -F.col("_dq") + F.lit(k))))
    df = df.withColumn("_dr", dr)
    out_id = hex_id(q + F.col("_dq"), r + F.col("_dr"))
    return df.withColumn(out, out_id).drop("_dq", "_dr")


# ------------------------------------------------- hex-bucketed PIP join


def hex_covering(polys: DataFrame, w: int, h: int,
                 out: str = "hex") -> DataFrame:
    """Explode each polygon's (cx, cy, r) L-inf bbox into the hex
    cells that can intersect it — the broadcastable hex->polygon
    covering index.

    The cube-round cell is the hexagon with vertices (±w/2, ±h/3)
    and (0, ±2h/3) — half-extents exactly (w/2, 2h/3) — so a cell
    can intersect the bbox only if its center lies in the bbox
    expanded by those half-extents. Ranges are exact ceil/floor in
    integers (no conservative ±1 rows): a superset only by the
    hexagon's corner cut, with ~40% fewer candidate pairs than the
    lazy ±1-cell margins (measured; BENCH.md). The PIP refine stays
    exact either way. (The h/2 'strip' bound is a trap: cube
    rounding's fix step extends cells past the naive |r̃|≤1/2 strip —
    a point at dy = +0.61h can still round DOWN a row; pinned by the
    fringe regression test.)"""
    x0 = F.col("cx") - F.col("r")
    x1 = F.col("cx") + F.col("r")
    y0 = F.col("cy") - F.col("r")
    y1 = F.col("cy") + F.col("r")
    # rows: r*h in [y0 - 2h/3, y1 + 2h/3]
    rr = F.explode(F.sequence(
        _floordiv_col(y0 * 3 + F.lit(h - 1), 3 * h),
        _floordiv_col(y1 * 3 + F.lit(2 * h), 3 * h)))
    polys = polys.withColumn("_hr", rr)
    # cols: q*w + r*(w/2) in [x0 - w/2, x1 + w/2]
    off = F.col("_hr") * (w // 2)
    qq = F.explode(F.sequence(
        _floordiv_col((x0 - off) * 2 + F.lit(w - 1), 2 * w),
        _floordiv_col((x1 - off) * 2 + F.lit(w), 2 * w)))
    polys = polys.withColumn("_hq", qq)
    return polys.withColumn(
        out, hex_id(F.col("_hq"), F.col("_hr"))).drop("_hq", "_hr")


def pip_join_hex(points: DataFrame, polys: DataFrame, w: int, h: int,
                 point_id: str = "image_id") -> DataFrame:
    """Point-in-polygon join keyed on the hex cell id; identical
    result rows to joins.pip_join / cells.pip_join_cells (asserted in
    tests). Covering index broadcast, exact integer cross-product
    refine — the quadkey join's plan shape with hex bucketing."""
    from .joins import pip_refine, with_ring_edges

    index = with_ring_edges(hex_covering(polys, w, h))
    pts = point_hex_cells(points, w, h)
    return pip_refine(pts.join(F.broadcast(index), "hex"), "hex")


# ----------------------------------------------------------- SQL mirror


def _floordiv_sql(n: str, d: int) -> str:
    return f"(({n}) - ((((({n}) % {d}) + {d}) % {d}))) // {d}"


def _round_div_sql(n: str, d: int) -> str:
    return _floordiv_sql(f"({n}) * 2 + {d}", 2 * d)


def hex_cell_sql(x: str, y: str, w: int, h: int) -> str:
    """DuckDB expression computing hex_cell(x, y, w, h) bit-identically
    (same scaled-integer cube rounding, same tie order)."""
    d = 2 * w * h
    nq = f"(2 * {h} * ({x}) - {w} * ({y}))"
    nr = f"(2 * {w} * ({y}))"
    ns = f"(-{nq} - {nr})"
    q0 = f"({_round_div_sql(nq, d)})"
    r0 = f"({_round_div_sql(nr, d)})"
    s0 = f"({_round_div_sql(ns, d)})"
    eq = f"abs({nq} - {q0} * {d})"
    er = f"abs({nr} - {r0} * {d})"
    es = f"abs({ns} - {s0} * {d})"
    ok = f"({q0} + {r0} + {s0} = 0)"
    fix_q = f"({eq} >= {er} AND {eq} >= {es})"
    fix_r = f"({er} >= {es})"
    q = f"(CASE WHEN {ok} OR NOT {fix_q} THEN {q0} ELSE -{r0} - {s0} END)"
    r = (f"(CASE WHEN {ok} OR {fix_q} OR NOT {fix_r} THEN {r0} "
         f"ELSE -{q0} - {s0} END)")
    return f"(({q} + {_OFF}) * {_SPAN} + ({r} + {_OFF}))"
