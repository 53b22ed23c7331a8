"""Hilbert-curve cell ordering — S2's actual space-filling order.

The quadkey index (cells.py) orders cells by Morton/Z-order, which is
cheap but tears locality at power-of-two seams (consecutive ids can
be a whole world apart). S2 — and PMTiles' tile ids — order by the
Hilbert curve instead: CONSECUTIVE ids are always 4-adjacent cells
(unit Manhattan step, the property Z-order lacks), and every quadrant
subtree still maps to one CONTIGUOUS id interval, so the
Z-order-style file-skipping / range-serving tricks (cells.subtree_range,
tools/incremental_job.serve_tile) carry over unchanged while range
scans touch strictly fewer, strictly-more-local files.

Implementation: the classic per-bit rotate-and-accumulate walk
(public-domain algorithm, e.g. Wikipedia "Hilbert curve" xy2d),
unrolled over ``level`` iterations as plain column expressions.
State (x, y, d) is materialized per iteration via withColumns —
expression size stays LINEAR in level (a single nested Column would
grow geometrically), everything whole-stage codegen, no UDFs.
``hilbert_sql_ctes`` emits the same unrolled walk as chained DuckDB
CTEs, which is what makes the driver query hash-checkable
cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_hilbert(df: DataFrame, x: str, y: str, level: int,
                 out: str = "hd") -> DataFrame:
    """Append column ``out`` = Hilbert d of the level-``level`` cell
    coordinates in columns ``x``/``y`` (0 <= x, y < 2^level)."""
    if not 1 <= level <= 31:
        raise ValueError(f"level must be in [1, 31], got {level}")
    cx, cy, acc = "_hx", "_hy", out
    df = df.withColumns({
        cx: F.col(x).cast("long"),
        cy: F.col(y).cast("long"),
        acc: F.lit(0).cast("long"),
    })
    for i in range(level - 1, -1, -1):
        s = 1 << i
        rx = F.shiftright(F.col(cx), i).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col(cy), i).bitwiseAND(F.lit(1))
        quad = (
            F.when((rx == 0) & (ry == 0), F.lit(0))
            .when((rx == 0) & (ry == 1), F.lit(1))
            .when((rx == 1) & (ry == 1), F.lit(2))
            .otherwise(F.lit(3))
        ).cast("long")
        df = df.withColumns({
            "_rx": rx, "_ry": ry,
            acc: F.col(acc) + F.lit(s * s).cast("long") * quad,
        })
        # ry==0: reflect when rx==1, then swap x/y (low i bits only)
        refl_x = F.when(F.col("_rx") == 1,
                        F.lit(s - 1) - F.col(cx).bitwiseAND(F.lit(s - 1))
                        ).otherwise(F.col(cx).bitwiseAND(F.lit(s - 1)))
        refl_y = F.when(F.col("_rx") == 1,
                        F.lit(s - 1) - F.col(cy).bitwiseAND(F.lit(s - 1))
                        ).otherwise(F.col(cy).bitwiseAND(F.lit(s - 1)))
        df = df.withColumns({
            cx: F.when(F.col("_ry") == 0, refl_y).otherwise(F.col(cx)),
            cy: F.when(F.col("_ry") == 0, refl_x).otherwise(F.col(cy)),
        })
    return df.drop(cx, cy, "_rx", "_ry")


def hilbert_sql_ctes(src_cte: str, x: str, y: str, level: int,
                     out_cte: str = "hfin", out: str = "hd") -> str:
    """DuckDB mirror of with_hilbert as chained CTEs: ``src_cte``
    rows gain column ``out`` in CTE ``out_cte`` (all other columns
    ride through). Compose inside a WITH clause."""
    ctes = [f"h_in AS (SELECT *, CAST({x} AS BIGINT) AS _hx, "
            f"CAST({y} AS BIGINT) AS _hy, CAST(0 AS BIGINT) AS _hd "
            f"FROM {src_cte})"]
    prev = "h_in"
    for n, i in enumerate(range(level - 1, -1, -1)):
        s = 1 << i
        m = s - 1
        name = f"h_{n}"
        # rx/ry get per-iteration names: a constant name would leak
        # through SELECT * and shadow-bind to the STALE column in the
        # next iteration (DuckDB resolves the duplicate to the first).
        rx, ry = f"rx_{n}", f"ry_{n}"
        ctes.append(f"""{name} AS (
  SELECT * EXCLUDE (_hx, _hy, _hd, {rx}, {ry}),
    CASE WHEN {ry} = 0 THEN
      CASE WHEN {rx} = 1 THEN {m} - (_hy & {m}) ELSE (_hy & {m}) END
    ELSE _hx END AS _hx,
    CASE WHEN {ry} = 0 THEN
      CASE WHEN {rx} = 1 THEN {m} - (_hx & {m}) ELSE (_hx & {m}) END
    ELSE _hy END AS _hy,
    _hd + {s * s} * CASE
      WHEN {rx} = 0 AND {ry} = 0 THEN 0 WHEN {rx} = 0 AND {ry} = 1 THEN 1
      WHEN {rx} = 1 AND {ry} = 1 THEN 2 ELSE 3 END AS _hd
  FROM (SELECT *, (_hx >> {i}) & 1 AS {rx}, (_hy >> {i}) & 1 AS {ry}
        FROM {prev})
)""")
        prev = name
    ctes.append(f"{out_cte} AS (SELECT * EXCLUDE (_hx, _hy, _hd), "
                f"_hd AS {out} FROM {prev})")
    return ",\n".join(ctes)


def hilbert_xy2d(x: int, y: int, level: int) -> int:
    """Scalar forward walk (xy2d) — the driver-side twin of
    with_hilbert for range builders."""
    d = 0
    s = 1 << (level - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def hilbert_subtree_range(z: int, x: int, y: int,
                          level: int) -> tuple[int, int]:
    """Half-open ``[lo, hi)`` of level-``level`` Hilbert ds under tile
    (z, x, y) — the Hilbert twin of cells.subtree_range: the curve
    visits a quadrant's whole subtree consecutively, and the span's
    position depends only on the quadrant's own level-z d (the
    rotation inside changes visit ORDER, never the interval)."""
    if level < z:
        raise ValueError(f"level {level} above tile zoom {z}")
    d = hilbert_xy2d(x, y, z) if z else 0
    shift = 2 * (level - z)
    return d << shift, (d + 1) << shift


def hilbert_xy(d: int, level: int) -> tuple[int, int]:
    """Scalar inverse (d2xy) — test/driver-side helper for building
    PMTiles directories and verifying the walk."""
    x = y = 0
    t = d
    s = 1
    while s < (1 << level):
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y
