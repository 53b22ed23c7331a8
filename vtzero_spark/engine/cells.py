"""Hierarchical quadkey (Morton / Z-order) cell index — the S2/H3
analog over the tile pyramid.

A cell at level L is one of the 2^L x 2^L grid squares of the integer
world; its id interleaves the x/y bits and prefixes a level marker:

    cell_id(L, x, y) = (1 << 2L) | morton(x, y)

so ids are self-delimiting across levels (like S2 cell ids), a parent
is `(cell >> 2)` and the four children are `(cell << 2) | {0,1,2,3}`.
Everything here is pure column math (bit ops unrolled per level) —
no UDFs, fully inside whole-stage codegen, and reproducible verbatim
in the DuckDB oracle (`morton_sql`).

At 10^12-point scale the cell id is the single shuffle/bucket key for
the spatial joins: covering indexes stay broadcastable per level, and
skewed (hot) cells split under AQE or the explicit salted path in
joins.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton(x: Column, y: Column, level: int) -> Column:
    """Interleave the low ``level`` bits of x (even positions) and y
    (odd positions)."""
    one = F.lit(1).cast("long")
    out = F.lit(0).cast("long")
    for i in range(level):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(one), 2 * i + 1)
        )
    return out


def cell_id(x: Column, y: Column, level: int) -> Column:
    """Level-prefixed quadkey id of grid cell (x, y) at ``level``."""
    return F.lit(1 << (2 * level)).cast("long").bitwiseOR(morton(x, y, level))


def parent_cell(cell: Column) -> Column:
    """Parent id one level up (level marker shifts along)."""
    return F.shiftright(cell.cast("long"), 2)


def cell_level(cell: Column) -> Column:
    """Recover the level from the marker bit: floor(log2(cell)) / 2."""
    return (F.floor(F.log2(cell.cast("double"))) / 2).cast("int")


def children_cells(cell: Column) -> Column:
    """Array of the four child ids one level down."""
    base = F.shiftleft(cell.cast("long"), 2)
    return F.array(*[base.bitwiseOR(F.lit(q).cast("long")) for q in range(4)])


def point_cells(df: DataFrame, level: int, world: int,
                wx: str = "wx", wy: str = "wy",
                out: str = "cell") -> DataFrame:
    """Attach the level-``level`` cell id of each point (wx, wy)."""
    size = world >> level
    cx = F.expr(f"{wx} div {size}")
    cy = F.expr(f"{wy} div {size}")
    return df.withColumn(out, cell_id(cx, cy, level))


def bbox_covering(polys: DataFrame, level: int, world: int,
                  out: str = "cell") -> DataFrame:
    """Explode each polygon's (cx, cy, r) L-inf bbox into covering cell
    ids at ``level`` — the broadcastable cell->polygon covering index
    (SURVEY §2.11)."""
    size = world >> level
    n = world // size
    gx = F.explode(F.sequence(
        F.greatest(F.lit(0), F.expr(f"(cx - r) div {size}")),
        F.least(F.lit(n - 1), F.expr(f"(cx + r) div {size}")),
    ))
    gy = F.explode(F.sequence(
        F.greatest(F.lit(0), F.expr(f"(cy - r) div {size}")),
        F.least(F.lit(n - 1), F.expr(f"(cy + r) div {size}")),
    ))
    return (
        polys.withColumn("_gx", gx)
        .withColumn("_gy", gy)
        .withColumn(out, cell_id(F.col("_gx"), F.col("_gy"), level))
        .drop("_gx", "_gy")
    )


def pip_join_cells(points: DataFrame, polys: DataFrame, level: int,
                   world: int, point_id: str = "image_id") -> DataFrame:
    """Point-in-polygon join keyed on the quadkey cell id (single join
    column instead of (cell_x, cell_y)); identical result rows to
    joins.pip_join. The covering index is broadcast; the exact refine
    is the integer cross-product test from joins.py."""
    from .joins import pip_refine, with_ring_edges

    index = with_ring_edges(bbox_covering(polys, level, world))
    pts = point_cells(points, level, world)
    return pip_refine(pts.join(F.broadcast(index), "cell"), "cell")


def subtree_range(z: int, x: int, y: int, level: int) -> tuple[int, int]:
    """Driver-side: the half-open ``[lo, hi)`` range of level-``level``
    cell ids whose cells lie under tile ``(z, x, y)``.

    Because ids interleave bits most-significant-first under the level
    marker, a tile's whole subtree at any deeper level is ONE
    contiguous id range — the property that turns a spatial viewport
    query into a min/max-prunable range predicate over a table
    Z-order-clustered on ``cell`` (see SnapshotTable.read(where=...)).
    Same trick as S2 cell ranges / Iceberg z-order file skipping."""
    if level < z:
        raise ValueError(f"level {level} above tile zoom {z}")
    m = 0
    for i in range(z):
        m |= ((x >> i) & 1) << (2 * i)
        m |= ((y >> i) & 1) << (2 * i + 1)
    c = (1 << (2 * z)) | m
    shift = 2 * (level - z)
    return c << shift, (c + 1) << shift


# ----------------------------------------------------------- SQL mirror

def morton_sql(x: str, y: str, level: int) -> str:
    """DuckDB expression equal to morton(); `&`, `|`, `<<`, `>>` are
    plain operators there."""
    terms = []
    for i in range(level):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def cell_id_sql(x: str, y: str, level: int) -> str:
    return f"({1 << (2 * level)} | {morton_sql(x, y, level)})"


# ------------------------------------------------------- compaction

def compact_cells(cells_df: DataFrame, level: int,
                  cell_col: str = "cell") -> DataFrame:
    """H3 ``compactCells`` analog on the quadkey index: the MINIMAL
    multi-resolution cover of a cell set — every complete sibling
    quartet is replaced by its parent, recursively, so the output's
    subtrees partition exactly the input set (disjoint, nothing
    added, nothing lost).

    Input: cell ids all at ``level`` (duplicates tolerated — the set
    is distinct'd). Output: one ``cell`` column at mixed levels.

    Plan: ``level`` rounds of (groupBy parent HAVING count(*) = 4 ->
    promote, anti-join the promoted quartets out). Work shrinks by
    >= 4x per round — round k touches at most |cells|/4^k rows — so
    the total shuffle volume is a geometric series bounded by 4/3 of
    one pass over the distinct cell set, regardless of depth. Each
    round's survivor/promoted frames are localCheckpoint'd to keep
    the plan tree linear (same discipline as knn.py's ring loop).

    At 10^12 scale this is how a polyfill / visited-cell set is
    stored and broadcast: compaction turns a dense region's millions
    of leaf cells into thousands of mixed-level cells while keeping
    the subtree_range pruning property (each output cell is still one
    contiguous id range).
    """
    cur = cells_df.select(F.col(cell_col).cast("long").alias("cell")) \
        .distinct().localCheckpoint()
    kept_parts = []
    for _ in range(level):
        promoted = (
            cur.groupBy(parent_cell(F.col("cell")).alias("p"))
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") == 4)
            .select("p")
            .localCheckpoint()
        )
        kept = cur.join(
            promoted, parent_cell(cur["cell"]) == promoted["p"], "left_anti"
        ).localCheckpoint()
        kept_parts.append(kept)
        cur = promoted.select(F.col("p").alias("cell"))
        if not cur.take(1):
            break
    out = cur
    for part in kept_parts:
        out = out.unionByName(part)
    return out


def compact_cells_sql(cells_cte: str, level: int,
                      out_cte: str = "compacted") -> str:
    """DuckDB mirror of compact_cells: ``level`` chained CTE stages
    (promote complete quartets via HAVING count(*)=4, keep the rest),
    ending in CTE ``out_cte`` = the union of every stage's survivors;
    the caller appends its own final SELECT over ``out_cte``."""
    parts = []
    outs = []
    prev = cells_cte
    for l in range(level, 0, -1):
        parts.append(
            f"p{l} AS (SELECT cell // 4 AS cell FROM {prev} "
            f"GROUP BY 1 HAVING count(*) = 4)")
        parts.append(
            f"k{l} AS (SELECT cell FROM {prev} "
            f"WHERE cell // 4 NOT IN (SELECT cell FROM p{l}))")
        outs.append(f"SELECT cell FROM k{l}")
        prev = f"p{l}"
    outs.append(f"SELECT cell FROM {prev}")
    union = "\nUNION ALL\n".join(outs)
    return ",\n".join(parts) + f",\n{out_cte} AS (\n{union}\n)"
