"""Contour (isoline) extraction over the heatmap density grid —
marching squares as a Spark plan, closing the raster->vector loop:
points -> density raster (heatmap.py) -> vector isolines -> MVT tiles
(the Mapbox terrain-contour / density-isoline product).

Semantics — EXACT integer marching squares so an independent engine
can verify every vertex:

- The field is the sparse global density grid from
  ``heatmap.heatmap_pixels`` (integer densities at pixel lattice
  points; absent pixels are 0). Each 2x2 lattice cell, keyed by its
  top-left pixel ``(cx, cy)``, has corners d00=(cx,cy), d10=(cx+1,cy),
  d01=(cx,cy+1), d11=(cx+1,cy+1).
- A lattice point is INSIDE level ``T`` iff density >= T (levels must
  be >= 1, so the implicit 0 of absent pixels is strictly outside and
  every contour is a closed curve).
- Case = d00 + 2*d10 + 4*d11 + 8*d01 (inside bits). Saddles (5, 10)
  are disambiguated by the center mass: connected diagonal iff
  d00 + d10 + d01 + d11 >= 4*T (the standard average-rule, exact in
  integers).
- Crossing vertices sit on cell edges at the linearly interpolated
  position, computed in INTEGER world units: with ``s = 2^pshift``
  world units per pixel and lattice point p rendered at its pixel
  center ``pos(p) = p*s + s/2``, the crossing between corners a
  (lower (x,y)) and b is ``pos(a) + ((T - da) * s) div (db - da)``
  — always from the lower-coordinate corner, so the two cells
  sharing an edge compute the IDENTICAL vertex and chains are
  seamless by construction (quotients are >= 0, so Spark's
  truncating ``div``, DuckDB's flooring ``//`` and Python's ``//``
  agree).
- Segments are oriented INSIDE-ON-LEFT (y-down screen coords), the
  GeoJSON/GL winding discipline — every level set chains into closed
  cycles, pinned by tests/test_contour.py.

The plan: points scatter ONCE to 2^bits-square pixel blocks with a
kernel-radius halo (factor ~(1+2R/B)^2, 1.13 at B=256/R=8); each
block accumulates its own dense density window (one integer
np.add.at — order-independent, bit-identical across schedules) and
runs vectorized marching squares. ONE point-sized shuffle; neither the
~piR^2-fold kernel scatter nor the pixel grid ever crosses the wire,
and stage width is the block grid regardless of source width (the
session-8 AQE-coalesce lesson: pixel-grid aggregations inherited a
2-3-task upstream and serialized — measured 22-37 s vs 3.7 s for this
plan at sf0.1/32 cores, identical output). The DuckDB twin
(contour_segments_sql) computes the same rows as a cell-corner pivot
over the pixel grid.

Output is O(contour length), not O(grid): cells entirely inside or
outside a level emit nothing.

Reference analog: vtzero consumes what this produces — encoded
linestring layers (include/vtzero/builder.hpp linestring_feature_
builder); the tile step rides the shared world-features tail
(geojson.world_features_to_tiles) with per-level layers merged by
its per-tile linemerge (coalesce_lines), so the output archive serves
like any other layer set in this engine.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .heatmap import RADIUS, TILE_PX, _shifts
from .synth import WORLD, ZOOM

__all__ = ["contour_segments", "contour_polylines", "contour_tiles",
           "contour_segments_sql", "SEG_TABLE"]

# Marching-squares segment table, inside-on-left (y-down).
# Key: case (+16 for saddle with center >= 4T); value: list of
# (from_edge, to_edge); edges 0=top 1=right 2=bottom 3=left.
SEG_TABLE: dict[int, list[tuple[int, int]]] = {
    1: [(3, 0)],              # TL inside
    2: [(0, 1)],              # TR
    3: [(3, 1)],              # top half
    4: [(1, 2)],              # BR
    5: [(3, 0), (1, 2)],      # TL+BR saddle, center LOW: disconnected
    6: [(0, 2)],              # right half
    7: [(3, 2)],              # all but BL
    8: [(2, 3)],              # BL
    9: [(2, 0)],              # left half
    10: [(0, 1), (2, 3)],     # TR+BL saddle, center LOW: disconnected
    11: [(2, 1)],             # all but BR
    12: [(1, 3)],             # bottom half
    13: [(1, 0)],             # all but TR
    14: [(0, 3)],             # all but TL
    21: [(1, 0), (3, 2)],     # case 5, center HIGH: diagonal connects
    26: [(0, 3), (2, 1)],     # case 10, center HIGH
}


def _check_levels(levels: Sequence[int]) -> list[int]:
    lv = [int(t) for t in levels]
    if not lv:
        raise ValueError("levels must be non-empty")
    if any(t < 1 for t in lv):
        raise ValueError(f"levels must be >= 1 (got {lv}): the "
                         "implicit 0 of absent pixels must be outside")
    if len(set(lv)) != len(lv):
        raise ValueError(f"duplicate levels: {lv}")
    return lv


_SEG_SCHEMA = ("level long, cx long, cy long, seg int, "
               "x0 long, y0 long, x1 long, y1 long")
_SEG_COLS = ["level", "cx", "cy", "seg", "x0", "y0", "x1", "y1"]


def _ms_dense(D: "np.ndarray", bx: int, by: int, lv: Sequence[int],
              s: int, h: int):
    """Vectorized marching squares over one dense (B+1)x(B+1) local
    pixel grid whose [0,0] pixel is global (bx, by). Emits the rows
    of the DuckDB twin: same case table, same integer interpolation
    (// floor on the >= 0 quotient), same saddle rule, same
    zero-length drop."""
    import pandas as pd

    csum = D[:-1, :-1] + D[:-1, 1:] + D[1:, 1:] + D[1:, :-1]
    out = {c: [] for c in _SEG_COLS}
    for T in lv:
        I = D >= T
        case = (I[:-1, :-1].astype(np.int8)
                + 2 * I[:-1, 1:] + 4 * I[1:, 1:] + 8 * I[1:, :-1])
        sad = (case == 5) | (case == 10)
        ext = case + 16 * (sad & (csum >= 4 * T))
        for k, pairs in SEG_TABLE.items():
            cy_l, cx_l = np.nonzero(ext == k)
            if not len(cx_l):
                continue
            d00 = D[cy_l, cx_l]
            d10 = D[cy_l, cx_l + 1]
            d01 = D[cy_l + 1, cx_l]
            d11 = D[cy_l + 1, cx_l + 1]
            gx, gy = cx_l + bx, cy_l + by
            px_, py_ = gx * s + h, gy * s + h
            ept = {0: lambda: (px_ + (T - d00) * s // (d10 - d00),
                               py_),
                   1: lambda: (px_ + s,
                               py_ + (T - d10) * s // (d11 - d10)),
                   2: lambda: (px_ + (T - d01) * s // (d11 - d01),
                               py_ + s),
                   3: lambda: (px_,
                               py_ + (T - d00) * s // (d01 - d00))}
            for seg_i, (a, b) in enumerate(pairs):
                ax, ay = ept[a]()
                ex, ey = ept[b]()
                nz = (ax != ex) | (ay != ey)
                out["level"].append(np.full(nz.sum(), T, np.int64))
                out["cx"].append(gx[nz])
                out["cy"].append(gy[nz])
                out["seg"].append(np.full(nz.sum(), seg_i, np.int32))
                out["x0"].append(ax[nz])
                out["y0"].append(ay[nz])
                out["x1"].append(ex[nz])
                out["y1"].append(ey[nz])
    if not out["level"]:
        return pd.DataFrame({c: [] for c in _SEG_COLS})
    return pd.DataFrame({c: np.concatenate(out[c]) for c in _SEG_COLS})


def _segments_direct(points: DataFrame, levels: Sequence[int],
                     pshift: int, radius: int, npx: int,
                     weight_col: str | None = None,
                     block_bits: int = 8,
                     post=None, out_schema: str | None = None
                     ) -> DataFrame:
    """The 100 TB shape: fuse kernel accumulation INTO the block task.
    The exchange carries the POINTS (one row each, duplicated only
    into blocks whose pixel window the point's kernel disk touches —
    factor ~(1 + 2R/B)^2, 1.13 at B=256/R=8), never the ~piR^2-fold
    kernel scatter and never the pixel grid. Each block then
    accumulates its own dense (B+1)^2 density window (one np.add.at
    over n_pts x |kernel| values — integer, order-independent, so
    bit-identical across schedules) and runs the shared marching
    squares. ONE shuffle total, and — unlike a pixel-grid aggregation — its
    width is the block grid regardless of how narrow AQE leaves the
    upstream source (the session-8 flat-scaling lesson: the pixel
    aggregation inherited a 2-3-task source width and serialized).

    ``post`` (with ``out_schema``) lets a caller transform each
    block's segment frame inside the SAME task — the chained-polyline
    form (contour_tiles) rides this hook, so chaining adds zero
    shuffles and zero extra passes over the points."""
    import pandas as pd

    lv = _check_levels(levels)
    B = 1 << block_bits
    s = 1 << pshift
    h = s // 2
    R = radius
    offs = [(dr, dc, R * R - dr * dr - dc * dc)
            for dr in range(-R + 1, R) for dc in range(-R + 1, R)
            if R * R - dr * dr - dc * dc > 0]
    dr_a = np.array([o[0] for o in offs], np.int64)
    dc_a = np.array([o[1] for o in offs], np.int64)
    k_a = np.array([o[2] for o in offs], np.int64)

    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    pts = points.select(
        F.shiftright("wx", pshift).alias("gx"),
        F.shiftright("wy", pshift).alias("gy"), w.alias("wt"))
    # candidate blocks whose pixel window [b*B, b*B+B] the point's
    # kernel disk [g-(R-1), g+(R-1)] touches. Per axis the valid
    # blocks are at most TWO consecutive values (requires
    # 2(R-1) <= B, guarded) and floor((g+R-1)/B) is always one of
    # them — so candidates are (hib-1, hib), exact-filtered after
    # the 2x2 expansion
    if 2 * (R - 1) > B:
        raise ValueError(
            f"kernel radius {R} too large for block size {B}: "
            "need 2*(radius-1) <= block (raise block_bits)")
    hib = lambda g: F.shiftright(g + (R - 1), block_bits)
    cand = F.array_distinct(F.array(*[
        F.struct(bxe.alias("bx"), bye.alias("by"))
        for bxe in (hib(F.col("gx")) - 1, hib(F.col("gx")))
        for bye in (hib(F.col("gy")) - 1, hib(F.col("gy")))]))
    sc = (pts.select("gx", "gy", "wt", F.explode(cand).alias("b"))
          .select(F.col("b.bx").alias("bx"), F.col("b.by").alias("by"),
                  "gx", "gy", "wt")
          .where((F.col("gx") + (R - 1) >= F.col("bx") * B)
                 & (F.col("gx") - (R - 1) <= F.col("bx") * B + B)
                 & (F.col("gy") + (R - 1) >= F.col("by") * B)
                 & (F.col("gy") - (R - 1) <= F.col("by") * B + B)))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        bx = int(pdf["bx"].iloc[0]) << block_bits
        by = int(pdf["by"].iloc[0]) << block_bits
        D = np.zeros((B + 1, B + 1), np.int64)
        lx = (pdf["gx"].to_numpy() - bx)[:, None] + dc_a[None, :]
        ly = (pdf["gy"].to_numpy() - by)[:, None] + dr_a[None, :]
        val = pdf["wt"].to_numpy()[:, None] * k_a[None, :]
        ok = ((lx >= 0) & (lx <= B) & (ly >= 0) & (ly <= B)
              & (lx + bx >= 0) & (lx + bx < npx)
              & (ly + by >= 0) & (ly + by < npx))
        np.add.at(D, (ly[ok], lx[ok]), val[ok])
        seg = _ms_dense(D, bx, by, lv, s, h)
        return post(seg) if post is not None else seg

    # explicit block-keyed width pinned UNDER the groupBy (the
    # world_features_to_tiles discipline): the scatter shuffle is a
    # few narrow MB, so AQE otherwise coalesces the kernel exchange
    # to 1-4 partitions and the whole block fleet runs on as many
    # cores (measured 3.2 s -> ~1 s for the kernel stage at sf0.1);
    # HashPartitioning(n, keys) satisfies the ClusteredDistribution,
    # so no second exchange appears
    par = points.sparkSession.sparkContext.defaultParallelism * 2
    sc = sc.repartition(par, "bx", "by")
    return sc.groupBy("bx", "by").applyInPandas(
        fn, schema=out_schema or _SEG_SCHEMA)


_CHAIN_SCHEMA = "level long, fid long, xs array<long>, ys array<long>"


def _chain_block(seg: "pd.DataFrame", span: int,
                 lvidx: dict[int, int]) -> "pd.DataFrame":
    """Chain one block's oriented segments into maximal block-local
    polylines, per level. Inside-on-left orientation gives every
    crossing vertex in-degree <= 1 and out-degree <= 1 within a level
    (the two cells sharing an edge compute the identical vertex, one
    as an end and one as a start), so successor is a function and the
    chain decomposition is unique. Open chains start at vertices with
    no in-block predecessor (the contour enters from a neighbor
    block); closed chains (cycles entirely inside the block) start at
    their member with the smallest (cy, cx, seg) key, so output is
    schedule-independent. fid = min member fid — the same
    (level-index, cell, seg) packing the unchained tile path uses, so
    the per-tile merged feature id is IDENTICAL under both paths
    (min over equal member sets)."""
    import pandas as pd

    rows: dict[str, list] = {"level": [], "fid": [], "xs": [], "ys": []}
    if len(seg):
        seg = seg.sort_values(["level", "cy", "cx", "seg"],
                              kind="stable")
    for t, g in seg.groupby("level", sort=True):
        x0 = g["x0"].to_numpy()
        y0 = g["y0"].to_numpy()
        x1 = g["x1"].to_numpy()
        y1 = g["y1"].to_numpy()
        fid = (((lvidx[int(t)] * span + g["cy"].to_numpy() + 1) * span
                + g["cx"].to_numpy() + 1) * 2
               + g["seg"].to_numpy().astype(np.int64))
        n = len(x0)
        # successor map vectorized (sort + searchsorted): stable sort
        # keeps the FIRST occurrence of a duplicate start key first,
        # exactly the old dict.setdefault semantics
        k0 = (x0.astype(np.int64) << 32) | y0.astype(np.int64)
        k1 = (x1.astype(np.int64) << 32) | y1.astype(np.int64)
        order = np.argsort(k0, kind="stable")
        k0_s = k0[order]
        pos = np.searchsorted(k0_s, k1)
        posc = np.minimum(pos, max(n - 1, 0))
        cand = order[posc]
        succ = np.where((k0_s[posc] == k1) & (cand != np.arange(n)),
                        cand, -1)
        has_pred = np.zeros(n, bool)
        has_pred[succ[succ >= 0]] = True
        seen = bytearray(n)
        succ_l = succ.tolist()
        # the walk runs on Python ints (list mirrors) and gathers each
        # chain's member indices; coordinates materialize per chain by
        # ONE fancy-index each — no per-vertex int() append churn
        # (measured ~4x off the per-segment emit at sf0.1 densities)

        def emit(head: int) -> None:
            idxs = []
            i = head
            while i >= 0 and not seen[i]:
                seen[i] = 1
                idxs.append(i)
                i = succ_l[i]
            ia = np.asarray(idxs, np.int64)
            rows["level"].append(int(t))
            rows["fid"].append(int(fid[ia].min()))
            # np.ndarray cells, not Python lists: Arrow's pandas
            # converter rejects list-typed object cells here
            rows["xs"].append(np.r_[x0[head], x1[ia]].astype(np.int64))
            rows["ys"].append(np.r_[y0[head], y1[ia]].astype(np.int64))

        for i in np.flatnonzero(~has_pred):   # open chains first
            if not seen[i]:
                emit(int(i))
        for i in range(n):          # remaining = cycles; i is the
            if not seen[i]:         # min-(cy,cx,seg) member (sorted)
                emit(i)
    # explicit dtypes: an empty block would otherwise infer float64
    # for xs/ys, which Arrow cannot convert to array<long>
    return pd.DataFrame({
        "level": pd.Series(rows["level"], dtype=np.int64),
        "fid": pd.Series(rows["fid"], dtype=np.int64),
        "xs": pd.Series(rows["xs"], dtype=object),
        "ys": pd.Series(rows["ys"], dtype=object),
    })


def contour_polylines(points: DataFrame, levels: Sequence[int],
                      zoom: int = ZOOM, size: int = TILE_PX,
                      radius: int = RADIUS,
                      weight_col: str | None = None,
                      world: int = WORLD,
                      block_bits: int = 8) -> DataFrame:
    """contour_segments + in-task chaining: (level, fid, xs, ys) maximal
    block-local polylines. Same ONE point-sized shuffle as
    contour_segments — chaining happens inside the
    block task, so the downstream tile fan-out / merge / encode sees
    ~len(chain) fewer rows (measured 10-60x on the sf0.1 field). The
    directed unit-segment multiset is EXACTLY contour_segments' rows
    (pytest law), so nothing downstream can tell them apart except
    by row count."""
    lv = _check_levels(levels)
    pshift, _ = _shifts(zoom, size, world)
    span = (world >> pshift) + 2
    lvidx = {int(t): i for i, t in enumerate(lv)}
    return _segments_direct(
        points, lv, pshift, radius, world >> pshift, weight_col,
        block_bits=block_bits,
        post=lambda seg: _chain_block(seg, span, lvidx),
        out_schema=_CHAIN_SCHEMA)


def contour_segments(points: DataFrame, levels: Sequence[int],
                     zoom: int = ZOOM, size: int = TILE_PX,
                     radius: int = RADIUS,
                     weight_col: str | None = None,
                     world: int = WORLD) -> DataFrame:
    """(wx, wy[, weight]) points -> oriented contour segments of the
    density field at each level: (level, cx, cy, seg, x0, y0, x1, y1)
    in world integer coordinates. Join-free: ONE point-sized shuffle,
    kernel accumulation AND marching squares fused per block (see
    _segments_direct). DuckDB twin: contour_segments_sql."""
    pshift, _ = _shifts(zoom, size, world)
    return _segments_direct(points, levels, pshift, radius,
                            world >> pshift, weight_col)


def contour_tiles(points: DataFrame, levels: Sequence[int],
                  zoom: int = ZOOM, size: int = TILE_PX,
                  radius: int = RADIUS,
                  weight_col: str | None = None,
                  world: int = WORLD, extent: int = 4096,
                  buffer: int = 0) -> DataFrame:
    """The servable product: contour segments -> per-level MVT
    linestring layers (``contour_<T>``), chained into maximal
    polylines/rings by the per-tile linemerge (levels can't merge
    across layers) through the shared world-features tail — the same
    bbox fan-out -> clip -> vectorized encode every other ingest in
    this engine runs.

    Segments chain into maximal block-local polylines INSIDE the
    marching-squares block task (contour_polylines), so the fan-out /
    per-tile merge see one row per chain instead of one per 2-point
    segment (10-60x fewer; the per-tile linemerge then only stitches
    cross-block chains). The 256-px block grid coincides with the tile
    grid at the default zoom/size, so chains rarely fan to more than
    one tile. Feature ids are the min over member (level, cell, seg)
    fids, fixed functions of the field, so re-running reproduces
    identical bytes. Per tile, the decoded unit-segment multiset
    equals that of tiling contour_segments' rows one per segment
    (pytest-pinned); a chain straddling a tile's buffer window carries
    its whole-chain min fid into that tile, so ids (never geometry)
    can differ from that per-segment form at buffer edges."""
    from .geojson import world_features_to_tiles

    lv = _check_levels(levels)
    pl = contour_polylines(points, lv, zoom, size, radius, weight_col,
                           world)
    feats = pl.select(
        F.col("fid"),
        F.lit("LineString").alias("gj_type"),
        F.array(F.transform(
            F.arrays_zip("xs", "ys"),
            lambda q: F.array(q["xs"], q["ys"]))).alias("parts"),
        F.concat(F.lit("contour_"), F.col("level")).alias("_layer"))
    return world_features_to_tiles(feats, zoom, extent, buffer=buffer,
                                   layer_col="_layer",
                                   coalesce_lines=True)


def contour_segments_sql(src: str = "images",
                         levels: Sequence[int] = (), zoom: int = ZOOM,
                         size: int = TILE_PX, radius: int = RADIUS,
                         weight_col: str | None = None,
                         world: int = WORLD) -> str:
    """DuckDB twin of contour_segments over a (wx, wy[, weight]) CTE:
    reuses heatmap_tiles_sql's hm_pixels scatter, then the identical
    cell pivot / case / integer interpolation. Final CTE:
    ``cs_segments`` (level, cx, cy, seg, x0, y0, x1, y1)."""
    from .heatmap import heatmap_tiles_sql

    lv = _check_levels(levels)
    pshift, _ = _shifts(zoom, size, world)
    s = 1 << pshift
    h = s // 2
    base = heatmap_tiles_sql(src, zoom, size, radius, weight_col, world)
    lvals = ", ".join(f"({t})" for t in lv)
    tvals = ", ".join(
        f"({k}, {i}, {a}, {b})"
        for k, pairs in SEG_TABLE.items()
        for i, (a, b) in enumerate(pairs))

    def d(name: str) -> str:
        return f"c.{name}"

    def interp(da: str, db: str) -> str:
        return f"((c.level - {d(da)}) * {s}) // ({d(db)} - {d(da)})"

    ex = {0: f"(c.cx * {s} + {h}) + {interp('d00', 'd10')}",
          1: f"((c.cx + 1) * {s} + {h})",
          2: f"(c.cx * {s} + {h}) + {interp('d01', 'd11')}",
          3: f"(c.cx * {s} + {h})"}
    ey = {0: f"(c.cy * {s} + {h})",
          1: f"(c.cy * {s} + {h}) + {interp('d10', 'd11')}",
          2: f"((c.cy + 1) * {s} + {h})",
          3: f"(c.cy * {s} + {h}) + {interp('d00', 'd01')}"}

    def case_on(col: str, table: dict[int, str]) -> str:
        return ("CASE t." + col
                + "".join(f" WHEN {e} THEN {x}"
                          for e, x in table.items())
                + " END")

    return base + f""",
cs_cells AS (
  SELECT p.px - o.i AS cx, p.py - o.j AS cy,
         CAST(COALESCE(SUM(CASE WHEN o.i = 0 AND o.j = 0
                           THEN p.density END), 0) AS BIGINT) AS d00,
         CAST(COALESCE(SUM(CASE WHEN o.i = 1 AND o.j = 0
                           THEN p.density END), 0) AS BIGINT) AS d10,
         CAST(COALESCE(SUM(CASE WHEN o.i = 0 AND o.j = 1
                           THEN p.density END), 0) AS BIGINT) AS d01,
         CAST(COALESCE(SUM(CASE WHEN o.i = 1 AND o.j = 1
                           THEN p.density END), 0) AS BIGINT) AS d11
  FROM hm_pixels p CROSS JOIN (VALUES (0,0),(1,0),(0,1),(1,1)) o(i,j)
  GROUP BY 1, 2
),
cs_ext AS (
  SELECT c.*, l.level,
         (CASE WHEN c.d00 >= l.level THEN 1 ELSE 0 END
          + CASE WHEN c.d10 >= l.level THEN 2 ELSE 0 END
          + CASE WHEN c.d11 >= l.level THEN 4 ELSE 0 END
          + CASE WHEN c.d01 >= l.level THEN 8 ELSE 0 END)
         + CASE WHEN (CASE WHEN c.d00 >= l.level THEN 1 ELSE 0 END
                      + CASE WHEN c.d10 >= l.level THEN 2 ELSE 0 END
                      + CASE WHEN c.d11 >= l.level THEN 4 ELSE 0 END
                      + CASE WHEN c.d01 >= l.level THEN 8 ELSE 0 END)
                     IN (5, 10)
                 AND c.d00 + c.d10 + c.d01 + c.d11 >= 4 * l.level
                THEN 16 ELSE 0 END AS ext
  FROM cs_cells c CROSS JOIN (VALUES {lvals}) l(level)
),
cs_pts AS (
  SELECT c.level, c.cx, c.cy, t.seg,
         CAST({case_on('a', ex)} AS BIGINT) AS x0,
         CAST({case_on('a', ey)} AS BIGINT) AS y0,
         CAST({case_on('b', ex)} AS BIGINT) AS x1,
         CAST({case_on('b', ey)} AS BIGINT) AS y1
  FROM cs_ext c JOIN (VALUES {tvals}) t(ext, seg, a, b)
    ON t.ext = c.ext
),
cs_segments AS (
  SELECT * FROM cs_pts WHERE x0 <> x1 OR y0 <> y1
)"""
