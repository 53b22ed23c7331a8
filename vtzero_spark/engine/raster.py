"""Vector -> raster tile rendering (the image half of raster<->vector).

The reference is a vector-tile codec only; rendering the encoded
geometry to pixels is what every consumer of its output ultimately
does (mapnik-vector-tile renders vtzero-shaped layers; vtzero
examples/vtzero-show.cpp:124-174 stops at printing the decoded
geometry). This module closes that loop engine-side: tile-local
feature geometry (the same ``geom_type`` + ``parts`` columns the
clip/simplify/encode operators carry) becomes PNG raster tiles via
the in-repo codec (engine/png.py).

Built for the 100 TB shape as a TWO-STAGE PARTIAL AGGREGATION —
rasterization is a commutative monoid, so it distributes like a sum:

- **Stage 1 (mapInArrow, zero shuffle)**: each Arrow batch scanline-
  converts its own features into per-tile PARTIAL buffers — a signed
  winding-crossing difference buffer for polygons (int32, additive)
  and a coverage mask for lines/points (uint8, OR) — zlib-compressed
  (sparse rasters compress ~100x). This is map-side combine for
  images: a partition touching 10M features in 40 tiles emits 40
  small rows.
- **Stage 2 (groupBy tile)**: partials merge by plain ``sum`` / ``OR``
  (order-independent, so Spark's nondeterministic row order cannot
  change a byte), the winding cumsum + fill rule resolves polygon
  interiors, and the composite encodes through engine/png.py's
  vectorized-decodable write path.

The shuffle therefore carries O(tiles x compressed buffer) bytes, not
the geometry — the same discipline as the map-side-combined stats
aggregates, applied to pixels. A z0 tile owning the whole corpus
costs each upstream task one buffer, never a single-task geometry
pile (the hot_tiles.py lesson).

Scanline semantics (pinned against a per-pixel scalar oracle in
tests/test_raster.py):

- Pixels sample their CENTER: pixel (r, c) of a ``size``-px tile over
  a ``extent``-unit extent samples ((c+.5)*s, (r+.5)*s), s=extent/size.
- Polygon edges contribute a +-1 winding crossing to every pixel row
  whose center y lies in the edge's half-open y-span (``y0 <= yc < y1``
  upward = +1, ``y1 <= yc < y0`` downward = -1 — the standard rule
  that counts shared vertices exactly once); the crossing lands in
  the difference buffer at the first pixel column whose center x is
  right of the intersection. Row indices are integer-exact (scaled
  integer ceil, no float y anywhere); intersection x is float64 with
  one fixed expression shape shared by kernel and oracle.
- Fill rule ``nonzero`` (the MVT/mapnik winding convention:
  CW exterior / CCW interior rings, spec 4.3.3.3) or ``evenodd``.
- Lines supersample each segment at one step per pixel-sized advance
  (adjacent samples differ by <= 1px per axis — 8-connected, no
  gaps); points mark their containing pixel.

Reference parity anchors: geometry model mvt/geometry.py (decoded
``parts``), winding/ring semantics vtzero builder.hpp:951-1141.
"""

from __future__ import annotations

import zlib
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StructField, StructType)

from ..mvt import geometry as G

__all__ = [
    "poly_crossing_diff", "line_point_mask", "resolve_mask",
    "rasterize_tile",
    "render_tiles", "render_partials",
    "vectorize_mask", "contour_tiles",
]


# ------------------------------------------------------------------ kernels


def _row_span(y0: np.ndarray, y1: np.ndarray, size: int,
              extent: int) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Half-open pixel-row span [r_lo, r_hi) whose centers an edge
    crosses, integer-exact: center of row r is (r+.5)*extent/size, so
    yc >= y  <=>  r >= ceil(y*size/extent - 1/2), all in scaled ints.
    Returns (r_lo, r_hi, sign)."""
    sign = np.where(y1 > y0, np.int32(1), np.int32(-1))
    lo = np.minimum(y0, y1)
    hi = np.maximum(y0, y1)
    # ceil((2*y*size - extent) / (2*extent)) over int64
    num_lo = 2 * lo * size - extent
    num_hi = 2 * hi * size - extent
    d = 2 * extent
    r_lo = -((-num_lo) // d)
    r_hi = -((-num_hi) // d)
    np.clip(r_lo, 0, size, out=r_lo)
    np.clip(r_hi, 0, size, out=r_hi)
    return r_lo.astype(np.int64), r_hi.astype(np.int64), sign


def poly_crossing_diff(px: np.ndarray, py: np.ndarray, roff: np.ndarray,
                       size: int, extent: int) -> np.ndarray:
    """Signed winding-crossing difference buffer (int32, [size, size+1])
    for a batch of OPEN rings (flat px/py int64, ring offsets roff).
    ``cumsum(buf, axis=1)[:, :size]`` is the winding number at every
    pixel center. Additive across feature subsets — the monoid."""
    buf = np.zeros((size, size + 1), np.int32)
    n = px.size
    if n == 0:
        return buf
    # closed-edge endpoints: next vertex within ring, last wraps to first
    idx = np.arange(n)
    nxt = idx + 1
    last = roff[1:] - 1
    first = roff[:-1]
    keep = last >= first  # non-empty rings
    nxt[last[keep]] = first[keep]
    x0, y0 = px, py
    x1, y1 = px[nxt], py[nxt]
    live = y0 != y1
    x0, y0, x1, y1 = x0[live], y0[live], x1[live], y1[live]
    if x0.size == 0:
        return buf
    r_lo, r_hi, sign = _row_span(y0, y1, size, extent)
    cnt = r_hi - r_lo
    pos = cnt > 0
    x0, y0, x1, y1 = x0[pos], y0[pos], x1[pos], y1[pos]
    r_lo, cnt, sign = r_lo[pos], cnt[pos], sign[pos]
    if cnt.size == 0:
        return buf
    total = int(cnt.sum())
    # segmented arange: crossing k of edge e is row r_lo[e] + k
    eidx = np.repeat(np.arange(cnt.size), cnt)
    k = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    rows = r_lo[eidx] + k
    yc = (rows.astype(np.float64) + 0.5) * (extent / size)
    fx0 = x0[eidx].astype(np.float64)
    xc = fx0 + (yc - y0[eidx]) * (x1[eidx] - x0[eidx]).astype(np.float64) \
        / (y1[eidx] - y0[eidx]).astype(np.float64)
    # first pixel column whose center is >= xc: c = ceil(xc*size/extent - .5)
    cols = np.ceil(xc * (size / extent) - 0.5).astype(np.int64)
    np.clip(cols, 0, size, out=cols)
    np.add.at(buf, (rows, cols), sign[eidx])
    return buf


def line_point_mask(px: np.ndarray, py: np.ndarray, roff: np.ndarray,
                    size: int, extent: int,
                    as_points: bool = False) -> np.ndarray:
    """Coverage mask (uint8 0/1, [size, size]) for polyline parts
    (or bare points when ``as_points``). OR-additive across subsets."""
    mask = np.zeros((size, size), np.uint8)
    if px.size == 0:
        return mask
    s = extent / size

    def mark(xs: np.ndarray, ys: np.ndarray) -> None:
        c = np.floor(xs / s).astype(np.int64)
        r = np.floor(ys / s).astype(np.int64)
        ok = (c >= 0) & (c < size) & (r >= 0) & (r < size)
        mask[r[ok], c[ok]] = 1

    if as_points:
        mark(px.astype(np.float64), py.astype(np.float64))
        return mask
    # segments: consecutive vertices within each part (no closing edge)
    n = px.size
    idx = np.arange(n - 1) if n > 1 else np.empty(0, np.int64)
    starts = np.ones(max(n - 1, 0), bool)
    if idx.size:
        part_last = roff[1:] - 1
        valid_last = part_last[(part_last >= 0) & (part_last < n - 1)]
        starts[valid_last] = False  # edge crossing a part boundary
    a = idx[starts]
    if a.size == 0:
        mark(px.astype(np.float64), py.astype(np.float64))
        return mask
    x0, y0 = px[a].astype(np.float64), py[a].astype(np.float64)
    x1, y1 = px[a + 1].astype(np.float64), py[a + 1].astype(np.float64)
    span = np.maximum(np.abs(x1 - x0), np.abs(y1 - y0)) / s
    nstep = np.maximum(np.ceil(span).astype(np.int64) + 1, 2)
    total = int(nstep.sum())
    eidx = np.repeat(np.arange(nstep.size), nstep)
    k = np.arange(total) - np.repeat(np.cumsum(nstep) - nstep, nstep)
    t = k.astype(np.float64) / (nstep[eidx] - 1).astype(np.float64)
    mark(x0[eidx] + t * (x1[eidx] - x0[eidx]),
         y0[eidx] + t * (y1[eidx] - y0[eidx]))
    # isolated single-vertex parts still mark their pixel
    mark(px.astype(np.float64), py.astype(np.float64))
    return mask


def resolve_mask(diff: np.ndarray, mask: np.ndarray,
                 rule: str = "nonzero") -> np.ndarray:
    """Merge a polygon crossing-diff buffer and a line/point mask into
    the final uint8 0/1 coverage image."""
    size = mask.shape[0]
    wind = np.cumsum(diff, axis=1)[:, :size]
    if rule == "nonzero":
        poly = wind != 0
    elif rule == "evenodd":
        poly = (wind & 1) != 0
    else:
        raise ValueError(f"unknown fill rule {rule!r}")
    return (poly | mask.astype(bool)).astype(np.uint8)


def rasterize_tile(px: np.ndarray, py: np.ndarray, roff: np.ndarray,
                   gtypes_per_ring: np.ndarray, size: int, extent: int,
                   rule: str = "nonzero") -> np.ndarray:
    """One-shot kernel: flat rings of mixed geometry (gtypes_per_ring
    gives each ring's feature geom_type) -> uint8 0/1 coverage."""
    counts = np.diff(roff)

    def subset(sel: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
        keep = np.repeat(sel, counts)
        c = counts[sel]
        return px[keep], py[keep], np.concatenate(([0], np.cumsum(c)))

    diff = poly_crossing_diff(
        *subset(gtypes_per_ring == G.GEOM_POLYGON), size, extent)
    lmask = line_point_mask(
        *subset(gtypes_per_ring == G.GEOM_LINESTRING), size, extent)
    pmask = line_point_mask(
        *subset(gtypes_per_ring == G.GEOM_POINT), size, extent,
        as_points=True)
    return resolve_mask(diff, np.maximum(lmask, pmask), rule)


# ------------------------------------------------------------ Spark stages


_PARTIAL_SCHEMA = StructType([
    StructField("z", IntegerType()), StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("poly_diff", BinaryType()),   # zlib(int32 [size, size+1])
    StructField("cover_mask", BinaryType()),  # zlib(uint8 [size, size])
    StructField("n_features", LongType()),
])


def render_partials(features: DataFrame, size: int = 256,
                    extent: int = 4096) -> DataFrame:
    """Stage 1: features (z, x, y, geom_type, parts) -> per-(input
    partition x tile) PARTIAL raster buffers. mapInArrow over the flat
    Arrow buffers (the clip.py discipline) — no shuffle, no per-point
    Python objects; one output row per tile present in the batch."""
    import pyarrow as pa
    from .clip import _flat_parts

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if tbl.num_rows == 0:
                continue
            z = tbl.column("z").to_numpy(zero_copy_only=False).astype(np.int32)
            xs = tbl.column("x").to_numpy(zero_copy_only=False).astype(np.int64)
            ys = tbl.column("y").to_numpy(zero_copy_only=False).astype(np.int64)
            gt = tbl.column("geom_type").to_numpy(
                zero_copy_only=False).astype(np.int64)
            col = tbl.column("parts")
            if col.num_chunks != 1:
                col = col.combine_chunks()
            else:
                col = col.chunk(0)
            o1, o2, fx, fy = _flat_parts(col)
            # per-feature ring span [o1[i], o1[i+1]) indexes into o2
            tile_key = (z.astype(np.int64) << 52) ^ (xs << 26) ^ ys
            order = np.argsort(tile_key, kind="stable")
            bounds = np.flatnonzero(
                np.diff(tile_key[order], prepend=tile_key[order[0]] ^ 1))
            bounds = np.append(bounds, order.size)
            out = {k: [] for k in ("z", "x", "y", "pd", "cm", "nf")}
            for b0, b1 in zip(bounds[:-1], bounds[1:]):
                rows = order[b0:b1]
                diff = np.zeros((size, size + 1), np.int32)
                mask = np.zeros((size, size), np.uint8)
                for gval in (G.GEOM_POLYGON, G.GEOM_LINESTRING, G.GEOM_POINT):
                    frows = rows[gt[rows] == gval]
                    if frows.size == 0:
                        continue
                    # gather all rings of these features
                    rspan = np.stack([o1[frows], o1[frows + 1]], 1)
                    nr = rspan[:, 1] - rspan[:, 0]
                    ridx = np.repeat(rspan[:, 0], nr) + (
                        np.arange(int(nr.sum()))
                        - np.repeat(np.cumsum(nr) - nr, nr))
                    pcnt = (o2[ridx + 1] - o2[ridx])
                    tot = int(pcnt.sum())
                    pidx = np.repeat(o2[ridx], pcnt) + (
                        np.arange(tot)
                        - np.repeat(np.cumsum(pcnt) - pcnt, pcnt))
                    ppx, ppy = fx[pidx], fy[pidx]
                    roff = np.concatenate(([0], np.cumsum(pcnt)))
                    if gval == G.GEOM_POLYGON:
                        diff += poly_crossing_diff(ppx, ppy, roff, size, extent)
                    else:
                        np.maximum(mask, line_point_mask(
                            ppx, ppy, roff, size, extent,
                            as_points=(gval == G.GEOM_POINT)), out=mask)
                out["z"].append(int(z[rows[0]]))
                out["x"].append(int(xs[rows[0]]))
                out["y"].append(int(ys[rows[0]]))
                out["pd"].append(zlib.compress(diff.tobytes(), 1))
                out["cm"].append(zlib.compress(mask.tobytes(), 1))
                out["nf"].append(int(rows.size))
            yield pa.RecordBatch.from_arrays(
                [pa.array(out["z"], pa.int32()),
                 pa.array(out["x"], pa.int64()),
                 pa.array(out["y"], pa.int64()),
                 pa.array(out["pd"], pa.binary()),
                 pa.array(out["cm"], pa.binary()),
                 pa.array(out["nf"], pa.int64())],
                schema=pa.schema([
                    ("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
                    ("poly_diff", pa.binary()), ("cover_mask", pa.binary()),
                    ("n_features", pa.int64())]))

    return features.select("z", "x", "y", "geom_type", "parts") \
        .mapInArrow(fn, _PARTIAL_SCHEMA)


_TILE_SCHEMA = StructType([
    StructField("z", IntegerType()), StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("width", IntegerType()), StructField("height", IntegerType()),
    StructField("n_features", LongType()),
    StructField("n_pixels", LongType()),
    StructField("png", BinaryType()),
])


def render_tiles(features: DataFrame, size: int = 256, extent: int = 4096,
                 rule: str = "nonzero",
                 level: int = 6,
                 supersample: int = 1) -> DataFrame:
    """Vector features -> one PNG raster tile per (z, x, y).

    Two-stage partial aggregation (module docstring); merge is a plain
    integer sum / byte OR, so the output bytes are independent of row
    and partition order. With ``supersample=1`` PNG rows are binary
    0/255 gray; with ``supersample=k`` the partials rasterize at
    ``k*size`` and each output pixel is the exact box mean of its k^2
    subpixels (integer round-half-up) — anti-aliased 8-bit coverage,
    still byte-deterministic. Writes go through the repo codec's
    vectorized-decodable path."""
    if supersample < 1:
        raise ValueError(f"supersample must be >= 1, got {supersample}")
    ss = supersample
    hi = size * ss
    partials = render_partials(features, size=hi, extent=extent)

    def merge(pdf):
        import pandas as pd
        from . import png as PNG

        diff = np.zeros((hi, hi + 1), np.int32)
        mask = np.zeros((hi, hi), np.uint8)
        for blob in pdf["poly_diff"]:
            diff += np.frombuffer(
                zlib.decompress(blob), np.int32).reshape(hi, hi + 1)
        for blob in pdf["cover_mask"]:
            np.maximum(mask, np.frombuffer(
                zlib.decompress(blob), np.uint8).reshape(hi, hi),
                out=mask)
        img = resolve_mask(diff, mask, rule)
        if ss == 1:
            out8 = img * np.uint8(255)
            n_pixels = int(img.sum())
        else:
            covered = img.reshape(size, ss, size, ss).sum(
                axis=(1, 3), dtype=np.int64)
            out8 = ((covered * 255 + (ss * ss) // 2)
                    // (ss * ss)).astype(np.uint8)
            n_pixels = int((covered > 0).sum())
        data = PNG.encode(out8, level=level)
        return pd.DataFrame({
            "z": pdf["z"].iloc[:1], "x": pdf["x"].iloc[:1],
            "y": pdf["y"].iloc[:1],
            "width": np.int32(size), "height": np.int32(size),
            "n_features": np.int64(pdf["n_features"].sum()),
            "n_pixels": np.int64(n_pixels),
            "png": [data],
        })

    return partials.groupBy("z", "x", "y").applyInPandas(merge, _TILE_SCHEMA)


# ------------------------------------------------------- raster -> vector


# directed boundary edge types, interior on the RIGHT of travel
# (y-down): R = covered pixel's top edge ->, D = right edge v,
# L = bottom edge <-, U = left edge ^. A solid rect traces in exactly
# geomops.rect_ring's corner order (CW outer, vtzero's positive
# shoelace, builder.hpp:951-1141); holes come out reversed.
_E_R, _E_D, _E_L, _E_U = 0, 1, 2, 3


def vectorize_mask(mask: np.ndarray, scale: int = 1) -> list:
    """Exact boundary polygons of a binary mask: closed rings (lists
    of (x, y) int tuples, coords scaled by ``scale``) tracing the
    boundary of the union of covered pixel squares, outer rings CW
    (y-down), holes CCW.

    The inverse of the scanline fill up to pixel sampling — the
    round-trip theorem ``rasterize(vectorize(M)) == M`` holds EXACTLY
    (tests/test_raster.py): ring edges lie on pixel-square boundaries
    while the rasterizer samples pixel centers, which are strictly
    interior, and the center-vs-vertical-edge comparisons are exact
    in float64 for integer coordinates.

    Saddle vertices (two covered pixels meeting diagonally) resolve
    by the turn-toward-the-diagonal rule, which keeps interiors
    4-connected — each diagonal neighbor lands in its own contour, so
    the output rings are always simple (non-self-intersecting).

    Successor computation is one vectorized numpy pass over all
    boundary edges; only the cycle walk is a Python loop (O(total
    boundary length) array lookups).
    """
    h, w = mask.shape
    m = np.zeros((h + 2, w + 2), bool)
    m[1:-1, 1:-1] = mask.astype(bool)
    core = m[1:-1, 1:-1]
    # boundary edges, identified by (type, owning covered pixel r, c)
    er = core & ~m[:-2, 1:-1]   # uncovered above
    ed = core & ~m[1:-1, 2:]    # uncovered right
    el = core & ~m[2:, 1:-1]    # uncovered below
    eu = core & ~m[1:-1, :-2]   # uncovered left
    if not er.any():
        return []
    # global edge index: eid = ((t * h) + r) * w + c
    stride = h * w

    def ids(t, grid):
        rr, cc = np.nonzero(grid)
        return (t * h + rr) * w + cc, rr, cc

    rid, rr, rc = ids(_E_R, er)
    did, dr, dc = ids(_E_D, ed)
    lid, lr, lc = ids(_E_L, el)
    uid, ur, uc = ids(_E_U, eu)

    def cov(r, c):
        return m[r + 1, c + 1]

    # successor of each edge (vectorized per type); the three-way rule:
    # diagonal-ahead covered -> turn toward it; straight-ahead covered
    # -> continue; else -> fold back around the owning pixel's corner.
    succ = {}

    def put(eids, nxt):
        for e, s in zip(eids.tolist(), nxt.tolist()):
            succ[e] = s

    # R edge of (r, c): ends at vertex (c+1, r). A = pixel (r-1, c+1),
    # B = pixel (r, c+1).
    a = cov(rr - 1, rc + 1)
    b = cov(rr, rc + 1)
    nxt = np.where(a, (_E_U * h + (rr - 1)) * w + (rc + 1),
                   np.where(b, (_E_R * h + rr) * w + (rc + 1),
                            (_E_D * h + rr) * w + rc))
    put(rid, nxt)
    # D edge of (r, c): ends at (c+1, r+1). A = (r+1, c+1), B = (r+1, c).
    a = cov(dr + 1, dc + 1)
    b = cov(dr + 1, dc)
    nxt = np.where(a, (_E_R * h + (dr + 1)) * w + (dc + 1),
                   np.where(b, (_E_D * h + (dr + 1)) * w + dc,
                            (_E_L * h + dr) * w + dc))
    put(did, nxt)
    # L edge of (r, c): ends at (c, r+1). A = (r+1, c-1), B = (r, c-1).
    a = cov(lr + 1, lc - 1)
    b = cov(lr, lc - 1)
    nxt = np.where(a, (_E_D * h + (lr + 1)) * w + (lc - 1),
                   np.where(b, (_E_L * h + lr) * w + (lc - 1),
                            (_E_U * h + lr) * w + lc))
    put(lid, nxt)
    # U edge of (r, c): ends at (c, r). A = (r-1, c-1), B = (r-1, c).
    a = cov(ur - 1, uc - 1)
    b = cov(ur - 1, uc)
    nxt = np.where(a, (_E_L * h + (ur - 1)) * w + (uc - 1),
                   np.where(b, (_E_U * h + (ur - 1)) * w + uc,
                            (_E_R * h + ur) * w + uc))
    put(uid, nxt)

    # start vertex (x, y) of an edge id, in grid units
    def start_vertex(eid):
        t, rem = divmod(eid, stride)
        r, c = divmod(rem, w)
        if t == _E_R:
            return (c, r)
        if t == _E_D:
            return (c + 1, r)
        if t == _E_L:
            return (c + 1, r + 1)
        return (c, r + 1)

    rings = []
    seen = set()
    for e0 in succ:
        if e0 in seen:
            continue
        ring = []
        e = e0
        while True:
            seen.add(e)
            ring.append(e)
            e = succ[e]
            if e == e0:
                break
        # collinear merge: consecutive edges of the same type are one
        # straight run; keep only vertices where the direction turns
        types = np.array([x // stride for x in ring])
        turn = types != np.roll(types, 1)
        pts = [start_vertex(ring[i]) for i in np.flatnonzero(turn)]
        pts.append(pts[0])  # closed-ring convention (geomops.rect_ring)
        rings.append([(x * scale, y * scale) for (x, y) in pts])
    return rings


_CONTOUR_SCHEMA = StructType([
    StructField("z", IntegerType()), StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("geom_type", IntegerType()),
    StructField("parts", ArrayType(ArrayType(StructType([
        StructField("x", LongType()),
        StructField("y", LongType())])))),
    StructField("n_rings", IntegerType()),
])


def contour_tiles(tiles: DataFrame, size: int = 256,
                  extent: int = 4096) -> DataFrame:
    """Raster PNG tiles (render_tiles output) -> one polygon feature
    per tile whose rings trace the exact coverage boundary; feeds
    straight back into render_tiles (byte-identical round trip,
    tests/test_raster.py) or into simplify_features for
    tolerance-based smoothing of the pixel staircase. Row-local
    (mapInPandas, no shuffle); PNG decode via the repo codec."""
    import pandas as pd
    from . import png as PNG

    if extent % size:
        raise ValueError(f"extent {extent} not a multiple of size {size}")
    s = extent // size

    def fn(pdfs):
        for pdf in pdfs:
            out = []
            for row in pdf.itertuples(index=False):
                arr, _ = PNG.decode(bytes(row.png))
                mask = (arr[..., 0] > 0).astype(np.uint8)
                rings = vectorize_mask(mask, scale=s)
                if not rings:
                    continue
                out.append({
                    "z": row.z, "x": row.x, "y": row.y,
                    "geom_type": G.GEOM_POLYGON,
                    "parts": [[{"x": int(px), "y": int(py)}
                               for (px, py) in ring] for ring in rings],
                    "n_rings": len(rings),
                })
            if out:
                yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "png").mapInPandas(
        fn, _CONTOUR_SCHEMA)


# --------------------------------------- distributed stencil (halo)

def raster_stencil(pixels: DataFrame, grid: int, tile: int = 64,
                   out: str = "conv_sum") -> DataFrame:
    """Distributed 3x3 stencil (box-sum convolution) over a dense
    pixel band — the halo-exchange pattern every raster DSP op
    (hillshade, blur, slope, edge detect) reduces to.

    Input: (px, py, value) covering the ``grid`` x ``grid`` band
    (synth.pixel_grid shape). Output: (px, py, conv_sum) where
    conv_sum = the sum of the up-to-9 in-bounds neighbors' values —
    integer-exact, so the query hash-matches a 9-way shifted
    self-join oracle.

    Scale shape: pixels bucket into ``tile`` x ``tile`` tiles (pure
    column math). Pixels in the 1-px border band ALSO ship to the
    adjacent tile(s) as halo rows — an explode over the (dx, dy)
    neighbor offsets that actually apply, so halo volume is
    O(perimeter / tile) ~ 6% at tile=64, NOT a 9x replication. One
    groupBy(tile) then runs the whole stencil as a single vectorized
    numpy pass per tile (scatter -> 2-D sliding sum -> emit core
    rows); no pixel-level join ever happens. At 10^12 pixels the
    shuffle carries each pixel ~1.06 times, and kernel radius r
    changes only the band width (r rows/cols), never the plan.
    """
    nt = grid // tile
    t = (
        pixels
        .withColumn("_dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("_dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        # destination tile of this (possibly halo) copy
        .withColumn("_tx", F.expr(f"px div {tile}") + F.col("_dx"))
        .withColumn("_ty", F.expr(f"py div {tile}") + F.col("_dy"))
        # keep the copy iff the pixel is inside the destination tile's
        # 1-px-expanded window (core copy is _dx=_dy=0; halo copies
        # exist only for border-band pixels) and the tile exists
        .where(
            (F.col("_tx") >= 0) & (F.col("_tx") < nt)
            & (F.col("_ty") >= 0) & (F.col("_ty") < nt)
            & (F.col("px") >= F.col("_tx") * tile - 1)
            & (F.col("px") <= (F.col("_tx") + 1) * tile)
            & (F.col("py") >= F.col("_ty") * tile - 1)
            & (F.col("py") <= (F.col("_ty") + 1) * tile)
        )
        .select("_tx", "_ty", "px", "py", "value")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        tx = int(pdf["_tx"].iloc[0])
        ty = int(pdf["_ty"].iloc[0])
        x0, y0 = tx * tile, ty * tile
        # (tile+2)^2 window incl. halo ring; absent pixels contribute 0
        buf = np.zeros((tile + 2, tile + 2), dtype=np.int64)
        lx = pdf["px"].to_numpy() - x0 + 1
        ly = pdf["py"].to_numpy() - y0 + 1
        buf[ly, lx] = pdf["value"].to_numpy()
        # separable 3x3 box sum: vertical triple-sum, then horizontal
        v = buf[:-2, :] + buf[1:-1, :] + buf[2:, :]
        h = v[:, :-2] + v[:, 1:-1] + v[:, 2:]
        ys, xs = np.mgrid[0:tile, 0:tile]
        return pd.DataFrame({
            "px": (xs + x0).ravel(),
            "py": (ys + y0).ravel(),
            out: h.ravel(),
        })

    return (
        t.groupBy("_tx", "_ty")
        .applyInPandas(kernel, f"px long, py long, {out} long")
    )


def raster_stencil_sql(pix_cte: str = "pix", grid: int = 512,
                       out: str = "conv_sum") -> str:
    """DuckDB mirror: scatter-then-group — each pixel's value lands on
    its 9 neighbor positions and the group-by sums arrivals. Exactly
    the kernel's zero-padding semantics on a DENSE band (every
    in-bounds position is a pixel, so no join is needed; a range
    self-join formulation was measured 65x slower in DuckDB)."""
    return f"""
  SELECT q.px + o.dx AS px, q.py + o.dy AS py,
         CAST(SUM(q.value) AS BIGINT) AS {out}
  FROM {pix_cte} q,
       (SELECT a.d AS dx, b.d AS dy
        FROM (VALUES (-1), (0), (1)) a(d), (VALUES (-1), (0), (1)) b(d)) o
  WHERE q.px + o.dx BETWEEN 0 AND {grid - 1}
    AND q.py + o.dy BETWEEN 0 AND {grid - 1}
  GROUP BY 1, 2"""


def raster_pyramid(pixels: DataFrame, grid: int,
                   out: str = "sum_v") -> DataFrame:
    """Raster overview pyramid (the COG-overview / tiling.pyramid
    analog for the dense band): every power-of-two downsample level
    from the full band to 1x1, each pixel holding the SUM of its 2x2
    children (so any level is exact, not resampled).

    Output: (level, px, py, sum_v) with level = log2(grid) the native
    band down to level 0 (one pixel). Built iteratively — level L-1 is
    one groupBy over level L, so work decays 4x per level and total
    shuffle volume is <= 4/3 of the band (the compact_cells
    discipline); each level is localCheckpoint'd to keep the plan
    linear and reused by BOTH its output row and the next level's
    input (no re-derivation cascade).
    """
    import math

    top = int(math.log2(grid))
    assert (1 << top) == grid, "grid must be a power of two"
    cur = pixels.select(
        F.lit(top).alias("level"), "px", "py",
        F.col("value").cast("long").alias(out))
    parts = [cur]
    for lvl in range(top - 1, -1, -1):
        cur = (
            cur.groupBy(
                F.expr("px div 2").alias("px"),
                F.expr("py div 2").alias("py"))
            .agg(F.sum(out).alias(out))
            .select(F.lit(lvl).alias("level"), "px", "py", out)
            .localCheckpoint()
        )
        parts.append(cur)
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


def raster_pyramid_sql(pix_cte: str = "pix", grid: int = 512,
                       out: str = "sum_v") -> str:
    """DuckDB mirror: each level grouped directly from the band
    (associativity of SUM makes the iterative and direct forms equal)."""
    import math

    top = int(math.log2(grid))
    selects = []
    for lvl in range(top, -1, -1):
        k = 1 << (top - lvl)
        selects.append(
            f"SELECT {lvl} AS level, px // {k} AS px, py // {k} AS py,"
            f" CAST(SUM(value) AS BIGINT) AS {out}"
            f" FROM {pix_cte} GROUP BY 1, 2, 3")
    return "\nUNION ALL\n".join(selects)
