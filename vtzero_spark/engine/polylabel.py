"""Pole of inaccessibility — label-point placement for polygons.

Implements the published mapbox/polylabel quadtree refinement
(https://github.com/mapbox/polylabel, algorithm described in the
Mapbox blog post "A new algorithm for finding a visual center of a
polygon") from its public description, re-shaped for batch execution:
instead of a scalar priority queue popping one cell at a time, each
refinement LEVEL evaluates its whole frontier of candidate cells in
one vectorized signed-distance pass (every candidate against every
polygon edge), updates the running best, prunes cells whose
``d + h*sqrt(2)`` potential cannot beat ``best + precision``, and
splits the survivors four ways. The result carries the same
guarantee as the reference algorithm — the returned clearance is
within ``precision`` of the true pole's — because a cell is only
discarded when its potential proves it cannot improve the answer by
more than ``precision``.

Semantics over MVT parts: a polygon feature's ``parts`` column holds
ALL its rings (outers + holes, multipolygons included). Containment
is the even-odd rule over the full ring set, so holes and multiple
shells need no winding bookkeeping and the pole is the global one
across components — the same containment rule geomops uses for ring
classification (reference geometry.hpp:161-169 defines winding; the
even-odd point test is winding-agnostic).

Why this is the 100 TB shape: the operator is one ``mapInArrow``
pass with NO shuffle — each feature's refinement is independent, the
per-level frontier evaluation is a dense numpy kernel (points x
edges), and output size equals input size. Label placement is
per-feature adaptive, so cross-feature batching buys nothing; the
vectorization lives inside the refinement loop where the work is.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from ..mvt import geometry as G

_SQRT2 = float(np.sqrt(2.0))

# cap on (candidate x edge) temp matrix elements per distance pass;
# past this the frontier is evaluated in chunks (8 MB of float64)
_CHUNK_ELEMS = 1_000_000


# ------------------------------------------------------------ kernel


def _segments(px: np.ndarray, py: np.ndarray, roff: np.ndarray):
    """Edge arrays (ax, ay, bx, by) for rings given as flat points +
    offsets. Rings may arrive closed (last == first, the parts
    convention) or open — an explicit closing edge is added only
    where missing, and zero-length edges are harmless to both the
    distance and the crossing test."""
    n = px.size
    if n == 0:
        z = np.zeros(0, dtype=np.float64)
        return z, z, z, z
    ax = px.astype(np.float64).copy()
    ay = py.astype(np.float64).copy()
    bx = np.empty_like(ax)
    by = np.empty_like(ay)
    bx[:-1] = ax[1:]
    by[:-1] = ay[1:]
    # each ring's last point connects back to its first
    last = roff[1:] - 1
    first = roff[:-1]
    ok = last >= first  # non-empty rings
    bx[last[ok]] = ax[first[ok]]
    by[last[ok]] = ay[first[ok]]
    return ax, ay, bx, by


def _signed_dist(qx: np.ndarray, qy: np.ndarray,
                 ax: np.ndarray, ay: np.ndarray,
                 bx: np.ndarray, by: np.ndarray) -> np.ndarray:
    """Signed Euclidean distance of query points to the polygon
    boundary: positive inside (even-odd over all rings), negative
    outside. Vectorized (chunk x edges); chunked so the temp stays
    bounded regardless of frontier size."""
    m = ax.size
    out = np.empty(qx.size, dtype=np.float64)
    if m == 0:
        out.fill(-np.inf)
        return out
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    safe = np.where(len2 == 0.0, 1.0, len2)
    step = max(1, _CHUNK_ELEMS // m)
    for s in range(0, qx.size, step):
        cqx = qx[s:s + step, None]
        cqy = qy[s:s + step, None]
        t = ((cqx - ax) * dx + (cqy - ay) * dy) / safe
        np.clip(t, 0.0, 1.0, out=t)
        ex = ax + t * dx - cqx
        ey = ay + t * dy - cqy
        d2 = np.min(ex * ex + ey * ey, axis=1)
        # even-odd crossing count: edge straddles the horizontal ray
        cross = (ay > cqy) != (by > cqy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax + dx * (cqy - ay) / np.where(dy == 0.0, 1.0, dy)
        inside = (np.sum(cross & (cqx < xint), axis=1) % 2) == 1
        out[s:s + step] = np.where(inside, 1.0, -1.0) * np.sqrt(d2)
    return out


def _centroid(px: np.ndarray, py: np.ndarray,
              roff: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid over all rings (holes self-cancel via
    signed shoelace terms); falls back to the vertex mean for
    zero-area input."""
    x0 = px.astype(np.float64)
    y0 = py.astype(np.float64)
    x1 = np.empty_like(x0)
    y1 = np.empty_like(y0)
    x1[:-1] = x0[1:]
    y1[:-1] = y0[1:]
    last = roff[1:] - 1
    first = roff[:-1]
    ok = last >= first
    x1[last[ok]] = x0[first[ok]]
    y1[last[ok]] = y0[first[ok]]
    cr = x0 * y1 - x1 * y0
    a = cr.sum()
    if a == 0.0:
        return float(x0.mean()), float(y0.mean())
    return (float(((x0 + x1) * cr).sum() / (3.0 * a)),
            float(((y0 + y1) * cr).sum() / (3.0 * a)))


def polylabel_flat(px: np.ndarray, py: np.ndarray, roff: np.ndarray,
                   precision: float = 1.0) -> tuple[float, float, float]:
    """Pole of inaccessibility for one polygon given as flat ring
    points + offsets. Returns (x, y, clearance); clearance is within
    ``precision`` of the true maximum. Deterministic: ties resolve
    to the first candidate in level order."""
    if px.size == 0:
        return 0.0, 0.0, 0.0
    minx, maxx = float(px.min()), float(px.max())
    miny, maxy = float(py.min()), float(py.max())
    w, h = maxx - minx, maxy - miny
    size = min(w, h)
    if size == 0.0:
        return (minx + maxx) / 2.0, (miny + maxy) / 2.0, 0.0
    ax, ay, bx, by = _segments(px, py, roff)

    # seed candidates: the area centroid and the bbox center (the
    # reference algorithm's two zero-radius probes)
    scx, scy = _centroid(px, py, roff)
    seeds_x = np.array([scx, (minx + maxx) / 2.0])
    seeds_y = np.array([scy, (miny + maxy) / 2.0])
    sd = _signed_dist(seeds_x, seeds_y, ax, ay, bx, by)
    bi = int(np.argmax(sd))
    best_d = float(sd[bi])
    best_x = float(seeds_x[bi])
    best_y = float(seeds_y[bi])

    # initial frontier: square cells of side `size` covering the bbox
    gx = np.arange(minx, maxx, size, dtype=np.float64)
    gy = np.arange(miny, maxy, size, dtype=np.float64)
    half = size / 2.0
    fx = (gx[:, None] + half).repeat(gy.size, axis=1).ravel()
    fy = np.broadcast_to(gy + half, (gx.size, gy.size)).ravel().copy()
    fh = half

    # level-synchronous refinement: all frontier cells share one h,
    # so the whole level is a single vectorized distance pass
    for _ in range(64):
        if fx.size == 0 or fh * _SQRT2 <= 0.0:
            break
        d = _signed_dist(fx, fy, ax, ay, bx, by)
        i = int(np.argmax(d))
        if d[i] > best_d:
            best_d = float(d[i])
            best_x = float(fx[i])
            best_y = float(fy[i])
        keep = (d + fh * _SQRT2) - best_d > precision
        if not keep.any():
            break
        kx = fx[keep]
        ky = fy[keep]
        q = fh / 2.0
        fx = np.concatenate([kx - q, kx + q, kx - q, kx + q])
        fy = np.concatenate([ky - q, ky - q, ky + q, ky + q])
        fh = q
    return best_x, best_y, best_d


# ---------------------------------------------------------- DataFrame op


def label_points(features: DataFrame, precision: float = 1.0) -> DataFrame:
    """Label anchor for every POLYGON feature: all input columns
    except ``parts`` ride through, plus ``label_x``/``label_y``/
    ``label_dist`` (clearance, within ``precision`` of optimal).
    Non-polygon features are dropped (labels anchor to the geometry
    for points/lines already). One mapInArrow pass, no shuffle."""
    import pyarrow as pa

    from .clip import _flat_parts

    prec = float(precision)
    keep_fields = [f for f in features.schema.fields if f.name != "parts"]
    out_schema = StructType(keep_fields + [
        StructField("label_x", DoubleType(), False),
        StructField("label_y", DoubleType(), False),
        StructField("label_dist", DoubleType(), False),
    ])
    keep_names = [f.name for f in keep_fields]

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if tbl.num_rows == 0:
                continue
            gt = tbl.column("geom_type").to_numpy(zero_copy_only=False)
            rows = np.flatnonzero(gt == G.GEOM_POLYGON)
            if rows.size == 0:
                continue
            sub = tbl.take(pa.array(rows, pa.int64()))
            o1, o2, x, y = _flat_parts(sub.column("parts").combine_chunks())
            n = rows.size
            lx = np.empty(n, dtype=np.float64)
            ly = np.empty(n, dtype=np.float64)
            ld = np.empty(n, dtype=np.float64)
            for i in range(n):
                r0, r1 = o1[i], o1[i + 1]
                p0, p1 = o2[r0], o2[r1]
                lx[i], ly[i], ld[i] = polylabel_flat(
                    x[p0:p1], y[p0:p1], o2[r0:r1 + 1] - p0, prec)
            cols = [sub.column(nm) for nm in keep_names]
            cols += [pa.array(lx), pa.array(ly), pa.array(ld)]
            names = keep_names + ["label_x", "label_y", "label_dist"]
            yield pa.RecordBatch.from_arrays(
                [c.combine_chunks() if isinstance(c, pa.ChunkedArray)
                 else c for c in cols], names=names)

    return features.mapInArrow(fn, out_schema)
