"""Polygon triangulation (mapbox/earcut re-derived) — tile features to
GPU-ready triangle meshes.

Implements the published earcut algorithm (https://github.com/mapbox/
earcut — ear clipping with hole elimination by bridge splicing, David
Eberly's visible-vertex construction) from its public description,
re-based on EXACT int64 predicates: every convexity test, ear
containment test and bridge visibility comparison is an integer cross
product or a cross-multiplied rational compare — no floats, so the
emitted mesh satisfies an exact conservation law the tests pin:

    sum of signed triangle area2  ==  sum of signed ring area2

(bridge corridors are zero-width, holes subtract via winding; area2 is
the integer shoelace twice-area in the tile convention where OUTER
rings are positive — reference geometry.hpp:161-169 / spec 4.3.3.3).

Output is mapbox/earcut's contract: triangle INDICES into the
feature's flattened vertex buffer (open rings concatenated in input
order), so a renderer uploads the original vertices once and draws
``tri_indices``. Multipolygon features split on positive-area rings
(each outer owns the holes that follow it) and the index lists
concatenate.

Scale shape: one ``mapInArrow`` pass, zero shuffle, output row count
== polygon-feature count; each feature's clip loop is independent and
numpy-vectorizes the candidate containment scan (points x 3 cross
products per ear test). Worst case O(n^2) per feature — tile-extent
features are small; the z-order-hash candidate cull the reference JS
uses for huge rings is the documented upgrade path, not needed at MVT
feature sizes.

Degenerate contract (errors-as-data, the repo discipline): collinear
and duplicate vertices are filtered exactly as earcut's filterPoints
does; rings that collapse below 3 distinct non-collinear vertices
yield no triangles; a remainder on which no exact ear exists (only
possible for self-intersecting input — lint catches those upstream)
forcibly clips the least-area corner and marks the feature
``status='forced'`` instead of failing the task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

from ..mvt import geometry as G


# ------------------------------------------------------------ helpers

def _cross(ax, ay, bx, by, cx, cy) -> int:
    """z of (b-a) x (c-a): > 0 convex corner in outer orientation."""
    return int((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))


class _Poly:
    """Linked-list polygon over local node ids; nodes carry exact
    Python-int coords (arbitrary precision, so every predicate is
    exact by construction) and the GLOBAL vertex-buffer index they
    reference (bridge duplicates share the original index, earcut's
    contract). Plain lists beat numpy at tile-feature sizes — the
    kernel's hot loop is tens of nodes, where ndarray call overhead
    dominates actual arithmetic."""

    __slots__ = ("x", "y", "gi", "nxt", "prv", "n")

    def __init__(self, cap: int):
        self.x: list[int] = []
        self.y: list[int] = []
        self.gi: list[int] = []
        self.nxt: list[int] = []
        self.prv: list[int] = []
        self.n = 0

    def add_cycle(self, xs: list, ys: list, gis: list,
                  reverse: bool) -> int:
        """Append a closed cycle of nodes (plain int lists); returns
        its first node id."""
        k = len(xs)
        base = self.n
        if reverse:
            xs, ys, gis = xs[::-1], ys[::-1], gis[::-1]
        self.x.extend(xs)
        self.y.extend(ys)
        self.gi.extend(gis)
        self.nxt.extend(range(base + 1, base + k))
        self.nxt.append(base)
        self.prv.append(base + k - 1)
        self.prv.extend(range(base, base + k - 1))
        self.n = base + k
        return base

    def dup(self, node: int) -> int:
        i = self.n
        self.x.append(self.x[node])
        self.y.append(self.y[node])
        self.gi.append(self.gi[node])
        self.nxt.append(-1)
        self.prv.append(-1)
        self.n = i + 1
        return i

    def remove(self, node: int) -> None:
        p, q = self.prv[node], self.nxt[node]
        self.nxt[p] = q
        self.prv[q] = p

    def cycle(self, start: int) -> list[int]:
        out = [start]
        p = self.nxt[start]
        while p != start:
            out.append(p)
            p = self.nxt[p]
        return out


def _filter_points(P: _Poly, start: int) -> int | None:
    """earcut filterPoints: drop duplicate neighbours and exactly
    collinear corners until stable; None if fewer than 3 survive."""
    again = True
    p = start
    while again:
        again = False
        q = p
        while True:
            a, b = P.prv[q], P.nxt[q]
            if (P.x[q] == P.x[b] and P.y[q] == P.y[b]) or _cross(
                    P.x[a], P.y[a], P.x[q], P.y[q],
                    P.x[b], P.y[b]) == 0:
                P.remove(q)
                if b == q or P.nxt[b] == P.prv[b]:
                    pass
                p = P.prv[q]
                q = p
                if P.nxt[q] == q or P.nxt[P.nxt[q]] == q:
                    return None
                again = True
                break
            q = P.nxt[q]
            if q == p:
                break
    return p


def _locally_inside(P: _Poly, a: int, bx: int, by: int) -> bool:
    """Is the direction a->(bx,by) locally inside the polygon at
    corner a (earcut locallyInside, exact)."""
    pa, na = P.prv[a], P.nxt[a]
    if _cross(P.x[pa], P.y[pa], P.x[a], P.y[a],
              P.x[na], P.y[na]) >= 0:
        return (_cross(P.x[a], P.y[a], bx, by,
                       P.x[na], P.y[na]) >= 0
                and _cross(P.x[a], P.y[a], P.x[pa], P.y[pa],
                           bx, by) >= 0)
    return (_cross(P.x[a], P.y[a], bx, by,
                   P.x[pa], P.y[pa]) < 0
            or _cross(P.x[a], P.y[a], P.x[na], P.y[na],
                      bx, by) < 0)


def _find_bridge(P: _Poly, outer: int, hx: int, hy: int) -> int:
    """David Eberly's visible-vertex search (earcut findHoleBridge),
    exact: the leftward ray from the hole's leftmost vertex M hits the
    closest outer edge; rational intersection abscissae compare by
    cross-multiplication; the second phase picks the best reflex
    vertex inside the candidate triangle by exact tan comparison."""
    best = -1
    qn = qd = None  # best intersection x as fraction qn/qd, qd > 0
    p = outer
    while True:
        nx_ = P.nxt[p]
        py, ny = int(P.y[p]), int(P.y[nx_])
        if (py >= hy >= ny) and ny != py:
            # x = px + (hy - py) * (nxx - px) / (ny - py)
            den = ny - py
            num = int(P.x[p]) * den + (hy - py) * (int(P.x[nx_]) - int(P.x[p]))
            if den < 0:
                num, den = -num, -den
            # x <= hx  <=>  num <= hx * den
            if num <= hx * den and (qn is None or num * qd > qn * den):
                qn, qd = num, den
                best = p if P.x[p] < P.x[nx_] else nx_
                if num == hx * den:
                    return best  # hole touches outer exactly
        p = nx_
        if p == outer:
            break
    if best == -1:
        return -1
    # phase 2: reflex outer vertices inside triangle (hole M, ray hit,
    # bridge candidate); pick min |tan|, exact compare
    stop = best
    mx, my = int(P.x[best]), int(P.y[best])
    tn = td = None  # best tan fraction
    p = best
    while True:
        px, py = int(P.x[p]), int(P.y[p])
        if hx >= px >= mx and hx != px:
            # inside triangle ((hy<my? hx:qx), hy), (mx,my), ((hy<my? qx:hx), hy)
            qx_n, qx_d = qn, qd
            ax_n = hx * qx_d if hy < my else qx_n
            cx_n = qx_n if hy < my else hx * qx_d
            # all coords scaled by qx_d (>0) for exactness
            s = qx_d
            if _pit(ax_n, hy * s, mx * s, my * s, cx_n, hy * s,
                    px * s, py * s):
                # tan = |hy - py| / (hx - px)
                cn, cd = abs(hy - py), hx - px
                if _locally_inside(P, p, hx, hy) and (
                        tn is None or cn * td < tn * cd or
                        (cn * td == tn * cd and px > mx)):
                    best, tn, td = p, cn, cd
                    mx, my = px, py
        p = P.nxt[p]
        if p == stop:
            break
    return best


def _pit(ax, ay, bx, by, cx, cy, px, py) -> bool:
    """Point in (or on) triangle, orientation-agnostic, exact."""
    d1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    d2 = (cx - bx) * (py - by) - (cy - by) * (px - bx)
    d3 = (ax - cx) * (py - cy) - (ay - cy) * (px - cx)
    return not ((d1 < 0 or d2 < 0 or d3 < 0) and
                (d1 > 0 or d2 > 0 or d3 > 0))


def _clip(P: _Poly, start: int, out: list[int]) -> str:
    """Ear-clip the cycle at ``start``; appends global index triples.
    Returns 'ok', or 'forced' if a remainder had no exact ear (only
    reachable for non-simple input).

    Classic reflex-set optimization: only reflex-or-straight vertices
    can block an ear (earcut's isEar candidate rule), so the
    containment scan runs over the REFLEX SET — near O(1) per ear for
    real tile shapes (a bridged donut carries a handful of reflex
    corners) instead of O(n). Clipping an ear re-tests just the two
    neighbours; everything is Python ints — exact at any magnitude,
    and faster than ndarray dispatch below ~1k vertices."""
    status = "ok"
    p = _filter_points(P, start)
    if p is None:
        return status
    X, Y, GI, NXT, PRV = P.x, P.y, P.gi, P.nxt, P.prv

    def corner(v: int) -> int:
        a, c = PRV[v], NXT[v]
        return ((X[v] - X[a]) * (Y[c] - Y[a])
                - (Y[v] - Y[a]) * (X[c] - X[a]))

    nodes = P.cycle(p)
    remaining = len(nodes)
    reflex = {v for v in nodes if corner(v) <= 0}
    guard = 4 * remaining + 16
    v = p
    misses = 0
    while remaining > 3:
        guard -= 1
        if guard < 0:
            return "forced"
        if v in reflex:
            v = NXT[v]
            misses += 1
        else:
            a, c = PRV[v], NXT[v]
            ax, ay = X[a], Y[a]
            bx, by = X[v], Y[v]
            cx, cy = X[c], Y[c]
            blocked = False
            for q in reflex:
                if q == a or q == c:
                    continue
                qx, qy = X[q], Y[q]
                d1 = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
                if d1 < 0:
                    continue
                d2 = (cx - bx) * (qy - by) - (cy - by) * (qx - bx)
                if d2 < 0:
                    continue
                d3 = (ax - cx) * (qy - cy) - (ay - cy) * (qx - cx)
                if d3 < 0:
                    continue
                blocked = True
                break
            if blocked:
                v = NXT[v]
                misses += 1
            else:
                out.extend((GI[a], GI[v], GI[c]))
                P.remove(v)
                remaining -= 1
                misses = 0
                # neighbours may change class; straight neighbours are
                # degenerate corners — drop them on the spot (the
                # local form of filterPoints)
                c_alive = True
                for w in (a, c):
                    if remaining <= 3:
                        break
                    cw = corner(w)
                    if cw == 0 or (X[w] == X[NXT[w]] and Y[w] == Y[NXT[w]]):
                        reflex.discard(w)
                        P.remove(w)
                        remaining -= 1
                        if w == c:
                            c_alive = False
                    elif cw <= 0:
                        reflex.add(w)
                    else:
                        reflex.discard(w)
                # removed nodes keep valid nxt pointers into the live
                # cycle, so NXT[c] is live even when c was dropped
                v = c if c_alive else NXT[c]
                continue
        if misses > remaining:
            # no exact ear on a full sweep: non-simple remainder —
            # clip the most-convex corner anyway and march on
            best, bc = None, None
            w = v
            for _ in range(remaining):
                cw = corner(w)
                if bc is None or cw > bc:
                    best, bc = w, cw
                w = NXT[w]
            a, c = PRV[best], NXT[best]
            if bc > 0:
                out.extend((GI[a], GI[best], GI[c]))
            reflex.discard(best)
            P.remove(best)
            remaining -= 1
            for w in (a, c):
                if corner(w) <= 0:
                    reflex.add(w)
                else:
                    reflex.discard(w)
            v = c
            misses = 0
            status = "forced"
    if remaining == 3:
        a, b, c = P.cycle(v)[:3]
        if _cross(X[a], Y[a], X[b], Y[b], X[c], Y[c]) > 0:
            out.extend((GI[a], GI[b], GI[c]))
    return status


def _split_pinches(xs: list, ys: list, gis: list):
    """Split a self-TOUCHING ring (a coordinate visited twice, the
    pinch-point shape real v1 tiles carry) into sub-cycles at each
    repeated vertex; each sub-cycle is a boundary loop in its own
    right, signed like the region it bounds, so the downstream
    classify/triangulate path stays exact. Emits only loops with >= 3
    vertices (an adjacent duplicate degenerates to nothing)."""
    out = []
    stack = [(xs, ys, gis)]
    while stack:
        rx, ry, rg = stack.pop()
        seen: dict[tuple[int, int], int] = {}
        cut = None
        for k in range(len(rx)):
            xy = (rx[k], ry[k])
            if xy in seen:
                cut = (seen[xy], k)
                break
            seen[xy] = k
        if cut is None:
            if len(rx) >= 3:
                out.append((rx, ry, rg))
            continue
        i, j = cut
        if j - i >= 3:           # the loop between the two visits
            stack.append((rx[i:j], ry[i:j], rg[i:j]))
        if len(rx) - (j - i) >= 3:  # the remainder, one visit kept
            stack.append((rx[:i] + rx[j:], ry[:i] + ry[j:],
                          rg[:i] + rg[j:]))
    return out


def _ring_has_dup(xa: np.ndarray, ya: np.ndarray) -> bool:
    """Any coordinate visited twice? complex-view unique — exact for
    |coord| < 2^53, far beyond any tile/world coordinate."""
    v = np.empty(xa.size, np.complex128)
    v.real = xa
    v.imag = ya
    return np.unique(v).size != xa.size


def _earcut_core(ropen) -> tuple[np.ndarray, str]:
    """Shared core over array rings: ``ropen`` is a list of
    (xs int64 array, ys int64 array, first-global-index) per OPEN
    ring. Pinch splitting takes the slow tuple path only when a
    duplicate coordinate actually exists (real v1 tiles: ~1%)."""
    opened = []   # (xs list, ys list, gis list, a2)
    for xa, ya, gi0 in ropen:
        if xa.size < 3:
            continue
        if _ring_has_dup(xa, ya):
            pieces = _split_pinches(
                xa.tolist(), ya.tolist(),
                list(range(gi0, gi0 + xa.size)))
        else:
            pieces = [(xa.tolist(), ya.tolist(),
                       list(range(gi0, gi0 + xa.size)))]
        for xs, ys, gis in pieces:
            a2 = 0
            x0, y0 = xs[-1], ys[-1]
            for k in range(len(xs)):
                x1, y1 = xs[k], ys[k]
                a2 += x0 * y1 - x1 * y0
                x0, y0 = x1, y1
            if a2 != 0:
                opened.append((xs, ys, gis, a2))

    # group rings into polygons with Mapbox GL's classifyRings rule:
    # the FIRST nonzero ring's sign defines the exterior orientation
    # (spec-v2 tiles always lead positive per 4.3.3.3; v1 tiles — the
    # real streets fixture included — carry flipped-winding features
    # where every ring is a separate polygon); same-sign rings start
    # new polygons, opposite-sign rings are holes of the current one
    groups: list[list[int]] = []
    outer_pos: bool | None = None
    for i, (_, _, _, a2) in enumerate(opened):
        if outer_pos is None:
            outer_pos = a2 > 0
        if (a2 > 0) == outer_pos or not groups:
            groups.append([i])
        else:
            groups[-1].append(i)

    out: list[int] = []
    status = "ok"
    for grp in groups:
        cap = sum(len(opened[i][0]) for i in grp) + 2 * (len(grp) - 1) + 4
        P = _Poly(cap)
        outer = None
        hole_starts = []
        for i in grp:
            xs, ys, gis, a2 = opened[i]
            if outer is None:
                # outer traversed in positive orientation
                outer = P.add_cycle(xs, ys, gis, reverse=a2 < 0)
            else:
                # holes traverse in the SAME stored orientation as the
                # outer so the spliced cycle keeps one winding
                hole_starts.append(P.add_cycle(xs, ys, gis,
                                               reverse=a2 > 0))
        if outer is None:
            continue
        # leftmost-first hole elimination (earcut's ordering)
        def leftmost(h: int) -> tuple[int, int, int]:
            best = h
            p = P.nxt[h]
            while p != h:
                if (P.x[p] < P.x[best] or
                        (P.x[p] == P.x[best] and P.y[p] < P.y[best])):
                    best = p
                p = P.nxt[p]
            return (int(P.x[best]), int(P.y[best]), best)

        for _, _, m in sorted(leftmost(h) for h in hole_starts):
            b = _find_bridge(P, outer, int(P.x[m]), int(P.y[m]))
            if b < 0:
                status = "forced"  # hole outside outer: drop it
                continue
            # splice: outer ... b, b2 ... with m's cycle between
            b2 = P.dup(b)
            m2 = P.dup(m)
            # b -> m ... m2 -> b2 -> (old b.next)
            bn = P.nxt[b]
            mp = P.prv[m]
            P.nxt[b] = m
            P.prv[m] = b
            P.nxt[m2] = b2
            P.prv[b2] = b2  # fixed below
            P.nxt[mp] = m2
            P.prv[m2] = mp
            P.prv[b2] = m2
            P.nxt[b2] = bn
            P.prv[bn] = b2
        st = _clip(P, outer, out)
        if st != "ok":
            status = st
    return np.asarray(out, dtype=np.int64), status


# ---------------------------------------------------------- Spark op

def triangulate(features: DataFrame) -> DataFrame:
    """Triangle mesh for every POLYGON feature: all columns except
    ``parts`` ride through, plus ``tri_indices`` (flat int array, 3
    per triangle, indexing the feature's concatenated open-ring vertex
    buffer), ``n_tris`` and ``status``. Non-polygon features are
    dropped. One mapInArrow pass, no shuffle."""
    import pyarrow as pa

    from .clip import _flat_parts

    keep_fields = [f for f in features.schema.fields if f.name != "parts"]
    out_schema = StructType(keep_fields + [
        StructField("tri_indices", ArrayType(IntegerType(), False), False),
        StructField("n_tris", IntegerType(), False),
        StructField("status", StringType(), False),
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
            tris: list[np.ndarray] = []
            stats: list[str] = []
            for i in range(n):
                r0, r1 = o1[i], o1[i + 1]
                ropen = []
                off = 0
                for j in range(r0, r1):
                    s, e = o2[j], o2[j + 1]
                    if e - s >= 2 and x[s] == x[e - 1] \
                            and y[s] == y[e - 1]:
                        e -= 1  # strip the closing duplicate
                    ropen.append((x[s:e], y[s:e], off))
                    off += e - s
                idx, st = _earcut_core(ropen)
                tris.append(idx)
                stats.append(st)
            lens = np.array([t.size for t in tris], np.int32)
            flat = (np.concatenate(tris) if tris else
                    np.zeros(0, np.int64)).astype(np.int32)
            tri_col = pa.ListArray.from_arrays(
                pa.array(np.concatenate([[0], np.cumsum(lens)]), pa.int32()),
                pa.array(flat, pa.int32()))
            cols = [sub.column(nm) for nm in keep_names]
            cols += [tri_col, pa.array((lens // 3).astype(np.int32)),
                     pa.array(stats, pa.string())]
            yield pa.RecordBatch.from_arrays(
                [c.combine_chunks() if isinstance(c, pa.ChunkedArray)
                 else c for c in cols],
                names=keep_names + ["tri_indices", "n_tris", "status"])

    return features.mapInArrow(fn, out_schema)
