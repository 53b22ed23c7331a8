"""Douglas–Peucker line/ring simplification, batched and worklist-driven.

The pyramid path (tiling.pyramid_assign → encode) re-draws the same
geometry at every zoom; at low zooms most vertices are sub-pixel. The
reference codec keeps whatever you give it — simplification, like
clipping, is engine-side (the tippecanoe/geojson-vt step between
assignment and encode).

Scale shape: classic DP is a per-part recursion, useless across a
10k-feature Arrow batch. Here the recursion is flattened into a
WORKLIST of (start, end) spans over the batch's flat point buffer —
each iteration gathers every active span's interior points with one
segmented arange, computes all perpendicular distances in one numpy
pass, finds each span's first-max via a segmented reduction, keeps
the splitters above tolerance, and pushes the sub-spans. Iterations
are O(max split depth) (~log n typical), each fully vectorized across
the batch — the same discipline as the union-find pointer jumping in
textops.

Rings are simplified cyclically: the closed ring r0..r0 is treated as
a polyline anchored at r0 and at its farthest vertex (the standard
closed-curve split), so the closing point survives and winding is
preserved. Degenerate outputs (ring < 3 distinct points, part < 2)
are dropped; a polygon feature must keep one positive-area ring, the
same contract as clip.py.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np

from pyspark.sql import DataFrame

from ..mvt import geometry as G
from .clip import _flat_parts, _rebuild_parts, _seg_take, _seg_sums

__all__ = ["dp_mask", "simplify_features", "tolerance_for_zoom"]


def tolerance_for_zoom(z: int, max_zoom: int, base: float = 1.0) -> float:
    """One tile-unit at max_zoom spans 2^(max_zoom - z) units at z —
    the pyramid's natural per-level tolerance ladder."""
    return base * float(1 << (max_zoom - z))


# ------------------------------------------------------------------ kernel


def dp_mask(
    px: np.ndarray,
    py: np.ndarray,
    s0: np.ndarray,
    e0: np.ndarray,
    tol: float,
) -> np.ndarray:
    """Batched Douglas–Peucker keep-mask.

    px/py: flat float64 points; (s0, e0): initial span endpoints
    (global indices, inclusive) — one span per open polyline, two per
    ring (anchored). Endpoint indices are always kept. Returns a bool
    mask over px.
    """
    n = px.size
    keep = np.zeros(n, dtype=bool)
    keep[s0] = True
    keep[e0] = True
    S = s0.astype(np.int64)
    E = e0.astype(np.int64)
    tol2 = float(tol) * float(tol)
    while S.size:
        inner = E - S - 1
        act = inner > 0
        S, E = S[act], E[act]
        if S.size == 0:
            break
        inner = E - S - 1
        idx = _seg_take(S + 1, inner)
        seg_id = np.repeat(np.arange(S.size), inner)
        ax, ay = px[S][seg_id], py[S][seg_id]
        dx = px[E][seg_id] - ax
        dy = py[E][seg_id] - ay
        qx = px[idx] - ax
        qy = py[idx] - ay
        cross = qx * dy - qy * dx
        L2 = dx * dx + dy * dy
        # squared perpendicular distance; zero-length base falls back
        # to squared point distance
        d2 = np.where(L2 > 0, (cross * cross) / np.where(L2 > 0, L2, 1.0),
                      qx * qx + qy * qy)
        off = np.zeros(S.size + 1, dtype=np.int64)
        np.cumsum(inner, out=off[1:])
        mx = np.maximum.reduceat(d2, off[:-1])
        # first index attaining the max per span (deterministic ties)
        hit = d2 == mx[seg_id]
        first = np.zeros(S.size, dtype=np.int64)
        u, ui = np.unique(seg_id[hit], return_index=True)
        first[u] = np.flatnonzero(hit)[ui]
        split = mx > tol2
        sp = np.flatnonzero(split)
        if sp.size == 0:
            break
        M = idx[first[sp]]
        keep[M] = True
        S = np.concatenate([S[sp], M])
        E = np.concatenate([M, E[sp]])
    return keep


# ---------------------------------------------------------- DataFrame op


def simplify_features(features: DataFrame, tolerance: float) -> DataFrame:
    """Simplify every feature's parts with tolerance in tile units.
    Schema-preserving, one mapInArrow pass, no shuffle; points pass
    through untouched. Degenerate results are dropped like clip.py.
    """
    import pyarrow as pa

    schema = features.schema
    tol = float(tolerance)

    def run_rows(tbl, rows, gtype):
        sub = tbl.take(pa.array(rows, pa.int64()))
        col = sub.column("parts").combine_chunks()
        o1, o2, x, y = _flat_parts(col)
        nf = len(rows)
        p_start = o2[o1[0]:o1[nf]]
        p_end = o2[o1[0] + 1:o1[nf] + 1]
        pcnt = o1[1:nf + 1] - o1[:nf]
        lens = p_end - p_start
        take = _seg_take(p_start, lens)
        px = x[take].astype(np.float64)
        py = y[take].astype(np.float64)
        poff = np.zeros(lens.size + 1, dtype=np.int64)
        np.cumsum(lens, out=poff[1:])
        fst = poff[:-1]
        lst = poff[1:] - 1
        nz = lens > 0
        if gtype == G.GEOM_POLYGON:
            # anchor: farthest interior vertex from the ring start
            n = px.size
            d2 = (px - px[np.repeat(fst, lens)]) ** 2 \
                + (py - py[np.repeat(fst, lens)]) ** 2
            d2w = d2.copy()
            d2w[fst[nz]] = -1.0
            d2w[lst[nz]] = -1.0
            mx = np.full(lens.size, -1.0)
            mx[nz] = np.maximum.reduceat(d2w, fst[nz]) if nz.any() else 0
            part_id = np.repeat(np.arange(lens.size), lens)
            hit = d2w == mx[part_id]
            far = lst.copy()
            u, ui = np.unique(part_id[hit], return_index=True)
            far[u] = np.flatnonzero(hit)[ui]
            ok = nz & (lens >= 4)
            s0 = np.concatenate([fst[ok], far[ok]])
            e0 = np.concatenate([far[ok], lst[ok]])
        else:
            ok = nz & (lens >= 2)
            s0, e0 = fst[ok], lst[ok]
        keep = dp_mask(px, py, s0, e0, tol) if s0.size else \
            np.zeros(px.size, dtype=bool)
        # small parts that never entered the worklist pass through
        small = ~ok & nz
        if small.any():
            keep |= np.repeat(small, lens)
        klen = _seg_sums(keep.astype(np.float64), poff).astype(np.int64)
        if gtype == G.GEOM_POLYGON:
            part_ok = klen >= 4  # closed: 3 distinct + closing dup
        else:
            part_ok = klen >= 2
        feat_of_part = np.repeat(np.arange(nf), pcnt)
        if gtype == G.GEOM_POLYGON:
            # positive-area requirement on kept rings
            ks = np.flatnonzero(keep)
            csum = np.zeros(px.size + 1, dtype=np.int64)
            np.cumsum(keep, out=csum[1:])
            koff = csum[poff]
            kx, ky = px[ks], py[ks]
            m = kx.size
            if m:
                nxt = np.arange(1, m + 1, dtype=np.int64)
                kl = np.diff(koff)
                knz = kl > 0
                nxt[koff[1:][knz] - 1] = koff[:-1][knz]
                cr = kx * ky[nxt] - kx[nxt] * ky
                a2 = _seg_sums(cr, koff)
            else:
                a2 = np.zeros(klen.size)
            has_outer = np.zeros(nf, dtype=bool)
            sel = part_ok & (a2 > 0)
            has_outer[feat_of_part[sel]] = True
            feat_ok = has_outer
        else:
            per = np.bincount(feat_of_part[part_ok], minlength=nf)
            feat_ok = per > 0
        part_keep = part_ok & feat_ok[feat_of_part]
        kp = np.flatnonzero(part_keep)
        keep &= np.repeat(part_keep, lens)
        ks = np.flatnonzero(keep)
        gx = x[take][ks]
        gy = y[take][ks]
        pt_off = np.zeros(kp.size + 1, dtype=np.int64)
        np.cumsum(klen[kp], out=pt_off[1:])
        keep_rows = np.flatnonzero(feat_ok)
        ppf = np.bincount(feat_of_part[part_keep], minlength=nf)
        f_off = np.zeros(keep_rows.size + 1, dtype=np.int64)
        np.cumsum(ppf[keep_rows], out=f_off[1:])
        parts = _rebuild_parts(gx, gy, pt_off, f_off, pa)
        return np.asarray(rows)[keep_rows], parts

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if tbl.num_rows == 0:
                continue
            gt = tbl.column("geom_type").to_numpy(zero_copy_only=False)
            pi = tbl.schema.get_field_index("parts")
            for gval in (G.GEOM_POLYGON, G.GEOM_LINESTRING):
                rows = np.flatnonzero(gt == gval)
                if rows.size == 0:
                    continue
                kept, parts = run_rows(tbl, rows, gval)
                if kept.size == 0:
                    continue
                out = tbl.take(pa.array(kept, pa.int64()))
                out = out.set_column(
                    pi, tbl.schema.field(pi),
                    parts.cast(tbl.schema.field(pi).type))
                yield from out.to_batches()
            rows = np.flatnonzero(gt == G.GEOM_POINT)
            if rows.size:
                yield from tbl.take(
                    pa.array(rows, pa.int64())).to_batches()

    return features.mapInArrow(fn, schema=schema)
