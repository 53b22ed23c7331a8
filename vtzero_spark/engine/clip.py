"""Tile-boundary geometry clipping, Arrow-native and fully vectorized.

The reference codec round-trips coordinates outside the tile extent
untouched (vtzero fixtures 053-056; vtzero-check only warns beyond
±extent, examples/vtzero-check.cpp:81-88) — clipping is the tiling
*engine's* job, the step every production pipeline (tippecanoe,
geojson-vt) runs between tile assignment and encode. This module is
that step, built for the 100 TB shape:

- **Arrow-native**: ``clip_features`` runs under ``mapInArrow``; the
  nested ``parts: array<array<struct<x,y>>>`` column is consumed as
  its three flat buffers (feature offsets, ring offsets, x/y int64
  children) — no per-point Python objects materialize in either
  direction.
- **Batch kernels**: polygon rings go through Sutherland–Hodgman
  against the four half-planes of the buffered tile rect, vectorized
  across *all rings of the batch at once* per clip edge (the
  emit-count/cumsum/scatter pattern the encoders use); polylines go
  through Liang–Barsky per segment with vectorized run-merging into
  split parts. A 10k-feature batch is ~40 numpy passes total,
  independent of point count per feature.
- **Embarrassingly parallel**: one pass over the features, no shuffle;
  composes after ``tiling.assign_tiles`` (which already owns the
  explode-to-neighbor-tiles step) and before the fused encoders.

Integer discipline: inputs are int64 tile-local coords; intersections
are computed in float64 (exact for the < 2^26 coordinate magnitudes a
tile sees) and rounded half-up. Rounding can collapse segments, so
outputs are consecutive-deduped and degenerate parts dropped — the
encoders (mvt/geometry.py encode_polygon:«zero-length segments»)
reject exactly what this guarantees absent.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np

from pyspark.sql import DataFrame

from ..mvt import geometry as G

__all__ = [
    "clip_rings", "clip_lines", "clip_features",
]


# ------------------------------------------------------------------ kernels


def _round_half_up(v: np.ndarray) -> np.ndarray:
    return np.floor(v + 0.5).astype(np.int64)


def clip_rings(
    px: np.ndarray,
    py: np.ndarray,
    roff: np.ndarray,
    xmin: float, ymin: float, xmax: float, ymax: float,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sutherland–Hodgman clip of a batch of rings to a rect.

    px/py: float64 flat coords of OPEN rings (no closing duplicate),
    roff: int64 ring offsets (R+1). Returns (qx, qy, qoff) with qoff
    again length R+1 — rings keep their slot (possibly empty) so the
    caller's feature/ring bookkeeping never changes. Convex clip of a
    ring yields at most one ring, winding preserved.
    """
    for axis, bound, keep_ge in (
        (0, xmin, True), (0, xmax, False),
        (1, ymin, True), (1, ymax, False),
    ):
        n = px.size
        if n == 0:
            break
        counts = np.diff(roff)
        idx = np.arange(n)
        nxt = idx + 1
        last = roff[1:] - 1
        last = last[counts > 0]
        nxt[last] = roff[:-1][counts > 0]
        c = px if axis == 0 else py
        inside = (c >= bound) if keep_ge else (c <= bound)
        cross = inside != inside[nxt]
        cnt = inside.astype(np.int64) + cross
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(cnt[:-1], out=starts[1:])
        total = starts[-1] + cnt[-1] if n else 0
        ci = np.flatnonzero(cross)
        qx = np.empty(total, dtype=np.float64)
        qy = np.empty(total, dtype=np.float64)
        if ci.size:
            t = (bound - c[ci]) / (c[nxt[ci]] - c[ci])
            ix = px[ci] + t * (px[nxt[ci]] - px[ci])
            iy = py[ci] + t * (py[nxt[ci]] - py[ci])
            if axis == 0:
                ix = np.full(ci.size, float(bound))
            else:
                iy = np.full(ci.size, float(bound))
            IX = np.empty(n, dtype=np.float64)
            IY = np.empty(n, dtype=np.float64)
            IX[ci] = ix
            IY[ci] = iy
            first_is_pt = inside
            fp = np.flatnonzero(first_is_pt)
            qx[starts[fp]] = px[fp]
            qy[starts[fp]] = py[fp]
            fc = np.flatnonzero(cross & ~inside)
            qx[starts[fc]] = IX[fc]
            qy[starts[fc]] = IY[fc]
            sc = np.flatnonzero(cross & inside)
            qx[starts[sc] + 1] = IX[sc]
            qy[starts[sc] + 1] = IY[sc]
        else:
            fp = np.flatnonzero(inside)
            qx[starts[fp]] = px[fp]
            qy[starts[fp]] = py[fp]
        csum = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(cnt, out=csum[1:])
        roff = csum[roff]
        px, py = qx, qy
    return px, py, roff


def clip_lines(
    px: np.ndarray,
    py: np.ndarray,
    loff: np.ndarray,
    xmin: float, ymin: float, xmax: float, ymax: float,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Liang–Barsky clip of a batch of polylines to a rect.

    px/py: float64 flat coords, loff: int64 line offsets (L+1). A
    polyline crossing out and back in splits into multiple parts.
    Returns (qx, qy, part_off, part_line): part_off are offsets into
    qx/qy per OUTPUT part, part_line maps each output part to its
    input line index (non-decreasing).
    """
    n = px.size
    L = loff.size - 1
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return (np.empty(0), np.empty(0), np.zeros(1, dtype=np.int64), z)
    counts = np.diff(loff)
    line_id = np.repeat(np.arange(L), counts)
    # segment i = points (i, i+1) where i is not the last point of a line
    seg_mask = np.ones(n, dtype=bool)
    seg_mask[loff[1:] - 1] = False
    seg = np.flatnonzero(seg_mask)
    x1, y1 = px[seg], py[seg]
    dx, dy = px[seg + 1] - x1, py[seg + 1] - y1
    t0 = np.zeros(seg.size)
    t1 = np.ones(seg.size)
    ok = np.ones(seg.size, dtype=bool)
    for p, q in (
        (-dx, x1 - xmin), (dx, xmax - x1),
        (-dy, y1 - ymin), (dy, ymax - y1),
    ):
        par = p == 0
        ok &= ~(par & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(par, 0.0, q / np.where(par, 1.0, p))
        t0 = np.where(~par & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(~par & (p > 0), np.minimum(t1, r), t1)
    ok &= t0 <= t1
    if not ok.any():
        z = np.zeros(0, dtype=np.int64)
        return (np.empty(0), np.empty(0), np.zeros(1, dtype=np.int64), z)
    ax = x1 + t0 * dx
    ay = y1 + t0 * dy
    bx = x1 + t1 * dx
    by = y1 + t1 * dy
    sl = line_id[seg]
    # segment k-1 chains into k iff same line, both kept, and the
    # shared vertex survived un-clipped on both sides
    prev_chain = np.zeros(seg.size, dtype=bool)
    if seg.size > 1:
        prev_chain[1:] = (
            ok[1:] & ok[:-1]
            & (sl[1:] == sl[:-1]) & (seg[1:] == seg[:-1] + 1)
            & (t1[:-1] == 1.0) & (t0[1:] == 0.0)
        )
    new_part = ok & ~prev_chain
    cnt = np.where(ok, 1 + new_part.astype(np.int64), 0)
    starts = np.zeros(seg.size, dtype=np.int64)
    np.cumsum(cnt[:-1], out=starts[1:])
    total = int(starts[-1] + cnt[-1])
    qx = np.empty(total)
    qy = np.empty(total)
    npi = np.flatnonzero(new_part)
    qx[starts[npi]] = ax[npi]
    qy[starts[npi]] = ay[npi]
    oki = np.flatnonzero(ok)
    qx[starts[oki] + np.where(new_part[oki], 1, 0)] = bx[oki]
    qy[starts[oki] + np.where(new_part[oki], 1, 0)] = by[oki]
    # part boundaries: each new_part begins a part of (1 + run_len) pts
    part_starts = starts[npi]
    part_off = np.concatenate([part_starts, [total]]).astype(np.int64)
    part_line = sl[npi].astype(np.int64)
    return qx, qy, part_off, part_line


def _dedupe_parts(
    qx: np.ndarray, qy: np.ndarray, off: np.ndarray, cyclic: bool,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Drop consecutive duplicate int points per part (cyclically for
    rings). Offsets keep their slots (parts may become empty)."""
    n = qx.size
    if n == 0:
        return qx, qy, off
    counts = np.diff(off)
    idx = np.arange(n)
    prev = idx - 1
    nz = counts > 0
    first = off[:-1][nz]
    if cyclic:
        prev[first] = off[1:][nz] - 1
        keep = (qx != qx[prev]) | (qy != qy[prev])
        # a 1-point ring self-compares equal; keep singletons dead
    else:
        keep = np.ones(n, dtype=bool)
        keep[1:] = (qx[1:] != qx[:-1]) | (qy[1:] != qy[:-1])
        keep[first] = True
    kx, ky = qx[keep], qy[keep]
    csum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(keep.astype(np.int64), out=csum[1:])
    return kx, ky, csum[off]


def _seg_take(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Segmented arange: concatenate(arange(s, s+L) per segment) with
    no per-segment Python (the encoders' gather idiom)."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    within = np.arange(total, dtype=np.int64) - np.repeat(off[:-1], lens)
    return np.repeat(starts.astype(np.int64), lens) + within


def _seg_sums(vals: np.ndarray, off: np.ndarray) -> np.ndarray:
    cs = np.zeros(vals.size + 1, dtype=np.float64)
    np.cumsum(vals, out=cs[1:])
    return cs[off[1:]] - cs[off[:-1]]


# -------------------------------------------------------- Arrow plumbing


def _flat_parts(col):
    """ListArray<ListArray<Struct{x,y}>> -> absolute-offset flat view.

    Offsets reported by pyarrow are already windowed to the (possibly
    sliced) array but index into the UN-sliced child, so using them
    as absolute indices against ``.values`` all the way down is
    correct without rebasing.
    """
    o1 = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    rings = col.values
    o2 = rings.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    st = rings.values
    x = st.field("x").to_numpy(zero_copy_only=False).astype(np.int64)
    y = st.field("y").to_numpy(zero_copy_only=False).astype(np.int64)
    return o1, o2, x, y


def _rebuild_parts(fx, fy, point_off, ring_off, pa):
    st = pa.StructArray.from_arrays(
        [pa.array(fx, pa.int64()), pa.array(fy, pa.int64())], ["x", "y"])
    rings = pa.ListArray.from_arrays(
        pa.array(point_off, pa.int32()), st)
    return pa.ListArray.from_arrays(pa.array(ring_off, pa.int32()), rings)


def _clip_polygon_rows(tbl, rows, bounds, pa):
    """Clip the polygon-feature subset of an Arrow batch; returns
    (kept_row_indices, parts ListArray) for features that survive."""
    xmin, ymin, xmax, ymax = bounds
    sub = tbl.take(pa.array(rows, pa.int64()))
    col = sub.column("parts").combine_chunks()
    o1, o2, x, y = _flat_parts(col)
    nf = len(rows)
    # ring ranges for all rings of these features, absolute into x/y
    r_start = o2[o1[0]:o1[nf]]
    r_end = o2[o1[0] + 1:o1[nf] + 1]
    rcnt = o1[1:nf + 1] - o1[:nf]  # rings per feature
    # build OPEN rings: strip the closing duplicate when present
    closed = (r_end - r_start) >= 2
    has_close = np.zeros(r_start.size, dtype=bool)
    le = r_end - 1
    has_close[closed] = (
        (x[r_start[closed]] == x[le[closed]])
        & (y[r_start[closed]] == y[le[closed]]))
    open_len = (r_end - r_start) - has_close.astype(np.int64)
    roff = np.zeros(r_start.size + 1, dtype=np.int64)
    np.cumsum(open_len, out=roff[1:])
    take = _seg_take(r_start, open_len)
    px = x[take].astype(np.float64)
    py = y[take].astype(np.float64)
    qx, qy, qoff = clip_rings(px, py, roff, xmin, ymin, xmax, ymax)
    ix, iy = _round_half_up(qx), _round_half_up(qy)
    ix, iy, qoff = _dedupe_parts(ix.astype(np.float64),
                                 iy.astype(np.float64), qoff, cyclic=True)
    ix = ix.astype(np.int64)
    iy = iy.astype(np.int64)
    rlen = np.diff(qoff)
    ring_ok = rlen >= 3
    # shoelace (cyclic next within ring), summed per ring
    n = ix.size
    if n:
        nxt = np.arange(1, n + 1, dtype=np.int64)
        nz = rlen > 0
        nxt[qoff[1:][nz] - 1] = qoff[:-1][nz]
        cross = (ix.astype(np.float64) * iy[nxt]
                 - ix[nxt].astype(np.float64) * iy)
        area2 = _seg_sums(cross, qoff)
    else:
        area2 = np.zeros(rlen.size, dtype=np.float64)
    feat_of_ring = np.repeat(np.arange(nf), rcnt)
    # a surviving feature needs at least one positive-area (outer) ring
    has_outer = np.zeros(nf, dtype=bool)
    outer_ok = ring_ok & (area2 > 0)
    has_outer[feat_of_ring[outer_ok]] = True
    feat_ok = has_outer
    ring_keep = ring_ok & feat_ok[feat_of_ring]
    kr = np.flatnonzero(ring_keep)
    # emit kept rings re-closed: len+1 points, closing = first point
    out_len = rlen[kr] + 1
    src = _seg_take(qoff[:-1][kr], out_len)
    # the extra final slot per ring wraps to the ring's first point
    oo = np.zeros(kr.size + 1, dtype=np.int64)
    np.cumsum(out_len, out=oo[1:])
    if kr.size:
        src[oo[1:] - 1] = qoff[:-1][kr]
    gx = ix[src]
    gy = iy[src]
    pt_off = oo
    rings_per_feat = np.bincount(feat_of_ring[ring_keep], minlength=nf)
    keep_rows = np.flatnonzero(feat_ok)
    f_off = np.zeros(keep_rows.size + 1, dtype=np.int64)
    np.cumsum(rings_per_feat[keep_rows], out=f_off[1:])
    parts = _rebuild_parts(gx, gy, pt_off, f_off, pa)
    return np.asarray(rows)[keep_rows], parts


def _clip_line_rows(tbl, rows, bounds, pa):
    xmin, ymin, xmax, ymax = bounds
    sub = tbl.take(pa.array(rows, pa.int64()))
    col = sub.column("parts").combine_chunks()
    o1, o2, x, y = _flat_parts(col)
    nf = len(rows)
    l_start = o2[o1[0]:o1[nf]]
    l_end = o2[o1[0] + 1:o1[nf] + 1]
    lcnt = o1[1:nf + 1] - o1[:nf]
    lens = l_end - l_start
    loff = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=loff[1:])
    take = _seg_take(l_start, lens)
    px = x[take].astype(np.float64)
    py = y[take].astype(np.float64)
    qx, qy, p_off, p_line = clip_lines(px, py, loff, xmin, ymin, xmax, ymax)
    ix = _round_half_up(qx).astype(np.float64)
    iy = _round_half_up(qy).astype(np.float64)
    ix, iy, p_off = _dedupe_parts(ix, iy, p_off, cyclic=False)
    ix = ix.astype(np.int64)
    iy = iy.astype(np.int64)
    plen = np.diff(p_off)
    part_ok = plen >= 2
    kp = np.flatnonzero(part_ok)
    feat_of_line = np.repeat(np.arange(nf), lcnt)
    feat_of_part = feat_of_line[p_line]
    parts_per_feat = np.bincount(feat_of_part[part_ok], minlength=nf)
    feat_ok = parts_per_feat > 0
    keep_rows = np.flatnonzero(feat_ok)
    pt_counts = plen[kp]
    pt_off = np.zeros(kp.size + 1, dtype=np.int64)
    np.cumsum(pt_counts, out=pt_off[1:])
    src = _seg_take(p_off[:-1][kp], pt_counts)
    gx = ix[src]
    gy = iy[src]
    f_off = np.zeros(keep_rows.size + 1, dtype=np.int64)
    np.cumsum(parts_per_feat[keep_rows], out=f_off[1:])
    parts = _rebuild_parts(gx, gy, pt_off, f_off, pa)
    return np.asarray(rows)[keep_rows], parts


def _clip_point_rows(tbl, rows, bounds, pa):
    xmin, ymin, xmax, ymax = bounds
    sub = tbl.take(pa.array(rows, pa.int64()))
    col = sub.column("parts").combine_chunks()
    o1, o2, x, y = _flat_parts(col)
    nf = len(rows)
    p_start = o2[o1[0]:o1[nf]]  # one part per point feature (multi ok)
    p_end = o2[o1[0] + 1:o1[nf] + 1]
    pcnt = o1[1:nf + 1] - o1[:nf]
    take = _seg_take(p_start, p_end - p_start)
    vx, vy = x[take], y[take]
    keep = ((vx >= xmin) & (vx <= xmax) & (vy >= ymin) & (vy <= ymax))
    lens = p_end - p_start
    part_of_pt = np.repeat(np.arange(lens.size), lens)
    kept_per_part = np.bincount(part_of_pt[keep], minlength=lens.size)
    part_ok = kept_per_part > 0
    feat_of_part = np.repeat(np.arange(nf), pcnt)
    parts_per_feat = np.bincount(feat_of_part[part_ok], minlength=nf)
    feat_ok = parts_per_feat > 0
    keep_rows = np.flatnonzero(feat_ok)
    part_sel = part_ok & feat_ok[feat_of_part]
    kpp = kept_per_part[part_sel]
    pt_off = np.zeros(kpp.size + 1, dtype=np.int64)
    np.cumsum(kpp, out=pt_off[1:])
    sel_pts = keep & part_sel[part_of_pt]
    gx = vx[sel_pts]
    gy = vy[sel_pts]
    f_off = np.zeros(keep_rows.size + 1, dtype=np.int64)
    np.cumsum(parts_per_feat[keep_rows], out=f_off[1:])
    parts = _rebuild_parts(gx, gy, pt_off, f_off, pa)
    return np.asarray(rows)[keep_rows], parts


# ---------------------------------------------------------- DataFrame op


def clip_batches(b: tuple):
    """Batch-iterator form of clip_features (for composition with a
    downstream Arrow stage in ONE mapInArrow — the clipped batches
    then never re-cross the JVM boundary between the two kernels)."""
    import pyarrow as pa

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if tbl.num_rows == 0:
                continue
            gt = tbl.column("geom_type").to_numpy(zero_copy_only=False)
            pi = tbl.schema.get_field_index("parts")
            outs = []
            for gval, clipfn in (
                (G.GEOM_POLYGON, _clip_polygon_rows),
                (G.GEOM_LINESTRING, _clip_line_rows),
                (G.GEOM_POINT, _clip_point_rows),
            ):
                rows = np.flatnonzero(gt == gval)
                if rows.size == 0:
                    continue
                kept, parts = clipfn(tbl, rows, b, pa)
                if kept.size == 0:
                    continue
                out = tbl.take(pa.array(kept, pa.int64()))
                out = out.set_column(
                    pi, tbl.schema.field(pi),
                    parts.cast(tbl.schema.field(pi).type))
                outs.append(out)
            for out in outs:
                yield from out.to_batches()

    return fn


def clip_features(
    features: DataFrame,
    extent: int = 4096,
    buffer: int = 0,
    bounds: tuple | None = None,
) -> DataFrame:
    """Clip every feature's ``parts`` to the buffered tile rect
    ``[-buffer, extent+buffer]²`` (or an explicit ``bounds``
    (xmin, ymin, xmax, ymax)). Schema-preserving; features whose
    geometry vanishes are dropped; polylines may split into more
    parts. One mapInArrow pass, no shuffle.
    """
    b = bounds if bounds is not None else (
        -buffer, -buffer, extent + buffer, extent + buffer)
    return features.mapInArrow(clip_batches(b), schema=features.schema)
