"""Polygon / linestring footprints and the distributed geometry decoder.

vtzero's decoder is a push-based visitor over one geometry at a time
(/root/reference/include/vtzero/geometry.hpp:176-381); the distributed
analog is an Arrow-batched `mapInPandas` over decoded feature rows that
materializes per-feature geometry statistics (point counts, coordinate
sums, signed ring areas per geometry.hpp:120-123,161-169). Footprint
construction itself is pure column math (no UDF): each image's
rectangle / polyline is assembled with `F.array`/`F.struct`, so
Catalyst keeps the whole build inside whole-stage codegen and the only
Python crossing is the MVT codec itself.

Ring orientation: vtzero classifies a ring by the sign of the shoelace
sum (outer > 0 in its y-down integer space, geometry.hpp:161-169); the
rectangle ring below is emitted in the +area order, so every footprint
is a single outer ring.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..mvt import geometry as G
from ..mvt.errors import MVTError

GEOM_STATS_SCHEMA = (
    "z long, x long, y long, layer_name string, feature_id long, "
    "geom_type int, n_parts int, n_points long, sum_x long, sum_y long, "
    "area2 long, cxn long, cyn long, decode_status string"
)


def _pt(xe, ye):
    return F.struct(xe.cast("long").alias("x"), ye.cast("long").alias("y"))


def rect_ring(x0, y0, w, h):
    """Closed rectangle ring with positive (outer) shoelace area in
    vtzero's y-down convention: (x0,y0) -> (x0+w,y0) -> (x0+w,y0+h)
    -> (x0,y0+h) -> close."""
    return F.array(
        _pt(x0, y0),
        _pt(x0 + w, y0),
        _pt(x0 + w, y0 + h),
        _pt(x0, y0 + h),
        _pt(x0, y0),
    )


def rect_footprint_features(assigned: DataFrame) -> DataFrame:
    """Tile-assigned images -> polygon features: each image covers the
    rectangle (loc_x, loc_y) .. (loc_x + w, loc_y + h) in tile-local
    units (corners may exceed the extent; vtzero round-trips such
    coordinates untouched, fixtures 053-056)."""
    x0, y0 = F.col("loc_x").cast("long"), F.col("loc_y").cast("long")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    return assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        F.lit(G.GEOM_POLYGON).alias("geom_type"),
        F.array(rect_ring(x0, y0, w, h)).alias("parts"),
    )


def _zz(c):
    """Plan-side zigzag32 of a long column (stays in codegen)."""
    c = c.cast("long")
    return (
        F.shiftleft(c, 1).bitwiseXOR(F.shiftright(c, 63))
        .bitwiseAND(F.lit(0xFFFFFFFF).cast("long"))
    )


def rect_cmds(x0, y0, w, h):
    """MVT command stream of the rectangle ring (x0,y0)..(x0+w,y0+h)
    as a pure column expression — byte-identical to encode_polygon on
    the same ring (builder.hpp:951-1141 semantics: MoveTo(1),
    LineTo(3), ClosePath; cursor deltas zigzagged)."""
    zero = F.lit(0).cast("long")
    return F.array(
        F.lit(9).cast("long"), _zz(x0), _zz(y0),
        F.lit((3 << 3) | 2).cast("long"),
        _zz(w), zero, zero, _zz(h), _zz(-w), zero,
        F.lit(15).cast("long"),
    )


def donut_cmds(x0, y0, w, h):
    """Command stream of a TWO-ring polygon (donut): the outer
    rectangle ring of rect_cmds plus a half-size inner ring inset by a
    quarter on each side, wound the OPPOSITE way — negative shoelace
    area classifies it as an inner ring (geometry.hpp:337-379). The
    inner MoveTo is relative to the outer ring's LAST cursor position
    (x0, y0+h): ClosePath re-emits the first point but does not move
    the cursor (geometry.hpp:373). Pure column math, byte-identical to
    encode_polygon on the same two rings."""
    q = F.floor(w / 4).cast("long")
    r = F.floor(h / 4).cast("long")
    iw = F.floor(w / 2).cast("long")
    ih = F.floor(h / 2).cast("long")
    zero = F.lit(0).cast("long")
    line3 = F.lit((3 << 3) | 2).cast("long")
    return F.array(
        # outer: (x0,y0) -> +w,0 -> 0,+h -> -w,0 -> close  (area > 0)
        F.lit(9).cast("long"), _zz(x0), _zz(y0),
        line3, _zz(w), zero, zero, _zz(h), _zz(-w), zero,
        F.lit(15).cast("long"),
        # inner: (x0+q, y0+r) -> 0,+ih -> +iw,0 -> 0,-ih -> close
        # (reverse winding, area < 0); MoveTo delta from (x0, y0+h)
        F.lit(9).cast("long"), _zz(q), _zz(r - h),
        line3, zero, _zz(ih), _zz(iw), zero, zero, _zz(-ih),
        F.lit(15).cast("long"),
    )


def donut_stream_features(assigned: DataFrame) -> DataFrame:
    """Tile-assigned images -> 2-ring polygon features (outer + hole)
    as pre-built command streams for encode_geom_tiles."""
    x0, y0 = F.col("loc_x").cast("long"), F.col("loc_y").cast("long")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    return assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        F.lit(G.GEOM_POLYGON).alias("geom_type"),
        donut_cmds(x0, y0, w, h).alias("geometry"),
    )


def path_cmds(x0, y0, w, h):
    """Command stream of the 3-point polyline (x0,y0) -> (x0+w,y0+h)
    -> (x0+2w,y0): MoveTo(1) + LineTo(2)."""
    return F.array(
        F.lit(9).cast("long"), _zz(x0), _zz(y0),
        F.lit((2 << 3) | 2).cast("long"),
        _zz(w), _zz(h), _zz(w), _zz(-h),
    )


def rect_stream_features(assigned: DataFrame) -> DataFrame:
    """Like rect_footprint_features but emits the geometry as a
    pre-built command-stream column (plan-side math, no struct lists)
    for the vectorized encode_geom_tiles path."""
    x0, y0 = F.col("loc_x").cast("long"), F.col("loc_y").cast("long")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    return assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        F.lit(G.GEOM_POLYGON).alias("geom_type"),
        rect_cmds(x0, y0, w, h).alias("geometry"),
    )


def path_stream_features(assigned: DataFrame) -> DataFrame:
    x0, y0 = F.col("loc_x").cast("long"), F.col("loc_y").cast("long")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    return assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        F.lit(G.GEOM_LINESTRING).alias("geom_type"),
        path_cmds(x0, y0, w, h).alias("geometry"),
    )


# ----------------------------------------------- vectorized batch stats

def _trunc32(v: np.ndarray) -> np.ndarray:
    w = v & 0xFFFFFFFF
    return np.where(w >= (1 << 31), w - (1 << 32), w)


def _uniform_batch_stats(M: np.ndarray, gtype: int):
    """Vectorized geometry stats for a batch whose command streams all
    share one structure (identical command integers at identical
    positions). Returns (n_parts, n_points, sum_x, sum_y, area2)
    arrays, or None if the batch is not uniform / not decodable.

    Correctness notes: int64 cumsum then mod-2^32 truncation equals
    vtzero's per-point truncation (modular addition commutes,
    geometry.hpp:250-274); the polygon closing point is re-emitted and
    does not advance the cursor (geometry.hpp:373)."""
    row0 = np.asarray(M[0], dtype=np.int64) & 0xFFFFFFFF
    try:
        G.decode_geometry(gtype, row0)  # full validation on the template
    except MVTError:
        return None
    # walk the template: command positions + per-part point ranges
    cmd_pos: list[int] = []
    parts: list[tuple[int, int]] = []  # (start_pt, n_pts) in decoded order
    pos = 0
    pt = 0
    L = row0.size
    cur_start = None
    while pos < L:
        ci = int(row0[pos])
        cmd, cnt = ci & 0x7, ci >> 3
        cmd_pos.append(pos)
        if cmd == G.CMD_MOVE_TO:
            if gtype == G.GEOM_POINT:
                parts.append((pt, cnt))
                pt += cnt
            else:
                cur_start = pt
                pt += cnt
            pos += 1 + 2 * cnt
        elif cmd == G.CMD_LINE_TO:
            pt += cnt
            if gtype == G.GEOM_LINESTRING:
                parts.append((cur_start, pt - cur_start))
            pos += 1 + 2 * cnt
        else:  # ClosePath
            parts.append((cur_start, pt - cur_start))
            pos += 1
    cmd_pos_a = np.array(cmd_pos, dtype=np.int64)
    if not (M[:, cmd_pos_a] == row0[cmd_pos_a]).all():
        return None
    param_pos = np.setdiff1d(np.arange(L), cmd_pos_a)
    m = param_pos.size // 2
    params = (M[:, param_pos].astype(np.int64) & 0xFFFFFFFF)
    deltas = ((params >> 1) ^ -(params & 1)).reshape(len(M), m, 2)
    coords = _trunc32(np.cumsum(deltas, axis=1))
    n = len(M)
    sum_x = coords[:, :, 0].sum(axis=1)
    sum_y = coords[:, :, 1].sum(axis=1)
    n_points = np.full(n, m, dtype=np.int64)
    area2 = np.zeros(n, dtype=np.int64)
    cxn = np.zeros(n, dtype=np.int64)
    cyn = np.zeros(n, dtype=np.int64)
    if gtype == G.GEOM_POLYGON:
        for start, cnt in parts:
            ring = coords[:, start:start + cnt]
            xs, ys = ring[:, :, 0], ring[:, :, 1]
            # wrap-closed edge walk shared by shoelace area and the
            # exact centroid numerators (cxn = 6*A*Cx, cyn = 6*A*Cy
            # as signed int64 — holes subtract via their winding)
            xn = np.roll(xs, -1, axis=1)
            yn = np.roll(ys, -1, axis=1)
            cross = xs * yn - xn * ys
            area2 += cross.sum(axis=1)
            cxn += ((xs + xn) * cross).sum(axis=1)
            cyn += ((ys + yn) * cross).sum(axis=1)
            # closing point re-emitted in the decoded stream
            n_points += 1
            sum_x += xs[:, 0]
            sum_y += ys[:, 0]
    return (np.full(n, len(parts), dtype=np.int64), n_points,
            sum_x, sum_y, area2, cxn, cyn)


def _ring_centroid_terms(ring: np.ndarray) -> tuple[int, int, int]:
    """Exact shoelace terms for one decoded ring: (area2, cxn, cyn)
    where cxn = 6*A*Cx, cyn = 6*A*Cy as signed int64. Handles both a
    closed ring (decoded polygons re-emit the closing point — the
    wrap edge is then degenerate and contributes zero) and an open
    one (the wrap edge closes it)."""
    xs = ring[:, 0].astype(np.int64)
    ys = ring[:, 1].astype(np.int64)
    xn = np.roll(xs, -1)
    yn = np.roll(ys, -1)
    cross = xs * yn - xn * ys
    return (int(cross.sum()), int(((xs + xn) * cross).sum()),
            int(((ys + yn) * cross).sum()))


def _geom_stats_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = ["z", "x", "y", "layer_name", "feature_id", "geom_type",
            "n_parts", "n_points", "sum_x", "sum_y", "area2", "cxn", "cyn",
            "decode_status"]
    for pdf in batches:
        yield _stats_from_pdf(pdf, cols)


def _stats_from_pdf(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    if True:
        # vectorized fast path: rows sharing (geom_type, stream length)
        # and an identical command structure decode as one matrix
        glen = pdf["geometry"].map(lambda g: -1 if g is None else len(g))
        outs = []
        rest_idx = []
        for (gtype, ln), sub in pdf.groupby([pdf["geom_type"], glen], sort=False):
            if ln <= 0 or len(sub) < 4:
                rest_idx.extend(sub.index)
                continue
            M = np.array(sub["geometry"].tolist(), dtype=np.int64) & 0xFFFFFFFF
            stats = _uniform_batch_stats(M, int(gtype))
            if stats is None:
                rest_idx.extend(sub.index)
                continue
            n_parts, n_points, sum_x, sum_y, area2, cxn, cyn = stats
            outs.append(pd.DataFrame({
                "z": sub["z"].astype(np.int64), "x": sub["x"].astype(np.int64),
                "y": sub["y"].astype(np.int64),
                "layer_name": sub["layer_name"],
                # nullable Int64: feature id is optional in the MVT spec
                # (reference feature.hpp has_id()); plain int64 astype
                # would raise on tiles whose features carry no id
                "feature_id": sub["feature_id"].astype("Int64"),
                "geom_type": int(gtype),
                "n_parts": n_parts.astype(np.int32), "n_points": n_points,
                "sum_x": sum_x, "sum_y": sum_y, "area2": area2,
                "cxn": cxn, "cyn": cyn,
                "decode_status": "ok",
            }))
        if not rest_idx:
            merged = pd.concat(outs) if outs else pd.DataFrame(columns=cols)
            return merged[cols]
        pdf_rest = pdf.loc[rest_idx]
        # positional access (no iterrows Series construction per row)
        a_z = pdf_rest["z"].to_numpy(np.int64)
        a_x = pdf_rest["x"].to_numpy(np.int64)
        a_y = pdf_rest["y"].to_numpy(np.int64)
        a_name = pdf_rest["layer_name"].to_numpy(object)
        a_fid = pdf_rest["feature_id"].to_numpy(object)
        a_gt = pdf_rest["geom_type"].to_numpy(np.int64)
        a_geom = pdf_rest["geometry"].to_numpy(object)
        a_nb = (pdf_rest["geometry_nbytes"].to_numpy(object)
                if "geometry_nbytes" in pdf.columns else None)
        rows = []
        for i in range(len(pdf_rest)):
            base = {
                "z": int(a_z[i]), "x": int(a_x[i]), "y": int(a_y[i]),
                "layer_name": a_name[i],
                "feature_id": None if pd.isna(a_fid[i]) else int(a_fid[i]),
                "geom_type": int(a_gt[i]),
            }
            try:
                cmds = np.asarray(a_geom[i], dtype=np.int64)
                nbytes = int(a_nb[i]) if a_nb is not None else None
                parts, ring_types = G.decode_geometry(int(a_gt[i]), cmds, nbytes)
                pts = np.concatenate(parts, axis=0) if parts else np.empty((0, 2), np.int64)
                area2 = cxn = cyn = 0
                if ring_types is not None:
                    for ring in parts:
                        a2, cx6, cy6 = _ring_centroid_terms(ring)
                        area2 += a2
                        cxn += cx6
                        cyn += cy6
                rows.append({
                    **base,
                    "n_parts": len(parts),
                    "n_points": int(pts.shape[0]),
                    "sum_x": int(pts[:, 0].sum()) if pts.size else 0,
                    "sum_y": int(pts[:, 1].sum()) if pts.size else 0,
                    "area2": int(area2),
                    "cxn": int(cxn), "cyn": int(cyn),
                    "decode_status": "ok",
                })
            except MVTError as e:
                rows.append({
                    **base, "n_parts": 0, "n_points": 0, "sum_x": 0,
                    "sum_y": 0, "area2": 0, "cxn": 0, "cyn": 0,
                    "decode_status": f"{type(e).__name__}: {e}",
                })
        outs.append(pd.DataFrame(rows, columns=cols))
        return pd.concat(outs)[cols] if outs else pd.DataFrame(columns=cols)


def tile_geometry_stats(tiles: DataFrame) -> DataFrame:
    """Fused parse + geometry stats: tiles(z,x,y,tile_bytes) -> one
    stats row per feature in a single mapInPandas — no intermediate
    Arrow transfer of raw geometry arrays between two UDF stages. Parse
    errors become decode_status rows (error semantics as data)."""
    from ..mvt import tile as T

    cols = ["z", "x", "y", "layer_name", "feature_id", "geom_type",
            "n_parts", "n_points", "sum_x", "sum_y", "area2", "cxn", "cyn",
            "decode_status"]

    in_cols = ["z", "x", "y", "layer_name", "feature_id", "geom_type",
               "geometry", "geometry_nbytes"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulation per parsed layer — no per-feature
            # dict rows (decode analog of the vectorized encode path)
            acc: dict[str, list] = {c: [] for c in in_cols}
            err_rows = []
            zs = pdf["z"].to_numpy(np.int64)
            xs = pdf["x"].to_numpy(np.int64)
            ys = pdf["y"].to_numpy(np.int64)
            for ri in range(len(pdf)):
                z, x, y = int(zs[ri]), int(xs[ri]), int(ys[ri])
                try:
                    views = T.tile_layer_views(bytes(pdf["tile_bytes"].iloc[ri]))
                except MVTError as e:
                    err_rows.append({
                        "z": z, "x": x, "y": y, "layer_name": None,
                        "feature_id": None, "geom_type": 0, "n_parts": 0,
                        "n_points": 0, "sum_x": 0, "sum_y": 0, "area2": 0, "cxn": 0, "cyn": 0,
                        "decode_status": f"{type(e).__name__}: {e}"})
                    continue
                for lv in views:
                    try:
                        layer = T.parse_layer(lv)
                    except MVTError as e:
                        err_rows.append({
                            "z": z, "x": x, "y": y, "layer_name": None,
                            "feature_id": None, "geom_type": 0, "n_parts": 0,
                            "n_points": 0, "sum_x": 0, "sum_y": 0, "area2": 0, "cxn": 0, "cyn": 0,
                            "decode_status": f"{type(e).__name__}: {e}"})
                        continue
                    feats = layer.features
                    nf = len(feats)
                    if nf == 0:
                        continue
                    acc["z"].append(np.full(nf, z, np.int64))
                    acc["x"].append(np.full(nf, x, np.int64))
                    acc["y"].append(np.full(nf, y, np.int64))
                    acc["layer_name"].append([layer.name] * nf)
                    acc["feature_id"].append([f.id for f in feats])
                    acc["geom_type"].append(
                        np.fromiter((f.geom_type for f in feats),
                                    np.int64, nf))
                    acc["geometry"].append(
                        [f.geometry.astype(np.int64) for f in feats])
                    acc["geometry_nbytes"].append(
                        np.fromiter((f.geometry_nbytes for f in feats),
                                    np.int64, nf))
            if acc["z"]:
                data = {
                    c: (np.concatenate(ch) if isinstance(ch[0], np.ndarray)
                        else [v for sub in ch for v in sub])
                    for c, ch in acc.items()
                }
                out = _stats_from_pdf(pd.DataFrame(data, columns=in_cols),
                                      cols)
            else:
                out = pd.DataFrame(columns=cols)
            if err_rows:
                out = pd.concat([out, pd.DataFrame(err_rows, columns=cols)])
            yield out[cols]

    return tiles.mapInPandas(fn, schema=GEOM_STATS_SCHEMA)


def geometry_stats(features: DataFrame) -> DataFrame:
    """Decoded feature rows (geometry = raw command ints) -> per-feature
    geometry statistics via the exact vtzero decode semantics; malformed
    geometry becomes a decode_status row, never a task failure."""
    cols = ["z", "x", "y", "layer_name", "feature_id", "geom_type", "geometry"]
    if "geometry_nbytes" in features.columns:
        cols.append("geometry_nbytes")
    return features.select(*cols).mapInPandas(
        _geom_stats_batch, schema=GEOM_STATS_SCHEMA
    )


# ------------------------------------- batch parts -> command stream

def _zz32(d: np.ndarray) -> np.ndarray:
    return ((d << 1) ^ (d >> 63)) & 0xFFFFFFFF


def _cmds_group(x, y, o1, o2, rows, gtype):
    """Flat command-stream encode for one geometry type's rows.

    Byte-for-byte the semantics of mvt.geometry.encode_{point,
    linestring,polygon} (cursor carries across parts, resets per
    feature; polygon rings drop the closing point into ClosePath and
    the cursor does NOT advance past it), but vectorized across the
    whole batch: segmented gathers + one zigzag pass + one scatter.
    Returns (flat int64 cmds, per-row lengths).
    """
    from ..mvt.geometry import (
        CMD_CLOSE_PATH, CMD_LINE_TO, CMD_MOVE_TO, GEOM_LINESTRING,
        GEOM_POINT, GEOM_POLYGON, GeometryError, _trunc_i32)
    from .clip import _seg_take

    n_rings = (o1[rows + 1] - o1[rows]).astype(np.int64)
    if gtype == GEOM_POINT and np.any(n_rings != 1):
        raise GeometryError("point geometry must have exactly one part")
    if np.any(n_rings < 1):
        raise GeometryError("feature with no parts")
    ring_ids = _seg_take(o1[rows], n_rings)
    rp_start = o2[ring_ids]
    rp_len = (o2[ring_ids + 1] - o2[ring_ids]).astype(np.int64)

    if gtype == GEOM_POLYGON:
        if np.any(rp_len < 4):
            raise GeometryError("ring must have more than 3 points")
        last = rp_start + rp_len - 1
        if np.any((x[rp_start] != x[last]) | (y[rp_start] != y[last])):
            raise GeometryError(
                "Last point in a ring must be the same as the first point.")
        m = rp_len - 1          # emitted body points per ring
        out_len_ring = 3 + 2 * m
    elif gtype == GEOM_LINESTRING:
        if np.any(rp_len < 2):
            raise GeometryError("linestring must have more than 1 point")
        m = rp_len
        out_len_ring = 2 + 2 * m
    else:  # GEOM_POINT
        if np.any(rp_len < 1):
            raise GeometryError("multipoint must have at least 1 point")
        m = rp_len
        out_len_ring = 1 + 2 * m

    ep = _seg_take(rp_start, m)
    ex, ey = x[ep], y[ep]
    total_e = ex.size

    # per-row emitted counts -> feature starts reset the cursor
    row_e = np.zeros(rows.size + 1, dtype=np.int64)
    np.cumsum(np.add.reduceat(m, np.concatenate(
        [[0], np.cumsum(n_rings)[:-1]])) if n_rings.size else m[:0],
        out=row_e[1:])
    px = np.empty_like(ex)
    py = np.empty_like(ey)
    px[1:], py[1:] = ex[:-1], ey[:-1]
    px[row_e[:-1]] = 0
    py[row_e[:-1]] = 0
    dx = _trunc_i32(ex - px)
    dy = _trunc_i32(ey - py)

    # zero-length segment check: non-first element within each ring
    ring_first = np.zeros(total_e, dtype=bool)
    re0 = np.zeros(m.size + 1, dtype=np.int64)
    np.cumsum(m, out=re0[1:])
    ring_first[re0[:-1]] = True
    if gtype != GEOM_POINT:
        bad = (~ring_first) & (dx == 0) & (dy == 0)
        if np.any(bad):
            kind = "rings" if gtype == GEOM_POLYGON else "linestrings"
            raise GeometryError(
                f"Zero-length segments in {kind} are not allowed.")

    zz = np.empty(2 * total_e, dtype=np.int64)
    zz[0::2] = _zz32(dx)
    zz[1::2] = _zz32(dy)

    ro0 = np.zeros(m.size + 1, dtype=np.int64)
    np.cumsum(out_len_ring, out=ro0[1:])
    out = np.zeros(int(ro0[-1]), dtype=np.int64)
    # zz element positions within its ring's chunk
    jj = np.arange(2 * total_e, dtype=np.int64) - np.repeat(
        2 * re0[:-1], 2 * m)
    base = np.repeat(ro0[:-1], 2 * m)
    if gtype == GEOM_POINT:
        out[base + 1 + jj] = zz
        out[ro0[:-1]] = (CMD_MOVE_TO & 0x7) | (m << 3)
    else:
        out[base + 1 + jj + (jj >= 2)] = zz
        out[ro0[:-1]] = (CMD_MOVE_TO & 0x7) | (1 << 3)
        out[ro0[:-1] + 3] = (CMD_LINE_TO & 0x7) | ((m - 1) << 3)
        if gtype == GEOM_POLYGON:
            out[ro0[1:] - 1] = (CMD_CLOSE_PATH & 0x7) | (1 << 3)

    # per-row output lengths (sum of their rings')
    r_off = np.zeros(rows.size + 1, dtype=np.int64)
    np.cumsum(n_rings, out=r_off[1:])
    row_len = ro0[r_off[1:]] - ro0[r_off[:-1]]
    return out, row_len


def cmds_batches(out_fields):
    """Batch-iterator form of cmds_from_parts (composable with an
    upstream Arrow kernel inside ONE mapInArrow)."""
    import pyarrow as pa

    from ..mvt.geometry import (
        GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON, GeometryError)
    from .clip import _flat_parts

    def fn(batches):
        for rb in batches:
            tbl = pa.Table.from_batches([rb]).combine_chunks()
            n = tbl.num_rows
            if n == 0:
                continue
            gt = tbl.column("geom_type").to_numpy(zero_copy_only=False)
            col = tbl.column("parts").combine_chunks()
            rings = col.flatten()
            if rings.null_count or any(
                    f.null_count for f in rings.flatten().flatten()):
                raise GeometryError("null part or coordinate in parts")
            o1, o2, x, y = _flat_parts(col)
            row_len = np.zeros(n, dtype=np.int64)
            flats = {}
            for gval in (GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON):
                rows = np.flatnonzero(gt == gval)
                if rows.size == 0:
                    continue
                flat, lens = _cmds_group(x, y, o1, o2, rows, gval)
                flats[gval] = (rows, flat, lens)
                row_len[rows] = lens
            final_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(row_len, out=final_off[1:])
            final = np.zeros(int(final_off[-1]), dtype=np.int64)
            from .clip import _seg_take
            for rows, flat, lens in flats.values():
                final[_seg_take(final_off[rows], lens)] = flat
            geom = pa.ListArray.from_arrays(
                pa.array(final_off, pa.int32()),
                pa.array(final, pa.int64()))
            arrays = [tbl.column(f.name).combine_chunks()
                      for f in out_fields] + [geom]
            yield pa.RecordBatch.from_arrays(
                arrays, [f.name for f in out_fields] + ["geometry"])

    return fn


def cmds_from_parts(features: DataFrame) -> DataFrame:
    """`parts` (struct-list geometry) -> `geometry` (command-integer
    array), batch-vectorized: the bridge from the clip/simplify
    kernels (which produce parts) to the FAST geom-stream encoders
    (encode_geom_tiles), replacing encode_layers' per-feature
    Python encode_geometry loop. One mapInArrow pass, no shuffle;
    byte parity with the scalar encoders pinned in
    tests/test_geojson.py::test_cmds_from_parts_matches_scalar."""
    out_fields = [f for f in features.schema.fields if f.name != "parts"]
    schema_str = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out_fields
    ) + ", geometry array<bigint>"
    return features.mapInArrow(cmds_batches(out_fields), schema=schema_str)
