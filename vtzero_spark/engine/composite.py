"""Tile compositing and overzooming: the two archive->wire operators.

Every production tile service runs two operations between its tile
archive and the wire that the reference codec itself stops short of
(vtzero encodes/decodes ONE tile; the companion library built on it,
mapbox/vtcomposite, exists precisely to do these two things):

- **composite**: merge the same-address tiles of several tilesets
  into one tile per (z, x, y) — basemap + overlay + labels served as
  a single tile. Layer semantics follow the reference's passthrough
  path (add_existing_layer, builder.hpp:119-132): layer messages are
  spliced BYTE-FOR-BYTE, never re-encoded, and on a layer-name
  collision the earliest source wins (vtcomposite's buffer-order
  rule).
- **overzoom**: serve zoom z+dz from a zoom-z archive — each parent
  tile yields up to 4^dz children by scaling coordinates 2^dz and
  clipping each child out of the parent (tippecanoe/vtcomposite's
  overzooming).

Scale shapes:

- ``composite_tiles`` is ONE hash shuffle on (z, x, y); each group
  holds exactly one row per source tileset, so group size is bounded
  by the number of sources, never by data volume. No geometry is
  parsed — per tile the work is a field scan (layer frames + name
  field) and a concatenation.
- ``overzoom_tiles`` is SHUFFLE-FREE: a 1-to-(<=4^dz) flatMap where
  each parent's work is local to its task (the same
  embarrassingly-parallel shape as clip_features). Geometry decodes
  once per parent; each child is cut with the batch clip kernels
  (engine/clip.py clip_rings / clip_lines — vectorized across ALL
  rings of a layer per clip edge), so per-child cost is a handful of
  numpy passes, not per-point Python. All-single-point layers at
  buffer=0 (the browse/POI-tileset hot shape) skip the clip entirely:
  ``_overzoom_point_layer_fast`` assigns children by div/mod and
  rebuilds each child layer BATCHED (ragged tag gather + factorize +
  one flat varint scatter), byte-identical to the general path
  (pinned) and ~3x faster end to end on the point corpus.

Integer exactness: world width is 2^z * extent by construction
(engine/tiling.py), so overzoom's coordinate map
``child_loc = parent_loc * 2^dz - child_index * extent`` is exact
integer arithmetic — overzooming a buffer-0 point tileset is
BYTE-IDENTICAL to encoding the scaled corpus directly at z+dz
(child x = (wx*2^dz) div extent and child loc = (wx*2^dz) mod extent
algebraically; the law is pinned in tests/test_composite.py).

Membership discipline: with ``buffer == 0`` point membership is
half-open ([ci*E, (ci+1)*E) per child, matching assign_tiles's
div/mod), so no point lands in two children; with ``buffer > 0``
edge-window duplication into adjacent children is intentional, as in
assign_tiles(buffer=...). Lines/polygons clip against the closed
buffered rect — a segment lying exactly on a shared child edge
appears in both children, the standard clipping-pipeline behavior.

Errors as data: a malformed source tile becomes a status row, never
a task failure (the engine-wide discipline; decode_tiles does the
same). Within a valid tile, a feature whose geometry fails to decode
is skipped and counted in ``n_skipped``.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..mvt import geometry as G
from ..mvt import tile as T
from ..mvt.errors import MVTError
from .clip import (
    _clip_line_rows,
    _clip_point_rows,
    _clip_polygon_rows,
    _flat_parts,
    _rebuild_parts,
)

__all__ = ["composite_tiles", "overzoom_tiles", "overzoom_tile_bytes"]


COMPOSITE_SCHEMA = ("z long, x long, y long, num_layers int, "
                    "status string, tile_bytes binary")
OVERZOOM_SCHEMA = ("z long, x long, y long, num_layers int, "
                   "n_skipped int, status string, tile_bytes binary")


# ----------------------------------------------------------- composite


def composite_tiles(tilesets: Sequence[DataFrame],
                    tile_col: str = "tile_bytes") -> DataFrame:
    """Merge N tilesets (each (z, x, y, ``tile_col``)) into one tile
    per address. Layers pass through byte-for-byte in source order
    (all of tileset 0's layers, then tileset 1's, ...); on a
    layer-name collision the EARLIEST source keeps the name and later
    layers with it are dropped (vtcomposite's buffer-order rule; the
    splice itself is the distributed add_existing_layer,
    builder.hpp:119-132). A tile present in only some sources passes
    through unchanged — composite of disjoint tilesets is a union.

    Returns (z, x, y, num_layers, status, tile_bytes); a malformed
    source tile yields status='FormatError: ...' with NULL bytes for
    that address instead of failing the task.
    """
    if not tilesets:
        raise ValueError("composite_tiles needs at least one tileset")
    parts = [
        df.select(
            F.col("z").cast("long"), F.col("x").cast("long"),
            F.col("y").cast("long"),
            F.col(tile_col).alias("tile_bytes"),
            F.lit(i).alias("_src"),
        )
        for i, df in enumerate(tilesets)
    ]
    allt = parts[0]
    for p in parts[1:]:
        allt = allt.unionByName(p)

    def merge(key, pdf):
        z, x, y = (int(key[0]), int(key[1]), int(key[2]))
        pdf = pdf.sort_values("_src", kind="stable")
        seen: set[str] = set()
        views: list[bytes] = []
        try:
            for t in pdf["tile_bytes"]:
                for view in T.tile_layer_views(bytes(t)):
                    nm = T.layer_name_only(view)
                    if nm not in seen:
                        seen.add(nm)
                        views.append(view)
        except MVTError as exc:
            return pd.DataFrame([{
                "z": z, "x": x, "y": y, "num_layers": None,
                "status": f"{type(exc).__name__}: {exc}",
                "tile_bytes": None,
            }])
        return pd.DataFrame([{
            "z": z, "x": x, "y": y, "num_layers": len(views),
            "status": "ok", "tile_bytes": T.build_tile(views),
        }])

    return allt.groupBy("z", "x", "y").applyInPandas(
        merge, schema=COMPOSITE_SCHEMA)


# ------------------------------------------------------------ overzoom


def _layer_class_tables(layer: T.Layer, k: int, pa):
    """Decode every feature of ``layer`` once, scale by ``k``, and
    bucket into per-geometry-class Arrow tables shaped for the
    engine's batch clip kernels (_clip_*_rows). Returns
    (tables, n_skipped) where tables maps geom_type ->
    (arrow_table, feat_idx array, bbox (n,4) array)."""
    buckets: dict[int, list] = {
        G.GEOM_POINT: [], G.GEOM_LINESTRING: [], G.GEOM_POLYGON: []}
    n_skipped = 0
    for fi, ft in enumerate(layer.features):
        if ft.geom_type not in buckets:
            n_skipped += 1  # UNKNOWN geometry: nothing to scale
            continue
        try:
            parts, _ = G.decode_geometry(
                ft.geom_type, ft.geometry, ft.geometry_nbytes)
        except MVTError:
            n_skipped += 1
            continue
        buckets[ft.geom_type].append((fi, parts))
    tables: dict[int, tuple] = {}
    for gtype, feats in buckets.items():
        if not feats:
            continue
        xs, ys = [], []
        pt_off = [0]
        part_off = [0]
        fidx = np.empty(len(feats), dtype=np.int64)
        bbox = np.empty((len(feats), 4), dtype=np.int64)
        for j, (fi, parts) in enumerate(feats):
            fidx[j] = fi
            fminx = fminy = np.iinfo(np.int64).max
            fmaxx = fmaxy = np.iinfo(np.int64).min
            for p in parts:
                sp = p.astype(np.int64) * k
                xs.append(sp[:, 0])
                ys.append(sp[:, 1])
                pt_off.append(pt_off[-1] + sp.shape[0])
                fminx = min(fminx, int(sp[:, 0].min()))
                fmaxx = max(fmaxx, int(sp[:, 0].max()))
                fminy = min(fminy, int(sp[:, 1].min()))
                fmaxy = max(fmaxy, int(sp[:, 1].max()))
            part_off.append(part_off[-1] + len(parts))
            bbox[j] = (fminx, fminy, fmaxx, fmaxy)
        fx = np.concatenate(xs) if xs else np.empty(0, np.int64)
        fy = np.concatenate(ys) if ys else np.empty(0, np.int64)
        col = _rebuild_parts(
            fx, fy,
            np.asarray(pt_off, dtype=np.int64),
            np.asarray(part_off, dtype=np.int64), pa)
        tbl = pa.table({"parts": col})
        tables[gtype] = (tbl, fidx, bbox)
    return tables, n_skipped


_CLIP_FN = {
    G.GEOM_POINT: _clip_point_rows,
    G.GEOM_LINESTRING: _clip_line_rows,
    G.GEOM_POLYGON: _clip_polygon_rows,
}


def _overzoom_point_layer_fast(layer: T.Layer, k: int
                               ) -> dict[tuple[int, int], bytes] | None:
    """Vectorized overzoom of an all-single-point layer at buffer=0 —
    the browse/POI-tileset hot shape. Child membership is pure div/mod
    (half-open, identical to the slow path's half-open clip box), the
    per-child layer rebuilds batched: ragged tag gather, factorize
    over the gathered key/value BYTES (first-appearance — the same
    dedup DictBuilder.add performs, so parent tables with duplicate
    entries still collapse identically), one flat varint scatter for
    the features section (rewrite._vartag_features_bytes). Returns
    None when any feature is not a single point — caller falls back
    to the general clip path. Byte-equality with the slow path is
    pinned in tests/test_composite.py."""
    from ..mvt.pbf import len_field, varint_field
    from .rewrite import _vartag_features_bytes

    fs = layer.features
    nf = len(fs)
    if nf == 0:
        return {}
    for f in fs:
        if (f.geom_type != G.GEOM_POINT or f.geometry.size != 3
                or f.geometry[0] != 9):
            return None
    E = layer.extent
    g = np.stack([f.geometry for f in fs]).astype(np.int64)
    zz = g[:, 1:3]
    pts = ((zz >> 1) ^ -(zz & 1)) * k  # scaled world-of-parent coords
    ci, cj = pts[:, 0] // E, pts[:, 1] // E
    inb = (ci >= 0) & (ci < k) & (cj >= 0) & (cj < k)
    lx, ly = pts[:, 0] - ci * E, pts[:, 1] - cj * E
    nzx = ((lx << 1) ^ (lx >> 63)).astype(np.uint64)
    nzy = ((ly << 1) ^ (ly >> 63)).astype(np.uint64)

    tlens = np.fromiter((f.tags.size for f in fs), np.int64, nf)
    toff = np.zeros(nf + 1, np.int64)
    np.cumsum(tlens, out=toff[1:])
    tflat = (np.concatenate([f.tags for f in fs]).astype(np.int64)
             if toff[-1] else np.zeros(0, np.int64))
    if tflat.size and (
            int(tflat[0::2].max(initial=-1)) >= len(layer.keys)
            or int(tflat[1::2].max(initial=-1)) >= len(layer.values)):
        return None  # corrupt tag index: the general path surfaces
        # it as OutOfRangeError -> a status row (errors as data)
    ids = np.fromiter((f.id or 0 for f in fs), np.int64, nf)
    has_id = np.fromiter((f.id is not None for f in fs), bool, nf)
    karr = np.asarray(layer.keys, dtype=object)
    varr = np.asarray(layer.values, dtype=object)

    header = (
        varint_field(T.LAYER_VERSION, layer.version)
        + len_field(T.LAYER_NAME, layer.name.encode("utf-8"))
        + varint_field(T.LAYER_EXTENT, layer.extent)
    )
    out: dict[tuple[int, int], bytes] = {}
    child_key = ci * k + cj
    for child in np.unique(child_key[inb]):
        sel = np.flatnonzero(inb & (child_key == child))  # source order
        # ragged gather of the survivors' tag streams, feature-major
        s_tlens = tlens[sel]
        s_toff = np.zeros(sel.size + 1, np.int64)
        np.cumsum(s_tlens, out=s_toff[1:])
        pos = (np.arange(s_toff[-1], dtype=np.int64)
               - np.repeat(s_toff[:-1], s_tlens)
               + np.repeat(toff[sel], s_tlens))
        stflat = tflat[pos]
        k_codes, k_uniq = pd.factorize(karr[stflat[0::2]])
        v_codes, v_uniq = pd.factorize(varr[stflat[1::2]])
        new_tags = np.empty(stflat.size, np.uint64)
        new_tags[0::2] = k_codes.astype(np.uint64)
        new_tags[1::2] = v_codes.astype(np.uint64)

        gf = np.empty(sel.size * 3, np.uint64)
        gf[0::3] = 9
        gf[1::3] = nzx[sel]
        gf[2::3] = nzy[sel]
        goff = np.arange(sel.size + 1, dtype=np.int64) * 3
        fb, _ = _vartag_features_bytes(
            ids[sel], has_id[sel],
            np.full(sel.size, G.GEOM_POINT, np.int64),
            gf, goff, new_tags, s_toff)
        out[(int(child) // k, int(child) % k)] = b"".join([
            header, fb,
            b"".join(len_field(T.LAYER_KEYS, kb) for kb in k_uniq),
            b"".join(len_field(T.LAYER_VALUES, vb) for vb in v_uniq),
        ])
    return out


def overzoom_tile_bytes(buf: bytes, dz: int, buffer: int = 0
                        ) -> tuple[dict[tuple[int, int], bytes], int]:
    """Pure per-parent kernel: tile bytes -> ({(ci, cj): child tile
    bytes}, n_skipped_features). ci/cj are child indexes WITHIN the
    parent (global child address = parent*2^dz + index). Empty
    children are absent; a child is present iff at least one feature
    survives its clip. Exposed separately so tests can pin the law
    without a SparkSession."""
    import pyarrow as pa

    if dz < 1:
        raise ValueError("overzoom needs dz >= 1")
    k = 1 << dz
    layers = T.parse_tile(buf)
    n_skipped = 0
    # (ci, cj) -> layer position -> list[(feature_pos, id, gtype, cmds, props)]
    children: dict[tuple[int, int], dict[int, list]] = {}
    # (ci, cj) -> layer position -> finished layer bytes (fast path)
    child_bytes: dict[tuple[int, int], dict[int, bytes]] = {}
    for li, layer in enumerate(layers):
        E = layer.extent
        if buffer == 0:
            fast = _overzoom_point_layer_fast(layer, k)
            if fast is not None:
                for cc, lb in fast.items():
                    child_bytes.setdefault(cc, {})[li] = lb
                continue
        tables, skipped = _layer_class_tables(layer, k, pa)
        n_skipped += skipped
        if not tables:
            continue
        props_cache: dict[int, list] = {}
        for gtype, (tbl, fidx, bbox) in tables.items():
            # candidate children per feature from the scaled bbox
            lo_i = np.maximum((bbox[:, 0] - buffer) // E, 0)
            hi_i = np.minimum((bbox[:, 2] + buffer) // E, k - 1)
            lo_j = np.maximum((bbox[:, 1] - buffer) // E, 0)
            hi_j = np.minimum((bbox[:, 3] + buffer) // E, k - 1)
            cand: dict[tuple[int, int], list[int]] = {}
            for j in range(fidx.size):
                for ci in range(int(lo_i[j]), int(hi_i[j]) + 1):
                    for cj in range(int(lo_j[j]), int(hi_j[j]) + 1):
                        cand.setdefault((ci, cj), []).append(j)
            for (ci, cj), rows in cand.items():
                if gtype == G.GEOM_POINT and buffer == 0:
                    # half-open membership: matches assign_tiles div/mod
                    b = (ci * E, cj * E, (ci + 1) * E - 1, (cj + 1) * E - 1)
                else:
                    b = (ci * E - buffer, cj * E - buffer,
                         (ci + 1) * E + buffer, (cj + 1) * E + buffer)
                kept, parts = _CLIP_FN[gtype](
                    tbl, np.asarray(rows, dtype=np.int64), b, pa)
                if kept.size == 0:
                    continue
                o1, o2, gx, gy = _flat_parts(parts)
                gx = gx - ci * E
                gy = gy - cj * E
                out = children.setdefault((ci, cj), {}).setdefault(li, [])
                for fj, row in enumerate(kept):
                    fi = int(fidx[row])
                    ft = layer.features[fi]
                    pr = props_cache.get(fi)
                    if pr is None:
                        pr = layer.properties(ft)
                        props_cache[fi] = pr
                    fparts = [
                        np.stack([gx[o2[r]:o2[r + 1]],
                                  gy[o2[r]:o2[r + 1]]], axis=1)
                        for r in range(int(o1[fj]), int(o1[fj + 1]))
                    ]
                    try:
                        cmds = G.encode_geometry(gtype, fparts)
                    except MVTError:
                        # clip output the encoder rejects (degenerate
                        # after rounding) — drop, same as vanishing
                        continue
                    out.append((fi, ft.id, gtype, cmds, pr))
    tiles: dict[tuple[int, int], bytes] = {}
    for cc in set(children) | set(child_bytes):
        by_layer = children.get(cc, {})
        fast_layers = child_bytes.get(cc, {})
        blobs = []
        for li in sorted(set(by_layer) | set(fast_layers)):
            if li in fast_layers:
                blobs.append(fast_layers[li])
                continue
            feats = sorted(by_layer[li], key=lambda t: t[0])
            if not feats:
                continue
            layer = layers[li]
            blobs.append(T.assemble_layer(
                layer.name,
                [(fid, gt, cmds, pr) for _, fid, gt, cmds, pr in feats],
                version=layer.version, extent=layer.extent))
        if blobs:
            tiles[cc] = T.build_tile(blobs)
    return tiles, n_skipped


def overzoom_tiles(tiles: DataFrame, dz: int, buffer: int = 0,
                   tile_col: str = "tile_bytes") -> DataFrame:
    """Overzoom a (z, x, y, ``tile_col``) tileset by ``dz`` levels:
    each parent yields its non-empty children at z+dz, geometry
    scaled 2^dz and clipped per child (±``buffer``). Shuffle-free —
    one mapInPandas flatMap; see module docstring for the exactness
    and membership discipline.

    Returns (z, x, y, num_layers, n_skipped, status, tile_bytes) with
    child addresses; a malformed parent becomes one
    status='FormatError: ...' row at the PARENT address with NULL
    bytes (errors as data)."""
    k = 1 << dz
    src = tiles.select(
        F.col("z").cast("long"), F.col("x").cast("long"),
        F.col("y").cast("long"), F.col(tile_col).alias("tile_bytes"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, t in pdf.itertuples(index=False):
                try:
                    kids, n_skipped = overzoom_tile_bytes(
                        bytes(t), dz, buffer=buffer)
                except MVTError as exc:
                    rows.append({
                        "z": z, "x": x, "y": y, "num_layers": None,
                        "n_skipped": None,
                        "status": f"{type(exc).__name__}: {exc}",
                        "tile_bytes": None})
                    continue
                for (ci, cj), tb in sorted(kids.items()):
                    rows.append({
                        "z": z + dz, "x": x * k + ci, "y": y * k + cj,
                        "num_layers": T.count_layers(tb),
                        "n_skipped": n_skipped, "status": "ok",
                        "tile_bytes": tb})
            if rows:
                yield pd.DataFrame(rows)

    return src.mapInPandas(fn, schema=OVERZOOM_SCHEMA)
