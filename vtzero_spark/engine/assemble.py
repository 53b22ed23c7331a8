"""Tile/layer/feature assembly and disassembly on Spark.

Write path (SURVEY §3.2): features DataFrame -> groupBy(z,x,y,layer)
applyInPandas(encode_layer) -> groupBy(z,x,y) applyInPandas(encode_tile)
-> tile_bytes. Ordering discipline (SURVEY §2.8): Spark gives no
intra-group order guarantees, so every group is explicitly sorted by
``feature_ordinal`` (and tiles assemble layers in ``layer_name``
order) before encoding — dictionary first-appearance order and feature
order then match a sequential vtzero builder run exactly.

Read path (SURVEY §3.1): tiles -> mapInPandas decode -> one row per
feature, geometry kept as raw command ints (decode elision: coordinates
are only materialized by the geometry codec when a query needs them —
the analog of vtzero's set_geometry passthrough, builder.hpp:1241-1248).

Codec errors never kill a task: malformed features surface in a
``decode_status`` column (SURVEY §7.3 "error semantics as data").
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..mvt import geometry as G
from ..mvt import tile as T
from ..mvt import values as V
from ..mvt.errors import MVTError

LAYER_SCHEMA = (
    "z long, x long, y long, layer_name string, num_features long, "
    "key_table_size int, value_table_size int, layer_bytes binary"
)

TILE_SCHEMA = "z long, x long, y long, num_layers int, tile_bytes binary"

FEATURE_SCHEMA = (
    "z long, x long, y long, layer_ordinal int, layer_name string, "
    "version int, extent int, feature_ordinal int, feature_id long, "
    "geom_type int, geometry array<long>, geometry_nbytes int, "
    "num_properties int, decode_status string"
)

# decode_tiles(properties=True): + the decoded key/value map (the
# 7-type union carried as a tagged struct; vtype per mvt/values.py)
FEATURE_PROPS_SCHEMA = FEATURE_SCHEMA + (
    ", properties map<string, struct<vtype: int, sval: string, "
    "dval: double, ival: long>>"
)


def _encode_props(row) -> list[tuple[bytes, bytes]]:
    """props column: array<struct<key, vtype, sval, dval, ival>> ->
    [(key_bytes, encoded_value_bytes)] honoring the 7-type identity."""
    props = row.get("props")
    if props is None or (isinstance(props, float) and pd.isna(props)):
        return []
    out = []
    for p in props:
        vtype = int(p["vtype"])
        if vtype == V.VT_STRING:
            val = V.encode_value(vtype, p["sval"])
        elif vtype in (V.VT_FLOAT, V.VT_DOUBLE):
            val = V.encode_value(vtype, p["dval"])
        elif vtype == V.VT_BOOL:
            val = V.encode_value(vtype, bool(p["ival"]))
        else:
            val = V.encode_value(vtype, int(p["ival"]))
        out.append((p["key"].encode("utf-8"), val))
    return out


def _encode_layer_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (z,x,y,layer_name) group -> one encoded layer row."""
    pdf = pdf.sort_values("feature_ordinal", kind="stable")
    z, x, y = int(pdf["z"].iloc[0]), int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
    name = pdf["layer_name"].iloc[0]
    has_parts = "parts" in pdf.columns
    has_props = "props" in pdf.columns

    kd = T.DictBuilder()
    vd = T.DictBuilder()
    blobs: list[bytes] = []
    ids = pdf["feature_id"].to_numpy()
    gtypes = pdf["geom_type"].to_numpy()
    if not has_parts:
        # vectorized single-point fast path
        zzx = np.asarray(
            ((pdf["loc_x"].to_numpy(np.int64) << 1)
             ^ (pdf["loc_x"].to_numpy(np.int64) >> 63)) & 0xFFFFFFFF)
        zzy = np.asarray(
            ((pdf["loc_y"].to_numpy(np.int64) << 1)
             ^ (pdf["loc_y"].to_numpy(np.int64) >> 63)) & 0xFFFFFFFF)
    for i in range(len(pdf)):
        fid = None if pd.isna(ids[i]) else int(ids[i])
        gtype = int(gtypes[i])
        if has_parts:
            parts = [np.array([[p["x"], p["y"]] for p in part], dtype=np.int64)
                     for part in pdf["parts"].iloc[i]]
            cmds = G.encode_geometry(gtype, parts)
        else:
            cmds = np.array([9, zzx[i], zzy[i]], dtype=np.int64)
        tags: list[int] = []
        if has_props:
            for k, v in _encode_props(pdf.iloc[i]):
                tags.append(kd.add(k))
                tags.append(vd.add(v))
        blobs.append(T.build_feature(fid, gtype, cmds, tags))
    layer_bytes = T.build_layer(name, blobs, kd.table, vd.table)
    return pd.DataFrame(
        [{
            "z": z, "x": x, "y": y, "layer_name": name,
            "num_features": len(blobs),
            "key_table_size": len(kd.table),
            "value_table_size": len(vd.table),
            "layer_bytes": layer_bytes,
        }]
    )


def encode_layers(features: DataFrame) -> DataFrame:
    """features(z,x,y,layer_name,feature_ordinal,feature_id,geom_type,
    loc_x,loc_y[,parts][,props]) -> one row per encoded layer.

    The groupBy is the single shuffle of the write path; inside each
    group the dictionary build mirrors vtzero add_key/add_value
    first-appearance semantics over the ordinal-sorted features.
    """
    return features.groupBy("z", "x", "y", "layer_name").applyInPandas(
        _encode_layer_group, schema=LAYER_SCHEMA
    )


# ------------------------------------------------- vectorized point path

_VT_PREFIX = np.zeros(8, dtype=np.uint8)
_VT_PREFIX[V.VT_STRING] = 0x0A
_VT_PREFIX[V.VT_FLOAT] = 0x15
_VT_PREFIX[V.VT_DOUBLE] = 0x19
_VT_PREFIX[V.VT_INT] = 0x20
_VT_PREFIX[V.VT_UINT] = 0x28
_VT_PREFIX[V.VT_SINT] = 0x30
_VT_PREFIX[V.VT_BOOL] = 0x38

_VARINT_VTYPES = (V.VT_INT, V.VT_UINT, V.VT_SINT)


def _as_np(vals, dtype=None) -> np.ndarray:
    """Arrow array / pandas Index / ndarray -> numpy."""
    import pyarrow as pa

    out = vals.to_numpy(zero_copy_only=False) if isinstance(vals, pa.Array) \
        else np.asarray(vals)
    return out if dtype is None else out.astype(dtype)


def _build_value_dict(pdf: pd.DataFrame, prop_spec) -> tuple[np.ndarray, bytes, int]:
    """pandas frontend of the vectorized dictionary build: factorize
    each property column, then delegate to _value_dict_core."""
    factorized = []
    for _, vtype, col in prop_spec:
        codes, uniq = pd.factorize(pdf[col], use_na_sentinel=False)
        factorized.append((vtype, np.asarray(codes, dtype=np.int64), uniq))
    return _value_dict_core(factorized)


def _build_value_dict_arrow(tbl, prop_spec) -> tuple[np.ndarray, bytes, int]:
    """Arrow frontend: dictionary_encode keeps strings in Arrow buffers
    (no Python-object churn — the hot path at scale)."""
    import pyarrow.compute as pc

    factorized = []
    for _, vtype, col in prop_spec:
        d = pc.dictionary_encode(tbl.column(col).combine_chunks())
        factorized.append((
            vtype,
            d.indices.to_numpy(zero_copy_only=False).astype(np.int64),
            d.dictionary,
        ))
    return _value_dict_core(factorized)


def _value_dict_core(factorized) -> tuple[np.ndarray, bytes, int]:
    """Vectorized layer value-dictionary build.

    Input: per property column (vtype, codes (n,), uniques) in key
    order. Returns (final_codes (n, nprops), values_section_bytes,
    table_size) with vtzero's exact semantics: value identity is the
    encoded bytes (property_value.hpp:232-260) — equal (vtype, value)
    pairs across columns share one entry — and indexes are assigned in
    first appearance order of the interleaved feature-major stream
    (builder_impl.hpp:104-147). No per-unique Python: factorize/
    dictionary_encode for dedup, cumsum/scatter for the table section.
    """
    from ..mvt.pbf import (
        copy_segments, encode_varint_array, pack_len_fields,
        strings_to_buffer, varint_len_array,
    )

    ncols = len(factorized)
    col_codes = [codes for _, codes, _ in factorized]
    col_uniques = [(vtype, uniq) for vtype, _, uniq in factorized]

    # per-vtype cross-column dedup (same vtype + same value <=> same bytes)
    groups: dict[int, list[int]] = {}
    for ci, (vtype, _) in enumerate(col_uniques):
        groups.setdefault(vtype, []).append(ci)
    canon_vals: dict[int, object] = {}
    col_maps: list[np.ndarray | None] = [None] * ncols
    global_offset = 0
    canon_layout: list[tuple[int, int]] = []  # (vtype, count) in id order
    for vtype, cols_idx in groups.items():
        if len(cols_idx) == 1:
            ci = cols_idx[0]
            vals = col_uniques[ci][1]
            col_maps[ci] = np.arange(len(vals), dtype=np.int64) + global_offset
        else:
            concat = np.concatenate(
                [_as_np(col_uniques[ci][1], object) for ci in cols_idx])
            codes2, vals = pd.factorize(concat, use_na_sentinel=False)
            pos = 0
            for ci in cols_idx:
                ln = len(col_uniques[ci][1])
                col_maps[ci] = np.asarray(codes2[pos:pos + ln], dtype=np.int64) + global_offset
                pos += ln
        canon_vals[vtype] = vals
        canon_layout.append((vtype, len(vals)))
        global_offset += len(vals)
    total = global_offset

    # first-appearance rank over the interleaved (feature-major) stream
    stream = np.stack(
        [col_maps[ci][col_codes[ci]] for ci in range(ncols)], axis=1)
    flat = stream.reshape(-1)
    first_pos = np.full(total, np.iinfo(np.int64).max)
    np.minimum.at(first_pos, flat, np.arange(flat.size))
    order = np.argsort(first_pos, kind="stable")
    rank = np.empty_like(order)
    rank[order] = np.arange(order.size)
    final_codes = rank[stream]

    # encode the table in dictionary order, one scatter pass per vtype
    vt_of = np.empty(total, dtype=np.int64)
    ix_of = np.empty(total, dtype=np.int64)
    off = 0
    for vtype, cnt in canon_layout:
        vt_of[off:off + cnt] = vtype
        ix_of[off:off + cnt] = np.arange(cnt)
        off += cnt
    vt_ord = vt_of[order]
    ix_ord = ix_of[order]

    str_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    varint_cache: dict[int, np.ndarray] = {}
    for vtype, vals in canon_vals.items():
        if vtype == V.VT_STRING:
            str_cache[vtype] = strings_to_buffer(vals)
        elif vtype in (V.VT_INT, V.VT_UINT):
            varint_cache[vtype] = _as_np(vals, np.int64).astype(np.uint64)
        elif vtype == V.VT_SINT:
            v = _as_np(vals, np.int64)
            varint_cache[vtype] = ((v << 1) ^ (v >> 63)).astype(np.uint64)

    entry_len = np.empty(total, dtype=np.int64)
    for vtype in groups:
        sel = vt_ord == vtype
        ix = ix_ord[sel]
        if vtype == V.VT_STRING:
            _, offs = str_cache[vtype]
            slen = (offs[1:] - offs[:-1])[ix]
            entry_len[sel] = 1 + varint_len_array(slen.astype(np.uint64)) + slen
        elif vtype in _VARINT_VTYPES:
            entry_len[sel] = 1 + varint_len_array(varint_cache[vtype][ix])
        elif vtype == V.VT_BOOL:
            entry_len[sel] = 2
        elif vtype == V.VT_FLOAT:
            entry_len[sel] = 5
        elif vtype == V.VT_DOUBLE:
            entry_len[sel] = 9
        else:
            raise ValueError(f"unknown vtype {vtype}")
    offsets = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(entry_len, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    starts = offsets[:-1]
    out[starts] = _VT_PREFIX[vt_ord]
    for vtype in groups:
        sel = vt_ord == vtype
        sel_off = starts[sel]
        ix = ix_ord[sel]
        if vtype == V.VT_STRING:
            buf, offs = str_cache[vtype]
            slen = (offs[1:] - offs[:-1])[ix]
            lenlens = varint_len_array(slen.astype(np.uint64))
            lenbuf = np.frombuffer(
                encode_varint_array(slen.astype(np.uint64)), dtype=np.uint8)
            copy_segments(lenbuf, np.cumsum(lenlens) - lenlens, lenlens,
                          out, sel_off + 1)
            copy_segments(buf, offs[:-1][ix], slen, out, sel_off + 1 + lenlens)
        elif vtype in _VARINT_VTYPES:
            vals = varint_cache[vtype][ix]
            vlens = varint_len_array(vals)
            vbuf = np.frombuffer(encode_varint_array(vals), dtype=np.uint8)
            copy_segments(vbuf, np.cumsum(vlens) - vlens, vlens, out, sel_off + 1)
        elif vtype == V.VT_BOOL:
            out[sel_off + 1] = _as_np(canon_vals[vtype]).astype(bool)[ix].astype(np.uint8)
        elif vtype == V.VT_FLOAT:
            fb = np.ascontiguousarray(
                _as_np(canon_vals[vtype]).astype("<f4")[ix]).view(np.uint8).reshape(-1, 4)
            out[sel_off[:, None] + 1 + np.arange(4)] = fb
        elif vtype == V.VT_DOUBLE:
            fb = np.ascontiguousarray(
                _as_np(canon_vals[vtype]).astype("<f8")[ix]).view(np.uint8).reshape(-1, 8)
            out[sel_off[:, None] + 1 + np.arange(8)] = fb
    values_section = pack_len_fields(T.LAYER_VALUES, out, offsets)
    return final_codes, values_section, total


def _point_layer_bytes(pdf: pd.DataFrame, name: str, prop_spec) -> tuple[bytes, int, int, int]:
    """Vectorized layer encode core (pandas frontend): ordinal-sorted
    single-point rows of ONE layer -> (layer_bytes, num_features,
    key_table_size, value_table_size)."""
    dict_result = _build_value_dict(pdf, prop_spec) if prop_spec else None
    return _assemble_point_layer(
        name,
        pdf["feature_id"].to_numpy(np.int64),
        pdf["loc_x"].to_numpy(np.int64),
        pdf["loc_y"].to_numpy(np.int64),
        prop_spec, dict_result,
    )


def _point_layer_bytes_arrow(tbl, name: str, prop_spec) -> tuple[bytes, int, int, int]:
    """Arrow frontend of the layer encode core (zero object churn)."""
    dict_result = _build_value_dict_arrow(tbl, prop_spec) if prop_spec else None
    return _assemble_point_layer(
        name,
        tbl.column("feature_id").to_numpy(zero_copy_only=False).astype(np.int64),
        tbl.column("loc_x").to_numpy(zero_copy_only=False).astype(np.int64),
        tbl.column("loc_y").to_numpy(zero_copy_only=False).astype(np.int64),
        prop_spec, dict_result,
    )


def _point_features_bytes(ids: np.ndarray, lx: np.ndarray, ly: np.ndarray,
                          final_codes, nprops: int) -> bytes:
    """Features-section bytes (each feature wrapped in its LAYER_FEATURES
    len-field) for single-point features with pre-resolved tag codes."""
    from ..mvt.pbf import encode_varint_array, varint_len_array

    n = len(ids)
    zzx = ((lx << 1) ^ (lx >> 63)) & 0xFFFFFFFF
    zzy = ((ly << 1) ^ (ly >> 63)) & 0xFFFFFFFF
    return _point_matrix_bytes(
        n, ids, zzx, zzy, final_codes, nprops,
        encode_varint_array, varint_len_array)


def _assemble_point_layer(name: str, ids: np.ndarray, lx: np.ndarray,
                          ly: np.ndarray, prop_spec, dict_result) -> tuple[bytes, int, int, int]:
    from ..mvt.pbf import encode_varint_array, len_field, varint_field, varint_len_array

    n = len(ids)
    zzx = ((lx << 1) ^ (lx >> 63)) & 0xFFFFFFFF
    zzy = ((ly << 1) ^ (ly >> 63)) & 0xFFFFFFFF

    key_table: list[bytes] = []
    values_section = b""
    vsize = 0
    final_codes = None
    if prop_spec:
        key_table = [k.encode("utf-8") for k, _, _ in prop_spec]
        final_codes, values_section, vsize = dict_result

    nprops = len(prop_spec) if prop_spec else 0
    features_bytes = _point_matrix_bytes(
        n, ids, zzx, zzy, final_codes, nprops,
        encode_varint_array, varint_len_array)

    header = (
        varint_field(T.LAYER_VERSION, 2)
        + len_field(T.LAYER_NAME, name.encode("utf-8"))
        + varint_field(T.LAYER_EXTENT, 4096)
    )
    layer_bytes = b"".join([
        header,
        features_bytes,
        b"".join(len_field(T.LAYER_KEYS, k) for k in key_table),
        values_section,
    ])
    return layer_bytes, n, len(key_table), vsize


def _point_matrix_bytes(n, ids, zzx, zzy, final_codes, nprops,
                        encode_varint_array, varint_len_array) -> bytes:
    # varint matrix: [18, feat_len | 24, gtype, 8, id, 34, geom_len,
    #                 MoveTo(1)=9, zzx, zzy | 18, tags_len, k0,v0,...]
    k_body = 9 + (2 + 2 * nprops if nprops else 0)
    M = np.empty((n, 2 + k_body), dtype=np.uint64)
    M[:, 2] = 24  # key(FEATURE_TYPE=3, varint)
    M[:, 3] = G.GEOM_POINT
    M[:, 4] = 8  # key(FEATURE_ID=1, varint)
    M[:, 5] = ids.astype(np.uint64)
    M[:, 6] = 34  # key(FEATURE_GEOMETRY=4, len)
    M[:, 8] = 9  # MoveTo(count=1)
    M[:, 9] = zzx.astype(np.uint64)
    M[:, 10] = zzy.astype(np.uint64)
    geom_len = varint_len_array(M[:, 8:11]).sum(axis=1)
    M[:, 7] = geom_len.astype(np.uint64)
    if nprops:
        M[:, 11] = 18  # key(FEATURE_TAGS=2, len)
        for c in range(nprops):
            M[:, 13 + 2 * c] = c  # key index
            M[:, 14 + 2 * c] = final_codes[:, c].astype(np.uint64)
        tags_len = varint_len_array(M[:, 13:]).sum(axis=1)
        M[:, 12] = tags_len.astype(np.uint64)
    feat_len = varint_len_array(M[:, 2:]).sum(axis=1)
    M[:, 0] = 18  # key(LAYER_FEATURES=2, len)
    M[:, 1] = feat_len.astype(np.uint64)
    return encode_varint_array(M.reshape(-1))


def _geomstream_features_bytes(ids: np.ndarray, gtypes: np.ndarray,
                               gflat: np.ndarray, goffsets: np.ndarray,
                               final_codes, nprops: int) -> bytes:
    """Features-section bytes for arbitrary pre-built geometry command
    streams: geometry arrives as a flattened uint32 array + per-feature
    offsets; the whole section is one variable-width varint scatter —
    no per-feature Python. Shared by the single-group layer encoder
    and the chunked hot-tile encoder (a layer's section is the plain
    concatenation of its chunks' sections)."""
    from ..mvt.pbf import copy_segments, encode_varint_array, varint_len_array

    n = len(ids)
    glens = np.diff(goffsets)  # varint count per feature's geometry
    gvals = np.ascontiguousarray(gflat, dtype=np.int64).astype(np.uint64)
    gv_bytes = varint_len_array(gvals)
    # reduceat raises IndexError when an offset == len(gvals) (trailing
    # empty geometries); a zero sentinel makes those offsets valid
    # without disturbing earlier segments, and the glens==0 mask below
    # zeroes the value reduceat assigns to any empty segment
    if n:
        geom_len = np.add.reduceat(np.append(gv_bytes, 0), goffsets[:-1])
    else:
        geom_len = np.zeros(0, np.int64)
    geom_len = np.where(glens == 0, 0, geom_len)

    # head varints per feature: 18, feat_len, 24, gtype, 8, id, 34, geom_len
    HEAD = 8
    tags_block = 2 + 2 * nprops if nprops else 0
    body = np.empty((n, HEAD - 2 + tags_block), dtype=np.uint64)
    body[:, 0] = 24
    body[:, 1] = gtypes.astype(np.uint64)
    body[:, 2] = 8
    body[:, 3] = ids.astype(np.uint64)
    body[:, 4] = 34
    body[:, 5] = geom_len.astype(np.uint64)
    if nprops:
        body[:, 6] = 18
        for c in range(nprops):
            body[:, 8 + 2 * c] = c
            body[:, 9 + 2 * c] = final_codes[:, c].astype(np.uint64)
        body[:, 7] = varint_len_array(body[:, 8:]).sum(axis=1).astype(np.uint64)
    feat_len = varint_len_array(body).sum(axis=1) + geom_len
    head = np.empty((n, 2), dtype=np.uint64)
    head[:, 0] = 18
    head[:, 1] = feat_len.astype(np.uint64)

    # assemble the flat varint stream: head(2) + body[:,:6] + geometry
    # + tags-block, per feature
    per_feat = 2 + 6 + glens + tags_block
    ends = np.cumsum(per_feat)
    starts = ends - per_feat
    flat = np.empty(int(ends[-1]) if n else 0, dtype=np.uint64)
    for j in range(2):
        flat[starts + j] = head[:, j]
    for j in range(6):
        flat[starts + 2 + j] = body[:, j]
    copy_segments(gvals, goffsets[:-1], glens, flat, starts + 8)
    if nprops:
        tag_dst = starts + 8 + glens
        for j in range(tags_block):
            flat[tag_dst + j] = body[:, 6 + j]
    return encode_varint_array(flat)


def _geomstream_layer_bytes(name: str, ids: np.ndarray, gtypes: np.ndarray,
                            gflat: np.ndarray, goffsets: np.ndarray,
                            prop_spec, dict_result) -> tuple[bytes, int, int, int]:
    """Vectorized layer encode for arbitrary pre-built geometry command
    streams (the distributed set_geometry passthrough,
    builder.hpp:1241-1248)."""
    from ..mvt.pbf import len_field, varint_field

    n = len(ids)
    key_table: list[bytes] = []
    values_section = b""
    vsize = 0
    final_codes = None
    nprops = len(prop_spec) if prop_spec else 0
    if prop_spec:
        key_table = [k.encode("utf-8") for k, _, _ in prop_spec]
        final_codes, values_section, vsize = dict_result

    features_bytes = _geomstream_features_bytes(
        ids, gtypes, gflat, goffsets, final_codes, nprops)

    header = (
        varint_field(T.LAYER_VERSION, 2)
        + len_field(T.LAYER_NAME, name.encode("utf-8"))
        + varint_field(T.LAYER_EXTENT, 4096)
    )
    layer_bytes = b"".join([
        header,
        features_bytes,
        b"".join(len_field(T.LAYER_KEYS, k) for k in key_table),
        values_section,
    ])
    return layer_bytes, n, len(key_table), vsize


def encode_geom_tiles(features: DataFrame, prop_spec=None) -> DataFrame:
    """Fused tile encode for features carrying a pre-built ``geometry``
    command-stream column (array<long>) — single shuffle on (z,x,y),
    vectorized variable-width varint assembly. Pair with plan-side
    geometry expression builders (geomops.rect_cmds/path_cmds) so the
    whole footprint construction stays in whole-stage codegen.

    Routes through the Arrow kernel (encode_geom_tiles_arrow) — the
    ListArray buffers feed the assembler directly; byte parity with
    the pandas kernel is pinned in tests/test_fast_encode.py."""
    return encode_geom_tiles_arrow(features, prop_spec)


def encode_geom_tiles_pandas(features: DataFrame, prop_spec=None) -> DataFrame:
    """The pandas applyInPandas form of encode_geom_tiles (kept as the
    parity reference for the Arrow kernel)."""
    from ..mvt.pbf import len_field

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        z, x, y = int(pdf["z"].iloc[0]), int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
        pdf = pdf.sort_values(["layer_name", "feature_ordinal"], kind="stable")
        parts: list[bytes] = []
        num_layers = 0
        for name, sub in pdf.groupby("layer_name", sort=True):
            geoms = sub["geometry"]
            glens = np.fromiter((len(g) for g in geoms), dtype=np.int64,
                                count=len(sub))
            goffsets = np.zeros(len(sub) + 1, dtype=np.int64)
            np.cumsum(glens, out=goffsets[1:])
            gflat = (np.concatenate([np.asarray(g, dtype=np.int64) for g in geoms])
                     if len(sub) else np.empty(0, np.int64))
            dict_result = _build_value_dict(sub, prop_spec) if prop_spec else None
            lb, nf, _, _ = _geomstream_layer_bytes(
                name,
                sub["feature_id"].to_numpy(np.int64),
                sub["geom_type"].to_numpy(np.int64),
                gflat, goffsets, prop_spec, dict_result,
            )
            if nf > 0:
                parts.append(len_field(T.TILE_LAYERS, lb))
                num_layers += 1
        return pd.DataFrame(
            [{"z": z, "x": x, "y": y, "num_layers": num_layers,
              "tile_bytes": b"".join(parts)}]
        )

    return features.groupBy("z", "x", "y").applyInPandas(fn, schema=TILE_SCHEMA)


def encode_geom_tiles_arrow(features: DataFrame, prop_spec=None) -> DataFrame:
    """Arrow-native geom-stream tile encode (applyInArrow): the
    geometry ListArray's values/offsets buffers feed the varint
    assembler DIRECTLY — no per-row ndarray materialization, no
    pandas cells (the encode-side twin of the columnar decode).
    Byte-identical to the pandas encode_geom_tiles kernel (pinned in
    tests/test_fast_encode.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..mvt.pbf import len_field

    def fn(tbl: "pa.Table") -> "pa.Table":
        tbl = tbl.sort_by([("layer_name", "ascending"),
                           ("feature_ordinal", "ascending")])
        z = tbl.column("z")[0].as_py()
        x = tbl.column("x")[0].as_py()
        y = tbl.column("y")[0].as_py()
        lcodes = pc.dictionary_encode(
            tbl.column("layer_name").combine_chunks()) \
            .indices.to_numpy(zero_copy_only=False)
        bounds = np.flatnonzero(np.diff(lcodes)) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [len(tbl)]])
        ga = tbl.column("geometry").combine_chunks()
        goffs = ga.offsets.to_numpy(zero_copy_only=False) \
            .astype(np.int64)
        gvals = ga.values.to_numpy(zero_copy_only=False) \
            .astype(np.int64)
        ids_all = tbl.column("feature_id").to_numpy(
            zero_copy_only=False).astype(np.int64)
        gt_all = tbl.column("geom_type").to_numpy(
            zero_copy_only=False).astype(np.int64)
        parts: list[bytes] = []
        num_layers = 0
        for s, e in zip(starts, ends):
            s, e = int(s), int(e)
            name = tbl.column("layer_name")[s].as_py()
            dict_result = _build_value_dict_arrow(
                tbl.slice(s, e - s), prop_spec) if prop_spec else None
            lb, nf, _, _ = _geomstream_layer_bytes(
                name, ids_all[s:e], gt_all[s:e],
                gvals[goffs[s]:goffs[e]], goffs[s:e + 1] - goffs[s],
                prop_spec, dict_result)
            if nf > 0:
                parts.append(len_field(T.TILE_LAYERS, lb))
                num_layers += 1
        return pa.table({
            "z": pa.array([z], pa.int64()),
            "x": pa.array([x], pa.int64()),
            "y": pa.array([y], pa.int64()),
            "num_layers": pa.array([num_layers], pa.int32()),
            "tile_bytes": pa.array([b"".join(parts)], pa.binary()),
        })

    return features.groupBy("z", "x", "y").applyInArrow(
        fn, schema=TILE_SCHEMA)


def encode_point_tiles_arrow(features: DataFrame, prop_spec=None) -> DataFrame:
    """Arrow-native fused layer+tile encode (applyInArrow): strings
    never become Python objects — factorize via Arrow dictionary_encode
    on the original utf-8 buffers, table section assembled by numpy
    scatter. Byte-identical to encode_point_tiles; ~lower memory
    traffic per feature, which is what scales on wide executors."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..mvt.pbf import len_field

    def fn(tbl: "pa.Table") -> "pa.Table":
        tbl = tbl.sort_by([("layer_name", "ascending"),
                           ("feature_ordinal", "ascending")])
        z = tbl.column("z")[0].as_py()
        x = tbl.column("x")[0].as_py()
        y = tbl.column("y")[0].as_py()
        lcodes = pc.dictionary_encode(tbl.column("layer_name").combine_chunks()) \
            .indices.to_numpy(zero_copy_only=False)
        bounds = np.flatnonzero(np.diff(lcodes)) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [len(tbl)]])
        parts: list[bytes] = []
        num_layers = 0
        for s, e in zip(starts, ends):
            sub = tbl.slice(int(s), int(e - s))
            name = sub.column("layer_name")[0].as_py()
            lb, nf, _, _ = _point_layer_bytes_arrow(sub, name, prop_spec)
            if nf > 0:
                parts.append(len_field(T.TILE_LAYERS, lb))
                num_layers += 1
        return pa.table({
            "z": pa.array([z], pa.int64()),
            "x": pa.array([x], pa.int64()),
            "y": pa.array([y], pa.int64()),
            "num_layers": pa.array([num_layers], pa.int32()),
            "tile_bytes": pa.array([b"".join(parts)], pa.binary()),
        })

    return features.groupBy("z", "x", "y").applyInArrow(fn, schema=TILE_SCHEMA)


def _encode_point_layer_group(pdf: pd.DataFrame, prop_spec) -> pd.DataFrame:
    """Fully vectorized single-point layer encode.

    The entire features section of a layer message is a concatenation
    of varints (field keys, lengths, ids, command ints, tag indexes), so
    one (n_features x K) uint64 matrix flattened through
    encode_varint_array produces the whole section in a single
    vectorized pass — no per-feature Python. Dictionary semantics are
    byte-identical to vtzero's add_value first-appearance order
    (builder_impl.hpp:104-147): per-column factorize, cross-column
    byte-dedup, then rank by first appearance in the interleaved
    (feature-major) value stream — exactly the order sequential
    add_property calls would produce.

    prop_spec: list of (key_name, vtype, column) with non-null columns;
    feature ids must be non-null (the generic path handles the rest).
    """
    pdf = pdf.sort_values("feature_ordinal", kind="stable")
    z, x, y = int(pdf["z"].iloc[0]), int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
    name = pdf["layer_name"].iloc[0]
    layer_bytes, n, ksize, vsize = _point_layer_bytes(pdf, name, prop_spec)
    return pd.DataFrame(
        [{
            "z": z, "x": x, "y": y, "layer_name": name,
            "num_features": n,
            "key_table_size": ksize,
            "value_table_size": vsize,
            "layer_bytes": layer_bytes,
        }]
    )


def encode_point_layers(features: DataFrame, prop_spec=None) -> DataFrame:
    """Vectorized encode for single-point features with a fixed property
    schema (the 10^12-image hot path). Byte-identical to encode_layers
    on the same input (asserted in tests); use encode_layers for
    multi-part geometries, null ids, or per-row property shapes.

    Routes through the Arrow kernel (applyInArrow over the same
    per-layer groups; strings stay in their utf-8 buffers — the
    encode_point_tiles_arrow path per group); byte parity with the
    pandas kernel pinned in tests/test_fast_encode.py."""
    import pyarrow as pa

    def fn(tbl: "pa.Table") -> "pa.Table":
        tbl = tbl.sort_by([("feature_ordinal", "ascending")])
        z = tbl.column("z")[0].as_py()
        x = tbl.column("x")[0].as_py()
        y = tbl.column("y")[0].as_py()
        name = tbl.column("layer_name")[0].as_py()
        lb, n, ksize, vsize = _point_layer_bytes_arrow(tbl, name,
                                                       prop_spec)
        return pa.table({
            "z": pa.array([z], pa.int64()),
            "x": pa.array([x], pa.int64()),
            "y": pa.array([y], pa.int64()),
            "layer_name": pa.array([name], pa.string()),
            "num_features": pa.array([n], pa.int64()),
            "key_table_size": pa.array([ksize], pa.int32()),
            "value_table_size": pa.array([vsize], pa.int32()),
            "layer_bytes": pa.array([lb], pa.binary()),
        })

    return features.groupBy("z", "x", "y", "layer_name").applyInArrow(
        fn, schema=LAYER_SCHEMA
    )


def encode_point_layers_pandas(features: DataFrame,
                               prop_spec=None) -> DataFrame:
    """The pandas applyInPandas form (parity reference for the Arrow
    kernel above)."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _encode_point_layer_group(pdf, prop_spec)

    return features.groupBy("z", "x", "y", "layer_name").applyInPandas(
        fn, schema=LAYER_SCHEMA
    )


def encode_point_tiles(features: DataFrame, prop_spec=None) -> DataFrame:
    """Fused layer+tile encode: ONE shuffle on (z,x,y), one grouped UDF
    per tile that encodes its layers (layer_name order, SURVEY §2.8)
    and concatenates them into the tile blob. Byte-identical to
    encode_tiles(encode_point_layers(...)) but with half the shuffles
    and no tiny intermediate layer groups — the per-tile grouping is
    also what a 1000-executor run wants: tile count grows with data,
    so parallelism scales while each group stays bounded by the tile's
    feature budget."""
    from ..mvt.pbf import len_field

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        z, x, y = int(pdf["z"].iloc[0]), int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
        pdf = pdf.sort_values(["layer_name", "feature_ordinal"], kind="stable")
        parts = []
        num_layers = 0
        for name, sub in pdf.groupby("layer_name", sort=True):
            layer_bytes, n, _, _ = _point_layer_bytes(sub, name, prop_spec)
            if n > 0:
                parts.append(len_field(T.TILE_LAYERS, layer_bytes))
                num_layers += 1
        return pd.DataFrame(
            [{"z": z, "x": x, "y": y, "num_layers": num_layers,
              "tile_bytes": b"".join(parts)}]
        )

    return features.groupBy("z", "x", "y").applyInPandas(fn, schema=TILE_SCHEMA)


def _encode_tile_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # layer_ordinal (when present, e.g. from decode_layers passthrough)
    # preserves the SOURCE tile's layer order exactly AND keeps
    # zero-feature layers: add_existing_layer copies bytes verbatim
    # (builder.hpp:119-132) — the empty-layer omission only applies to
    # layers BUILT feature by feature (builder_impl.hpp:225-227)
    passthrough = "layer_ordinal" in pdf.columns
    order = "layer_ordinal" if passthrough else "layer_name"
    pdf = pdf.sort_values(order, kind="stable")
    z, x, y = int(pdf["z"].iloc[0]), int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
    # decode_layers error rows carry layer_bytes=NULL; skip them here so
    # unfiltered passthrough pipelines keep the errors-as-data
    # discipline instead of dying on bytes(None) (callers that want the
    # errors still see them on the decode_layers side)
    bad = pdf["layer_bytes"].isna()
    if bad.any():
        pdf = pdf[~bad]
    blobs = [bytes(b) for b in pdf["layer_bytes"]]
    counts = [int(n) for n in pdf["num_features"]]
    tile_bytes = T.build_tile(
        blobs, num_features=None if passthrough else counts)
    n_layers = len(blobs) if passthrough else sum(1 for c in counts if c > 0)
    return pd.DataFrame(
        [{"z": z, "x": x, "y": y,
          "num_layers": n_layers,
          "tile_bytes": tile_bytes}]
    )


def encode_tiles(layers: DataFrame) -> DataFrame:
    """Layer rows -> one MVT blob per tile; layers concatenated in
    layer_name order (deterministic ordinal, SURVEY §2.8) or in
    layer_ordinal order when that column is present (passthrough
    re-assembly keeps the source tile's order); zero-feature layers
    omitted (builder_impl.hpp:225-227)."""
    cols = ["z", "x", "y", "layer_name", "num_features", "layer_bytes"]
    if "layer_ordinal" in layers.columns:
        cols.append("layer_ordinal")
    return layers.select(*cols).groupBy("z", "x", "y").applyInPandas(
        _encode_tile_group, schema=TILE_SCHEMA
    )


LAYER_VIEW_SCHEMA = (
    "z long, x long, y long, layer_ordinal int, layer_name string, "
    "version int, extent int, num_features long, key_table_size int, "
    "value_table_size int, layer_bytes binary, decode_status string"
)


def decode_layers(tiles: DataFrame) -> DataFrame:
    """tiles(z,x,y,tile_bytes) -> one row per LAYER carrying its RAW
    message bytes plus header/dictionary stats — the distributed
    ``add_existing_layer`` surface (builder.hpp:119-132): layer rows
    can be filtered/unioned and re-assembled byte-identically by
    encode_tiles without ever parsing features (feature bodies stay
    untouched views, the copy path of examples/vtzero-filter.cpp:
    66-100)."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            zs = pdf["z"].to_numpy()
            xs = pdf["x"].to_numpy()
            ys = pdf["y"].to_numpy()
            bufs = pdf["tile_bytes"].to_numpy()
            for i in range(len(pdf)):
                z, x, y = int(zs[i]), int(xs[i]), int(ys[i])
                try:
                    views = T.tile_layer_views(bytes(bufs[i]))
                except MVTError as e:
                    rows.append({
                        "z": z, "x": x, "y": y, "layer_ordinal": -1,
                        "layer_name": None, "version": None, "extent": None,
                        "num_features": None, "key_table_size": None,
                        "value_table_size": None, "layer_bytes": None,
                        "decode_status": f"{type(e).__name__}: {e}"})
                    continue
                for li, lv in enumerate(views):
                    try:
                        layer = T.parse_layer(lv, parse_features=False)
                        nfv = layer.num_feature_views  # type: ignore[attr-defined]
                        rows.append({
                            "z": z, "x": x, "y": y, "layer_ordinal": li,
                            "layer_name": layer.name,
                            "version": layer.version, "extent": layer.extent,
                            "num_features": nfv,
                            "key_table_size": len(layer.keys),
                            "value_table_size": len(layer.values),
                            "layer_bytes": bytes(lv),
                            "decode_status": "ok"})
                    except MVTError as e:
                        rows.append({
                            "z": z, "x": x, "y": y, "layer_ordinal": li,
                            "layer_name": None, "version": None,
                            "extent": None, "num_features": None,
                            "key_table_size": None, "value_table_size": None,
                            "layer_bytes": None,
                            "decode_status": f"{type(e).__name__}: {e}"})
            yield pd.DataFrame(rows, columns=[
                "z", "x", "y", "layer_ordinal", "layer_name", "version",
                "extent", "num_features", "key_table_size",
                "value_table_size", "layer_bytes", "decode_status"])

    return tiles.mapInPandas(fn, schema=LAYER_VIEW_SCHEMA)


def select_layer(layers: DataFrame, selector: str,
                 first_match: bool = True) -> DataFrame:
    """Distributed CLI layer selector over decode_layers rows
    (examples/utils.cpp:78-100): all-digits -> by zero-based position
    (layer_ordinal), anything else -> by name. By-name keeps only the
    FIRST matching layer per tile like get_layer_by_name
    (vector_tile.hpp:214-271); pass first_match=False to keep every
    same-named layer."""
    from pyspark.sql.window import Window

    if selector.isdigit():
        return layers.where(F.col("layer_ordinal") == int(selector))
    named = layers.where(F.col("layer_name") == selector)
    if not first_match:
        return named
    w = Window.partitionBy("z", "x", "y")
    return (
        named.withColumn("_first", F.min("layer_ordinal").over(w))
        .where(F.col("layer_ordinal") == F.col("_first"))
        .drop("_first")
    )


_FEATURE_COLS = ["z", "x", "y", "layer_ordinal", "layer_name", "version",
                 "extent", "feature_ordinal", "feature_id", "geom_type",
                 "geometry", "geometry_nbytes", "num_properties",
                 "decode_status"]


def _decode_layer_values(layer) -> tuple[list[str], list]:
    """Resolve a layer's key/value dictionaries ONCE (dictionary-sized
    work, not feature-sized — the analog of vtzero's lazy key_table()/
    value_table() build, layer.hpp:299-330). Each value decodes to the
    typed struct the `properties` map column carries; an invalid value
    entry stays an MVTError marker and only poisons features that
    actually reference it (fixture 038 semantics)."""
    keys_dec = [k.decode("utf-8", errors="surrogateescape")
                for k in layer.keys]
    vals_dec: list = []
    for vb in layer.values:
        try:
            tag, pv = V.decode_value(bytes(vb))
        except MVTError as e:
            vals_dec.append(e)
            continue
        vals_dec.append({
            "vtype": tag,
            "sval": pv if tag == V.VT_STRING else None,
            "dval": float(pv) if tag in (V.VT_FLOAT, V.VT_DOUBLE) else None,
            "ival": (int(pv) if tag in (V.VT_INT, V.VT_UINT, V.VT_SINT)
                     else (int(bool(pv)) if tag == V.VT_BOOL else None)),
        })
    return keys_dec, vals_dec


def _feature_props(f, keys_dec, vals_dec) -> tuple[dict | None, str]:
    """One feature's tag pairs -> properties map cell + status.
    Out-of-range indexes mirror layer.hpp:434-460 (OutOfRangeError) as
    DATA; duplicate keys keep the FIRST pair like vtzero's
    create_properties_map (property_map.hpp map.emplace semantics)."""
    t = f.tags
    if t.size == 0:
        return {}, "ok"
    ki = t[0::2]
    vi = t[1::2]
    if int(ki.max()) >= len(keys_dec):
        return None, f"OutOfRangeError: key index {int(ki.max())} out of range"
    if int(vi.max()) >= len(vals_dec):
        return None, f"OutOfRangeError: value index {int(vi.max())} out of range"
    out = {}
    for a, b in zip(ki, vi):
        v = vals_dec[int(b)]
        if isinstance(v, MVTError):
            return None, f"{type(v).__name__}: {v}"
        out.setdefault(keys_dec[int(a)], v)
    return out, "ok"


def _utf8_safe(s: str) -> str:
    """Spark strings are UTF-8; surrogateescape'd bytes from invalid
    tile content (tile.py keeps raw name/key/value bytes losslessly,
    like vtzero's data_view) cannot cross the Arrow boundary. At the
    DataFrame edge, lone surrogates degrade to U+FFFD; the local parse
    path stays lossless."""
    try:
        s.encode("utf-8")
        return s
    except UnicodeEncodeError:
        return s.encode("utf-8", "surrogateescape").decode("utf-8", "replace")


def _pa_str_array(vals, pa):
    """pa.array over possibly-surrogate strings: fast path straight
    through, sanitize only when encoding fails (malformed tiles)."""
    try:
        return pa.array(vals, pa.string())
    except UnicodeEncodeError:
        return pa.array([None if v is None else _utf8_safe(v)
                         for v in vals], pa.string())


class _LayerValueTables:
    """Columnar form of a layer's decoded key/value dictionaries —
    dictionary-sized work done once per layer (layer.hpp:299-330), laid
    out as arrays so per-feature tag resolution is a pure numpy gather.

    ``canon`` maps each key index to the FIRST index carrying an equal
    decoded string, so first-wins duplicate-key collapse
    (property_map.hpp map.emplace) is an integer comparison."""

    __slots__ = ("keys_dec", "canon", "vtype", "sval", "dval", "dmask",
                 "ival", "imask", "err_msgs", "err_flag", "err_any")

    def __init__(self, keys: list[bytes], values: list[bytes]) -> None:
        self.keys_dec = [k.decode("utf-8", errors="surrogateescape")
                         for k in keys]
        first: dict[str, int] = {}
        self.canon = np.fromiter(
            (first.setdefault(k, i) for i, k in enumerate(self.keys_dec)),
            np.int64, len(self.keys_dec))
        nv = len(values)
        self.vtype = np.zeros(nv, np.int32)
        self.sval: list[str | None] = [None] * nv
        self.dval = np.zeros(nv, np.float64)
        self.dmask = np.zeros(nv, bool)
        self.ival = np.zeros(nv, np.int64)
        self.imask = np.zeros(nv, bool)
        self.err_msgs: list[str | None] = [None] * nv
        self.err_flag = np.zeros(nv, bool)
        for i, vb in enumerate(values):
            try:
                tag, pv = V.decode_value(bytes(vb))
            except MVTError as e:
                self.err_msgs[i] = f"{type(e).__name__}: {e}"
                self.err_flag[i] = True
                continue
            self.vtype[i] = tag
            if tag == V.VT_STRING:
                self.sval[i] = pv
            elif tag in (V.VT_FLOAT, V.VT_DOUBLE):
                self.dval[i] = float(pv)
                self.dmask[i] = True
            else:
                v = int(bool(pv)) if tag == V.VT_BOOL else int(pv)
                # uint values above int64 range wrap two's-complement
                # (the map column carries int64; raw-bytes identity is
                # preserved by the wire, not this view)
                if v >= 1 << 63:
                    v -= 1 << 64
                self.ival[i] = v
                self.imask[i] = True
        self.err_any = bool(self.err_flag.any())


def _bad_feature_status(tags, nk: int, nv: int,
                        err_msgs: list[str | None]) -> str:
    """Exact per-feature error message for a feature flagged bad by the
    vectorized pass — same check order as _feature_props (key range,
    value range, first invalid value entry; layer.hpp:434-460)."""
    t = np.asarray(tags)
    ki = t[0::2]
    vi = t[1::2]
    if int(ki.max()) >= nk:
        return f"OutOfRangeError: key index {int(ki.max())} out of range"
    if int(vi.max()) >= nv:
        return f"OutOfRangeError: value index {int(vi.max())} out of range"
    for b in vi:
        m = err_msgs[int(b)]
        if m is not None:
            return m
    return "ok"


def _resolve_layer_tags(tflat, toff, tabs: _LayerValueTables):
    """Vectorized tag resolution for one layer's features (flat tag
    values + offsets, as tile.parse_features_block lays them out),
    validated with array ops (the columnar analog of
    feature.hpp:298-311 create_properties_map). Returns (kept_key_idx,
    kept_val_idx, per-feature kept-pair counts, per-feature status
    list, per-feature bad mask); rare bad features get their exact
    message from the scalar check."""
    flat = np.asarray(tflat, np.uint64)
    npairs = np.diff(toff) >> 1
    nf = len(npairs)
    nk = len(tabs.keys_dec)
    nv = tabs.vtype.size
    total = int(npairs.sum())
    if total == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.zeros(nf, np.int64), ["ok"] * nf, np.zeros(nf, bool))
    ki = flat[0::2]
    vi = flat[1::2]
    pair_feat = np.repeat(np.arange(nf), npairs)
    bad = (ki >= np.uint64(nk)) | (vi >= np.uint64(nv))
    if tabs.err_any:
        inr = ~bad
        vidx = np.where(inr, vi, 0).astype(np.int64)
        bad |= inr & tabs.err_flag[vidx]
    featbad = np.bincount(pair_feat, weights=bad, minlength=nf) > 0
    statuses = ["ok"] * nf
    if featbad.any():
        for j in np.flatnonzero(featbad):
            statuses[j] = _bad_feature_status(
                flat[toff[j]:toff[j + 1]], nk, nv, tabs.err_msgs)
    goodp = ~featbad[pair_feat]
    gki = ki[goodp].astype(np.int64)
    gvi = vi[goodp].astype(np.int64)
    gfeat = pair_feat[goodp]
    # first-wins duplicate-key collapse on canonical (string-equal) ids:
    # stable lexsort keeps original pair order within (feature, key)
    ck = tabs.canon[gki]
    order = np.lexsort((ck, gfeat))
    sk = ck[order]
    sf = gfeat[order]
    dup = np.zeros(order.size, bool)
    dup[1:] = (sk[1:] == sk[:-1]) & (sf[1:] == sf[:-1])
    keep = np.sort(order[~dup])
    counts = np.bincount(gfeat[keep], minlength=nf).astype(np.int64)
    return gki[keep], gvi[keep], counts, statuses, featbad


def _decode_tile_batch(batches: Iterator[pd.DataFrame],
                       want_props: bool = False) -> Iterator[pd.DataFrame]:
    cols = _FEATURE_COLS + (["properties"] if want_props else [])
    for pdf in batches:
        # columnar accumulation: one chunk of arrays per parsed layer —
        # no per-feature dict rows (the decode analog of the vectorized
        # encode path); rare error rows keep the dict slow path
        acc: dict[str, list] = {c: [] for c in cols}
        err_rows: list[dict] = []

        def err(z, x, y, li, e):
            err_rows.append({
                "z": z, "x": x, "y": y, "layer_ordinal": li,
                "layer_name": None, "version": None, "extent": None,
                "feature_ordinal": -1, "feature_id": None,
                "geom_type": None, "geometry": None,
                "geometry_nbytes": None, "num_properties": None,
                "decode_status": f"{type(e).__name__}: {e}",
                **({"properties": None} if want_props else {}),
            })

        zs = pdf["z"].to_numpy(np.int64)
        xs = pdf["x"].to_numpy(np.int64)
        ys = pdf["y"].to_numpy(np.int64)
        for ri in range(len(pdf)):
            z, x, y = int(zs[ri]), int(xs[ri]), int(ys[ri])
            try:
                views = T.tile_layer_views(bytes(pdf["tile_bytes"].iloc[ri]))
            except MVTError as e:
                err(z, x, y, -1, e)
                continue
            for li, lv in enumerate(views):
                try:
                    layer = T.parse_layer(lv)
                except MVTError as e:
                    err(z, x, y, li, e)
                    continue
                feats = layer.features
                nf = len(feats)
                if nf == 0:
                    continue
                acc["z"].append(np.full(nf, z, np.int64))
                acc["x"].append(np.full(nf, x, np.int64))
                acc["y"].append(np.full(nf, y, np.int64))
                acc["layer_ordinal"].append(np.full(nf, li, np.int64))
                acc["layer_name"].append([layer.name] * nf)
                acc["version"].append(np.full(nf, layer.version, np.int64))
                acc["extent"].append(np.full(nf, layer.extent, np.int64))
                acc["feature_ordinal"].append(np.arange(nf, dtype=np.int64))
                acc["feature_id"].append([f.id for f in feats])
                acc["geom_type"].append(
                    np.fromiter((f.geom_type for f in feats), np.int64, nf))
                acc["geometry"].append(
                    [f.geometry.astype(np.int64) for f in feats])
                acc["geometry_nbytes"].append(
                    np.fromiter((f.geometry_nbytes for f in feats),
                                np.int64, nf))
                acc["num_properties"].append(
                    np.fromiter((f.tags.size // 2 for f in feats),
                                np.int64, nf))
                if want_props:
                    keys_dec, vals_dec = _decode_layer_values(layer)
                    props_col: list = []
                    status_col: list = []
                    for f in feats:
                        p, st = _feature_props(f, keys_dec, vals_dec)
                        props_col.append(p)
                        status_col.append(st)
                    acc["properties"].append(props_col)
                    acc["decode_status"].append(status_col)
                else:
                    acc["decode_status"].append(["ok"] * nf)

        if acc["z"]:
            data = {}
            for c in cols:
                chunks = acc[c]
                data[c] = (np.concatenate(chunks)
                           if isinstance(chunks[0], np.ndarray)
                           else [v for ch in chunks for v in ch])
            ok_frame = pd.DataFrame(data, columns=cols)
        else:
            ok_frame = pd.DataFrame(columns=cols)
        if err_rows:
            yield pd.concat(
                [ok_frame, pd.DataFrame(err_rows, columns=cols)],
                ignore_index=True)[cols]
        else:
            yield ok_frame


_PROPS_ITEM_TYPE = None  # built lazily (pyarrow import stays local)


def _props_arrow_type():
    import pyarrow as pa
    global _PROPS_ITEM_TYPE
    if _PROPS_ITEM_TYPE is None:
        _PROPS_ITEM_TYPE = pa.map_(pa.string(), pa.struct([
            pa.field("vtype", pa.int32()), pa.field("sval", pa.string()),
            pa.field("dval", pa.float64()), pa.field("ival", pa.int64()),
        ]))
    return _PROPS_ITEM_TYPE


def _decode_tile_batches_arrow(batches, want_props: bool = False):
    """Arrow-native decode over tile.scan_tile_batch: each chunk of an
    Arrow batch (tile.SCAN_CHUNK_BYTES input bytes) is parsed as one
    layer table plus one columnar feature block, and every output
    column is a gather from them by the feature's layer id. The
    geometry column is ONE zero-copy ListArray from the block's flat
    command values + offsets; command ints never become Python
    objects. Error rows (tiles or layers whose parse raised) follow
    as one small batch per Arrow batch.

    With ``want_props`` the decoded key/value map column is assembled
    columnar too: per-layer dictionaries resolve once into value
    tables (_LayerValueTables), tag pairs gather by index, and the map
    column is ONE pa.MapArray built from offsets — no per-feature
    Python dicts (the distributed, vectorized form of
    layer.hpp:424-508 + feature.hpp:298-311)."""
    import pyarrow as pa

    fields = [
        ("z", pa.int64()), ("x", pa.int64()), ("y", pa.int64()),
        ("layer_ordinal", pa.int32()), ("layer_name", pa.string()),
        ("version", pa.int32()), ("extent", pa.int32()),
        ("feature_ordinal", pa.int32()), ("feature_id", pa.int64()),
        ("geom_type", pa.int32()), ("geometry", pa.list_(pa.int64())),
        ("geometry_nbytes", pa.int32()), ("num_properties", pa.int32()),
        ("decode_status", pa.string()),
    ]
    if want_props:
        fields.append(("properties", _props_arrow_type()))
    schema = pa.schema(fields)

    for batch in batches:
        zxy = [batch.column(c).to_numpy(zero_copy_only=False)
               .astype(np.int64) for c in ("z", "x", "y")]
        bufs = batch.column("tile_bytes").to_pylist()
        err_rows: list[tuple] = []
        for lo, hi in T.scan_chunks([len(b) for b in bufs]):
            s = T.scan_tile_batch(bufs[lo:hi])
            err_rows += [(lo + ti, -1, e)
                         for ti, e in enumerate(s.tile_err) if e]
            err_rows += [(lo + int(s.tile[li]), int(s.ordinal[li]), e)
                         for li, e in enumerate(s.err) if e]
            if s.features["ids"].size:
                yield _decode_scan_batch(s, [c[lo:hi] for c in zxy],
                                         want_props, schema, pa)
        if err_rows:
            # tile order, each tile's layers in order
            err_rows.sort(key=lambda r: r[0])
            ti_, li_, e_ = zip(*err_rows)
            ti_ = np.array(ti_, np.int64)
            n = len(err_rows)
            none = [None] * n
            err_cols = [
                pa.array(zxy[0][ti_], pa.int64()),
                pa.array(zxy[1][ti_], pa.int64()),
                pa.array(zxy[2][ti_], pa.int64()),
                pa.array(li_, pa.int32()),
                pa.array(none, pa.string()),
                pa.array(none, pa.int32()), pa.array(none, pa.int32()),
                pa.array([-1] * n, pa.int32()),
                pa.array(none, pa.int64()), pa.array(none, pa.int32()),
                pa.array(none, pa.list_(pa.int64())),
                pa.array(none, pa.int32()), pa.array(none, pa.int32()),
                pa.array([f"{type(e).__name__}: {e}" for e in e_],
                         pa.string()),
            ]
            if want_props:
                err_cols.append(pa.nulls(n, _props_arrow_type()))
            yield pa.RecordBatch.from_arrays(err_cols, schema=schema)


def _decode_scan_batch(s, zxy, want_props: bool, schema, pa):
    """One RecordBatch of feature rows from a tile scan (see
    _decode_tile_batches_arrow)."""
    F = s.features
    fl = F["layer"]
    nf = fl.size
    ft = s.tile[fl]
    goff = F["goff"].astype(np.int32)
    toff = F["toff"]
    cols = {
        "z": zxy[0][ft], "x": zxy[1][ft], "y": zxy[2][ft],
        "layer_ordinal": s.ordinal[fl],
        "layer_name": _pa_str_array(s.name, pa).take(pa.array(fl)),
        "version": s.version[fl], "extent": s.extent[fl],
        "feature_ordinal": np.arange(nf) - s.foff[fl],
        "feature_id": pa.array(F["ids"].astype(np.int64), pa.int64(),
                               mask=~F["has_id"]),
        "geom_type": F["gtypes"],
        "geometry": pa.ListArray.from_arrays(
            pa.array(goff, pa.int32()),
            pa.array(F["gflat"].astype(np.int64), pa.int64())),
        "geometry_nbytes": F["gnb"],
        "num_properties": np.diff(toff) >> 1,
    }
    if not want_props:
        cols["decode_status"] = pa.array(["ok"] * nf, pa.string())
    else:
        # props accumulators: indices are re-based into the batch-wide
        # concatenated key/value tables so one gather serves all layers
        pair_k_parts: list[np.ndarray] = []
        pair_v_parts: list[np.ndarray] = []
        counts_parts: list[np.ndarray] = []
        bad_parts: list[np.ndarray] = []
        status: list[str] = []
        keys_strs: list[str | None] = []
        val_tabs: list[_LayerValueTables] = []
        key_base = 0
        val_base = 0
        for li in np.flatnonzero(np.diff(s.foff)).tolist():
            tabs = _LayerValueTables(
                s.keys[s.koff[li]:s.koff[li + 1]],
                s.values[s.voff[li]:s.voff[li + 1]])
            a, b = s.foff[li], s.foff[li + 1]
            kki, kvi, counts, statuses, featbad = \
                _resolve_layer_tags(
                    F["tflat"][toff[a]:toff[b]], toff[a:b + 1] - toff[a],
                    tabs)
            pair_k_parts.append(kki + key_base)
            pair_v_parts.append(kvi + val_base)
            counts_parts.append(counts)
            bad_parts.append(featbad)
            status += statuses
            keys_strs.extend(tabs.keys_dec)
            val_tabs.append(tabs)
            key_base += len(tabs.keys_dec)
            val_base += tabs.vtype.size
        keys_tab = _pa_str_array(keys_strs, pa)
        items_tab = pa.StructArray.from_arrays([
            pa.array(np.concatenate([t.vtype for t in val_tabs]),
                     pa.int32()),
            _pa_str_array([v for t in val_tabs for v in t.sval], pa),
            pa.array(np.concatenate([t.dval for t in val_tabs]),
                     pa.float64(),
                     mask=~np.concatenate([t.dmask for t in val_tabs])),
            pa.array(np.concatenate([t.ival for t in val_tabs]),
                     pa.int64(),
                     mask=~np.concatenate([t.imask for t in val_tabs])),
        ], names=["vtype", "sval", "dval", "ival"])
        pair_keys = keys_tab.take(
            pa.array(np.concatenate(pair_k_parts), pa.int64()))
        pair_items = items_tab.take(
            pa.array(np.concatenate(pair_v_parts), pa.int64()))
        bad_all = np.concatenate(bad_parts)
        good_counts = np.concatenate(counts_parts)[~bad_all]
        offs = np.zeros(good_counts.size + 1, np.int32)
        np.cumsum(good_counts, out=offs[1:])
        good_map = pa.MapArray.from_arrays(
            pa.array(offs, pa.int32()), pair_keys, pair_items)
        # bad features -> null map via take with null index
        idx = (np.cumsum(~bad_all) - 1).astype(np.int32)
        cols["properties"] = good_map.take(
            pa.array(idx, pa.int32(), mask=bad_all))
        cols["decode_status"] = pa.array(status, pa.string())
    return pa.RecordBatch.from_arrays(
        [cols[f.name] if isinstance(cols[f.name], (pa.Array, pa.ChunkedArray))
         else pa.array(cols[f.name], f.type) for f in schema],
        schema=schema)


def decode_tiles_arrow(tiles: DataFrame, properties: bool = False) -> DataFrame:
    """Arrow-native decode_tiles (mapInArrow): identical rows to
    decode_tiles, with the geometry column assembled zero-copy from
    flat command values + offsets — the scale path when downstream
    consumers are themselves vectorized. ``properties=True`` adds the
    decoded key/value map column, also assembled columnar (one
    MapArray per batch from gathered dictionary tables)."""
    if properties:
        return tiles.mapInArrow(
            lambda it: _decode_tile_batches_arrow(it, want_props=True),
            schema=FEATURE_PROPS_SCHEMA)
    return tiles.mapInArrow(_decode_tile_batches_arrow,
                            schema=FEATURE_SCHEMA)


def decode_tiles(tiles: DataFrame, properties: bool = False) -> DataFrame:
    """tiles(z,x,y,tile_bytes) -> one row per feature (Arrow-batched;
    malformed content becomes decode_status rows, not task failures).

    With ``properties=True`` each feature also carries its DECODED
    key/value pairs as ``properties map<string, struct<vtype, sval,
    dval, ival>>`` — the distributed form of the reference's core read
    path (layer.hpp:424-508 key/value resolution + feature.hpp:298-311
    create_properties_map). Dictionary resolution is per-layer work;
    out-of-range tag indexes and invalid value entries become
    OutOfRangeError / FormatError decode_status rows (fixtures
    040/042/038), never task failures.

    Both modes are Arrow-native (mapInArrow; the geometry column is
    assembled zero-copy from flat command values + offsets, properties
    as one MapArray per batch) — the pandas twin `_decode_tile_batch`
    is kept as the scalar reference for fuzz/parity tests."""
    return decode_tiles_arrow(tiles, properties=properties)


def decoded_points(features: DataFrame) -> DataFrame:
    """Expand decoded single-MoveTo point geometries to coordinates with
    pure column math (zigzag via bit ops) — no Python for the common
    case. geometry = [MoveTo(1..n), zz(dx1), zz(dy1), ...]; first point
    = zigzag_decode(geometry[1]), zigzag_decode(geometry[2])."""
    def zzdec(v: str) -> str:
        m = f"(CAST({v} AS BIGINT) % 4294967296)"
        return f"(CASE WHEN {m} % 2 = 0 THEN {m} div 2 ELSE -({m} div 2) - 1 END)"

    return features.where(F.col("geom_type") == G.GEOM_POINT).withColumn(
        "pt_x", F.expr(zzdec("geometry[1]")).cast("int")
    ).withColumn("pt_y", F.expr(zzdec("geometry[2]")).cast("int"))
