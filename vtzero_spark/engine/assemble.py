"""Tile/layer/feature assembly and disassembly on Spark.

Write path (SURVEY §3.2): features -> repartition(z,x,y) ->
sortWithinPartitions(z,x,y,layer_name,feature_ordinal nulls last) ->
mapInArrow batch encode -> tile_bytes. One encoder serves single points
(encode_point_tiles, from loc_x/loc_y) and pre-built command streams
(encode_geom_tiles, from a geometry column); encode_point_layers emits
the same layers one row each. Ordering discipline (SURVEY §2.8): Spark
gives no intra-partition order guarantees, so the plan sorts every
tile's rows by layer_name and feature_ordinal before encoding —
dictionary first-appearance order and feature order then match a
sequential vtzero builder run exactly. A NULL feature_id writes the
feature without an id (vtzero's has_id() == false). The generic
encode_layers/encode_tiles pair (per feature, any geometry) is the
reference the batch encoder is pinned against.

Read path (SURVEY §3.1): tiles -> mapInArrow decode -> one row per
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


# ------------------------------------------------- vectorized tile encode

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


def _canon_keys(vtype: int, uniq):
    """A property column's unique values -> keys whose equality is
    equality of the encoded value bytes: floats compare by the bits of
    their wire width (so +0.0 and -0.0 stay apart, and doubles that
    round to one float32 merge), integers by their int64 bits. Strings
    stay as they are (Arrow or object arrays)."""
    if vtype == V.VT_STRING:
        return uniq
    a = _as_np(uniq)
    if vtype == V.VT_FLOAT:
        return a.astype("<f4").view("<u4")
    if vtype == V.VT_DOUBLE:
        return a.astype("<f8").view("<u8")
    if vtype == V.VT_BOOL:
        return a.astype(np.uint8)
    if vtype in _VARINT_VTYPES:
        return a.astype(np.int64)
    raise ValueError(f"unknown vtype {vtype}")


def _build_value_dict_arrow(tbl, prop_spec, seg=None):
    """Arrow frontend of _value_dict_core: dictionary_encode keeps
    strings in Arrow buffers (no Python-object churn — the hot path at
    scale)."""
    import pyarrow.compute as pc

    factorized = []
    for _, vtype, col in prop_spec:
        d = pc.dictionary_encode(tbl.column(col).combine_chunks())
        factorized.append((
            vtype,
            d.indices.to_numpy(zero_copy_only=False).astype(np.int64),
            d.dictionary,
        ))
    return _value_dict_core(factorized, seg)


def _value_dict_core(factorized, seg=None):
    """Vectorized value-dictionary build for one or many layers.

    Input: per property column (vtype, codes (n,), uniques) in key
    order, and optionally ``seg``, a nondecreasing layer id per row
    (rows of one layer are contiguous; default: one layer). Each layer
    gets its own dictionary with vtzero's exact semantics: value
    identity is the encoded bytes (property_value.hpp:232-260) — equal
    (vtype, value) pairs across columns share one entry — and indexes
    are assigned in first appearance order of the layer's interleaved
    feature-major stream (builder_impl.hpp:104-147).

    Returns (final_codes (n, ncols) per-layer indexes, values_section
    bytes of every layer back to back, entry_off (nseg+1) and byte_off
    (nseg+1) cutting that section per layer). No per-unique or
    per-layer Python: dictionary_encode for dedup, one np.unique over
    (layer, value) for the ranks, _values_section for the table.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    ncols = len(factorized)
    col_codes = [codes for _, codes, _ in factorized]
    n = col_codes[0].size

    # per-vtype cross-column dedup on the encoded-bytes identity:
    # value ids [0, total) over the whole input
    groups: dict[int, list[int]] = {}
    for ci, (vtype, _, _) in enumerate(factorized):
        groups.setdefault(vtype, []).append(ci)
    canon_vals: dict[int, object] = {}
    col_maps: list[np.ndarray | None] = [None] * ncols
    vt_parts: list[np.ndarray] = []
    ix_parts: list[np.ndarray] = []
    total = 0
    for vtype, cols_idx in groups.items():
        keys = [_canon_keys(vtype, factorized[ci][2]) for ci in cols_idx]
        if len(cols_idx) == 1 and vtype != V.VT_FLOAT:
            vals = keys[0]  # already distinct
            maps = [np.arange(len(vals), dtype=np.int64)]
        else:
            d = pc.dictionary_encode(pa.concat_arrays(
                [k if isinstance(k, pa.Array) else pa.array(k) for k in keys]))
            vals = d.dictionary if vtype == V.VT_STRING \
                else d.dictionary.to_numpy(zero_copy_only=False)
            cuts = np.cumsum([len(k) for k in keys])[:-1]
            maps = np.split(_as_np(d.indices, np.int64), cuts)
        for ci, m in zip(cols_idx, maps):
            col_maps[ci] = m + total
        canon_vals[vtype] = vals
        vt_parts.append(np.full(len(vals), vtype, np.int64))
        ix_parts.append(np.arange(len(vals), dtype=np.int64))
        total += len(vals)

    # one np.unique over (layer, value id) in the interleaved stream:
    # its first indexes order the entries by (layer, first appearance),
    # its inverse gives every tag its entry
    stream = np.stack(
        [col_maps[ci][col_codes[ci]] for ci in range(ncols)], axis=1)
    seg = np.zeros(n, np.int64) if seg is None else seg
    nseg = int(seg[-1]) + 1 if n else 1
    keyed = (seg[:, None] * total + stream).reshape(-1)
    uniq, first, inverse = np.unique(
        keyed, return_index=True, return_inverse=True)
    order = np.argsort(first, kind="stable")
    rank = np.empty_like(order)
    rank[order] = np.arange(order.size)
    entry_key = uniq[order]
    entry_off = np.searchsorted(entry_key // max(total, 1),
                                np.arange(nseg + 1))
    final_codes = (rank[inverse].reshape(n, ncols)
                   - entry_off[seg][:, None])

    vid = entry_key % max(total, 1)
    values_section, item_off = _values_section(
        np.concatenate(vt_parts)[vid], np.concatenate(ix_parts)[vid],
        canon_vals)
    return final_codes, values_section, entry_off, item_off[entry_off]


def _values_section(vt_ord: np.ndarray, ix_ord: np.ndarray, canon_vals):
    """Value-table bytes: entry i is ``canon_vals[vt_ord[i]][ix_ord[i]]``
    (per vtype, the keys _canon_keys gives: strings, int64 or the
    bool/float/double wire bits), each wrapped in its LAYER_VALUES
    len-field, back to back; plus the (n + 1) byte offsets of those
    fields. One scatter pass per vtype (types.hpp:141-186)."""
    from ..mvt.pbf import (
        copy_segments, encode_varint_array, pack_len_fields,
        strings_to_buffer, varint_len_array,
    )

    nent = vt_ord.size
    entry_len = np.empty(nent, dtype=np.int64)
    payloads = []
    for vtype, vals in canon_vals.items():
        sel = vt_ord == vtype
        ix = ix_ord[sel]
        if vtype == V.VT_STRING:
            buf, offs = strings_to_buffer(vals)
            slen = (offs[1:] - offs[:-1])[ix]
            lenlens = varint_len_array(slen)
            entry_len[sel] = 1 + lenlens + slen
            payload = (buf, offs[:-1][ix], slen, lenlens)
        elif vtype in _VARINT_VTYPES:
            payload = vals[ix]
            if vtype == V.VT_SINT:
                payload = (payload << 1) ^ (payload >> 63)
            payload = payload.astype(np.uint64)
            entry_len[sel] = 1 + varint_len_array(payload)
        else:
            # bool / float / double: the canonical keys are the payload
            payload = np.ascontiguousarray(vals[ix])
            entry_len[sel] = 1 + payload.dtype.itemsize
        payloads.append((vtype, sel, payload))

    offsets = np.zeros(nent + 1, dtype=np.int64)
    np.cumsum(entry_len, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    starts = offsets[:-1]
    out[starts] = _VT_PREFIX[vt_ord]
    for vtype, sel, payload in payloads:
        dst = starts[sel] + 1
        if vtype == V.VT_STRING:
            buf, src, slen, lenlens = payload
            lenbuf = np.frombuffer(encode_varint_array(slen), dtype=np.uint8)
            copy_segments(lenbuf, np.cumsum(lenlens) - lenlens, lenlens,
                          out, dst)
            copy_segments(buf, src, slen, out, dst + lenlens)
        elif vtype in _VARINT_VTYPES:
            vlens = entry_len[sel] - 1
            vbuf = np.frombuffer(encode_varint_array(payload), dtype=np.uint8)
            copy_segments(vbuf, np.cumsum(vlens) - vlens, vlens, out, dst)
        else:
            width = payload.dtype.itemsize
            out[dst[:, None] + np.arange(width)] = \
                payload.view(np.uint8).reshape(-1, width)
    item_len = 1 + varint_len_array(entry_len) + entry_len
    item_off = np.zeros(nent + 1, dtype=np.int64)
    np.cumsum(item_len, out=item_off[1:])
    return pack_len_fields(T.LAYER_VALUES, out, offsets), item_off


def _geomstream_features_bytes(ids: np.ndarray, has_id: np.ndarray,
                               gtypes: np.ndarray, gflat: np.ndarray,
                               goffsets: np.ndarray, final_codes,
                               nprops: int) -> tuple[bytes, np.ndarray]:
    """Features-section bytes — every feature message in vtzero's field
    order (type, id, geometry, tags; builder.hpp:596-599,429-436), each
    wrapped in its LAYER_FEATURES len-field — plus each feature's byte
    length in it.

    Geometry arrives as one flat command-int array cut per feature by
    ``goffsets`` (n + 1). Where ``has_id`` is False the id field is
    left out (vtzero's has_id() == false).
    ``final_codes`` (n, nprops) are the features' value indexes, key i
    being property i. The section is a concatenation of varints, so the
    fields are scattered into one flat uint64 stream and encoded by one
    encode_varint_array — no per-feature Python. A layer's section is
    the plain concatenation of its chunks' sections (hot_tiles)."""
    from ..mvt.pbf import copy_segments, encode_varint_array, varint_len_array

    n = len(ids)
    ids = ids.astype(np.uint64)  # a negative id wraps like vtzero's uint64
    gvals = np.ascontiguousarray(gflat, dtype=np.int64).astype(np.uint64)
    glens = np.diff(goffsets)
    gcum = np.zeros(gvals.size + 1, np.int64)
    np.cumsum(varint_len_array(gvals), out=gcum[1:])
    geom_len = gcum[goffsets[1:]] - gcum[goffsets[:-1]]
    id_n = 2 * has_id.astype(np.int64)

    # per feature: 18, feat_len | 24, gtype | [8, id] | 34, geom_len |
    # geometry | [18, tags_len, k0, v0, ...]
    feat_len = (1 + varint_len_array(gtypes)
                + has_id * (1 + varint_len_array(ids))
                + 1 + varint_len_array(geom_len) + geom_len)
    ntags = 2 + 2 * nprops if nprops else 0
    if nprops:
        tags = np.empty((n, ntags), dtype=np.uint64)
        tags[:, 0] = 18  # key(FEATURE_TAGS=2, len)
        tags[:, 2::2] = np.arange(nprops, dtype=np.uint64)  # key indexes
        tags[:, 3::2] = final_codes.astype(np.uint64)
        tags[:, 1] = varint_len_array(tags[:, 2:]).sum(axis=1)
        feat_len += varint_len_array(tags).sum(axis=1)

    per_feat = 6 + id_n + glens + ntags
    ends = np.cumsum(per_feat)
    starts = ends - per_feat
    flat = np.empty(int(ends[-1]) if n else 0, dtype=np.uint64)
    flat[starts] = 18  # key(LAYER_FEATURES=2, len)
    flat[starts + 1] = feat_len
    flat[starts + 2] = 24  # key(FEATURE_TYPE=3, varint)
    flat[starts + 3] = gtypes
    id_pos = (starts + 4)[has_id]
    flat[id_pos] = 8  # key(FEATURE_ID=1, varint)
    flat[id_pos + 1] = ids[has_id]
    geom_pos = starts + 4 + id_n
    flat[geom_pos] = 34  # key(FEATURE_GEOMETRY=4, len)
    flat[geom_pos + 1] = geom_len
    copy_segments(gvals, goffsets[:-1], glens, flat, geom_pos + 2)
    tag_pos = geom_pos + 2 + glens
    for j in range(ntags):
        flat[tag_pos + j] = tags[:, j]
    row_len = 1 + varint_len_array(feat_len) + feat_len
    return encode_varint_array(flat), row_len


def _command_streams(tbl) -> tuple[np.ndarray, np.ndarray]:
    """A chunk's command streams as (flat command ints, offsets (n + 1)):
    the ``geometry`` list column's values cut by its offsets (a NULL
    stream is empty), or without that column one MoveTo(1)
    [9, zz(loc_x), zz(loc_y)] per row."""
    n = tbl.num_rows
    if "geometry" in tbl.column_names:
        ga = tbl.column("geometry").combine_chunks()
        glens = np.diff(ga.offsets.to_numpy().astype(np.int64))
        if ga.null_count:
            glens[ga.is_null().to_numpy(zero_copy_only=False)] = 0
        goffsets = np.zeros(n + 1, np.int64)
        np.cumsum(glens, out=goffsets[1:])
        # flatten() honours the slice offset and skips NULL slots
        return ga.flatten().to_numpy(zero_copy_only=False), goffsets
    lx, ly = (tbl.column(c).to_numpy().astype(np.int64)
              for c in ("loc_x", "loc_y"))
    cmds = np.empty((n, 3), np.int64)
    cmds[:, 0] = 9  # MoveTo(count=1)
    cmds[:, 1] = ((lx << 1) ^ (lx >> 63)) & 0xFFFFFFFF
    cmds[:, 2] = ((ly << 1) ^ (ly >> 63)) & 0xFFFFFFFF
    return cmds.reshape(-1), np.arange(n + 1, dtype=np.int64) * 3


def _features_section(tbl, codes, nprops: int) -> tuple[bytes, np.ndarray]:
    """_geomstream_features_bytes over a chunk's feature_id, geom_type
    (POINT without that column) and command-stream columns; a NULL
    feature_id leaves that feature's id out."""
    fid = tbl.column("feature_id")
    gtypes = (tbl.column("geom_type").to_numpy().astype(np.int64)
              if "geom_type" in tbl.column_names
              else np.full(tbl.num_rows, G.GEOM_POINT, np.int64))
    return _geomstream_features_bytes(
        fid.fill_null(0).to_numpy().astype(np.int64),
        fid.is_valid().to_numpy(), gtypes, *_command_streams(tbl), codes,
        nprops)


# Rows one kernel call encodes at most: complete tiles are packed into
# chunks of this many rows, cut at tile starts (a larger tile goes
# alone). Bounds a Python worker's transient arrays at a few MB.
ENCODE_CHUNK_ROWS = 8192


def _tile_starts(tbl) -> np.ndarray:
    """Row indexes where a new (z, x, y) begins in a (z, x, y)-sorted
    table (0 included for a nonempty table)."""
    z, x, y = (tbl.column(c).to_numpy().astype(np.int64)
               for c in ("z", "x", "y"))
    new = np.ones(len(z), bool)
    new[1:] = (z[1:] != z[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])
    return np.flatnonzero(new)


def _encode_chunk(tbl, prop_spec, per_layer: bool):
    """The batch tile encoder: a table of whole tiles, rows sorted by
    (z, x, y, layer_name, feature_ordinal) -> one RecordBatch with a
    row per tile (TILE_SCHEMA) or, with ``per_layer``, per layer
    (LAYER_SCHEMA).

    Every array pass covers the whole chunk: one dictionary build with
    a dictionary per (tile, layer) segment (_value_dict_core), one
    varint pass for every feature (_features_section), one for every
    value entry; only the final join of header, features, keys and
    values slices into layer messages loops over segments."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..mvt.pbf import len_field, varint_field

    prop_spec = prop_spec or []
    present = tbl.column_names
    non_null = ["layer_name"] + [c for _, _, c in prop_spec]
    non_null += ["geom_type"] if "geom_type" in present else []
    non_null += [] if "geometry" in present else ["loc_x", "loc_y"]
    for col in non_null:
        if tbl.column(col).null_count:
            raise ValueError(
                f"tile encode: column {col!r} must be non-null (a NULL "
                "has no MVT wire form here; filter or fill before "
                "encoding, or use encode_layers)")
    n = tbl.num_rows
    tile_start = np.zeros(n, bool)
    tile_start[_tile_starts(tbl)] = True
    names = pc.dictionary_encode(tbl.column("layer_name").combine_chunks())
    lcode = names.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    new_seg = tile_start.copy()
    new_seg[1:] |= lcode[1:] != lcode[:-1]
    seg = np.cumsum(new_seg) - 1
    seg_row = np.append(np.flatnonzero(new_seg), n)
    nseg = seg_row.size - 1

    nprops = len(prop_spec)
    codes = None
    vsection = b""
    entry_off = byte_off = np.zeros(nseg + 1, np.int64)
    if nprops:
        codes, vsection, entry_off, byte_off = _build_value_dict_arrow(
            tbl, prop_spec, seg)
    fsection, row_len = _features_section(tbl, codes, nprops)
    feat_off = np.zeros(n + 1, np.int64)
    np.cumsum(row_len, out=feat_off[1:])
    feat_off = feat_off[seg_row].tolist()
    byte_off = byte_off.tolist()

    headers = [varint_field(T.LAYER_VERSION, 2)
               + len_field(T.LAYER_NAME, s.encode("utf-8"))
               + varint_field(T.LAYER_EXTENT, 4096)
               for s in names.dictionary.to_pylist()]
    keys = b"".join(len_field(T.LAYER_KEYS, k.encode("utf-8"))
                    for k, _, _ in prop_spec)
    seg_name = lcode[seg_row[:-1]]
    layers = [b"".join((headers[seg_name[s]],
                        fsection[feat_off[s]:feat_off[s + 1]], keys,
                        vsection[byte_off[s]:byte_off[s + 1]]))
              for s in range(nseg)]

    first = seg_row[:-1] if per_layer else np.flatnonzero(tile_start)
    cols = {c: pa.array(tbl.column(c).to_numpy()[first], pa.int64())
            for c in ("z", "x", "y")}
    if per_layer:
        cols["layer_name"] = names.dictionary.take(pa.array(seg_name))
        cols["num_features"] = pa.array(np.diff(seg_row), pa.int64())
        cols["key_table_size"] = pa.array(np.full(nseg, nprops), pa.int32())
        cols["value_table_size"] = pa.array(np.diff(entry_off), pa.int32())
        cols["layer_bytes"] = pa.array(layers, pa.binary())
    else:
        # a tile is its layers, each wrapped in a TILE_LAYERS field
        tile_seg = np.append(np.flatnonzero(tile_start[seg_row[:-1]]), nseg)
        cols["num_layers"] = pa.array(np.diff(tile_seg), pa.int32())
        cols["tile_bytes"] = pa.array(
            [b"".join(len_field(T.TILE_LAYERS, lb) for lb in layers[a:b])
             for a, b in zip(tile_seg[:-1].tolist(), tile_seg[1:].tolist())],
            pa.binary())
    return pa.RecordBatch.from_pydict(cols)


def _encode_point_batches(batches, prop_spec, per_layer: bool):
    """mapInArrow body over a (z, x, y)-partitioned, sorted partition:
    a tile may straddle Arrow batches, so each batch's trailing tile is
    carried into the next; complete tiles are encoded in chunks of at
    most ENCODE_CHUNK_ROWS rows, cut at tile starts."""
    import pyarrow as pa

    carry = None
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        if carry is not None:
            tbl = pa.concat_tables([carry, tbl])
        if tbl.num_rows == 0:
            continue
        starts = _tile_starts(tbl)
        yield from _encode_chunks(tbl, starts[:-1], starts[-1],
                                  prop_spec, per_layer)
        carry = tbl.slice(starts[-1])
    if carry is not None:
        yield from _encode_chunks(carry, np.zeros(1, np.int64),
                                  carry.num_rows, prop_spec, per_layer)


def _encode_chunks(tbl, starts, end, prop_spec, per_layer: bool):
    """Encode tbl[:end] — whole tiles beginning at ``starts`` — in
    chunks of at most ENCODE_CHUNK_ROWS rows cut at tile starts."""
    bounds = np.append(starts, end)
    i = 0
    while i < starts.size:
        j = int(np.searchsorted(bounds, bounds[i] + ENCODE_CHUNK_ROWS,
                                side="right")) - 1
        j = max(j, i + 1)
        a, b = int(bounds[i]), int(bounds[j])
        yield _encode_chunk(tbl.slice(a, b - a), prop_spec, per_layer)
        i = j


def _sorted_for_encode(features: DataFrame) -> DataFrame:
    """One (z, x, y) hash exchange, then a within-partition sort that
    puts every tile's rows together in layer_name, feature_ordinal
    order, a NULL ordinal last (SURVEY §2.8) — the order a sequential
    vtzero builder run would add them, and encode_layers' order."""
    return features.repartition("z", "x", "y").sortWithinPartitions(
        "z", "x", "y", "layer_name", F.asc_nulls_last("feature_ordinal"))


def encode_point_tiles(features: DataFrame, prop_spec=None) -> DataFrame:
    """Fused layer+tile encode for features with a fixed property
    schema (the 10^12-image hot path): ONE shuffle on (z,x,y), then a
    mapInArrow pass that encodes whole Arrow batches with the batch
    tile encoder (_encode_chunk; layers in layer_name order,
    zero-feature layers cannot occur). Byte-identical to
    encode_tiles(encode_layers(...)) on the same input (asserted in
    tests). Strings never become Python objects: Arrow
    dictionary_encode on the utf-8 buffers, tables by numpy scatter.

    features: z, x, y, layer_name, feature_ordinal, feature_id, loc_x,
    loc_y and the prop_spec columns; prop_spec: list of (key_name,
    vtype, column). A ``geometry`` command-stream column replaces
    loc_x/loc_y and a ``geom_type`` column the POINT type
    (encode_geom_tiles). A NULL feature_id writes the feature without
    an id (vtzero's has_id() == false); a NULL feature_ordinal sorts
    last in its layer. layer_name, loc_x, loc_y, geom_type and the
    prop_spec columns must be non-null (ValueError otherwise); use
    encode_layers for multi-part ``parts`` geometries or per-row
    property shapes."""
    return _sorted_for_encode(features).mapInArrow(
        lambda it: _encode_point_batches(it, prop_spec, per_layer=False),
        schema=TILE_SCHEMA)


# the name the Arrow-native callers (perfbench, tools) use
encode_point_tiles_arrow = encode_point_tiles


def encode_geom_tiles(features: DataFrame, prop_spec=None) -> DataFrame:
    """encode_point_tiles for features carrying a pre-built
    ``geometry`` command-stream column (array<long>) and a
    ``geom_type`` column — the distributed set_geometry passthrough
    (builder.hpp:1241-1248): the same shuffle, sort and batch encoder,
    the ListArray's buffers feeding the varint scatter directly. A
    NULL geometry encodes as an empty command stream. Pair with
    plan-side geometry expression builders (geomops.rect_cmds /
    path_cmds) so the whole footprint construction stays in
    whole-stage codegen."""
    return encode_point_tiles(features, prop_spec)


def encode_point_layers(features: DataFrame, prop_spec=None) -> DataFrame:
    """encode_point_tiles, one row per encoded layer (LAYER_SCHEMA)
    instead of per tile: the same shuffle, sort and batch encoder.
    Byte- and stats-identical to encode_layers on the same input
    (asserted in tests)."""
    return _sorted_for_encode(features).mapInArrow(
        lambda it: _encode_point_batches(it, prop_spec, per_layer=True),
        schema=LAYER_SCHEMA)


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


def _extent_i32(v: int) -> int:
    """A layer extent at the int32 ``extent`` column: vtzero's uint32
    reading (the low 32 bits of the varint), so values >= 2**31 come out
    negative. decode_tiles casts its uint64 scan column the same way."""
    return (v & 0xFFFFFFFF) - ((v & 0x80000000) << 1)


def decode_layers(tiles: DataFrame) -> DataFrame:
    """tiles(z,x,y,tile_bytes) -> one row per LAYER carrying its RAW
    message bytes plus header/dictionary stats — the distributed
    ``add_existing_layer`` surface (builder.hpp:119-132): layer rows
    can be filtered/unioned and re-assembled byte-identically by
    encode_tiles without ever parsing features (feature bodies stay
    untouched views, the copy path of examples/vtzero-filter.cpp:
    66-100). ``extent`` is the low 32 bits of the layer's extent read
    as int32 (_extent_i32), as in decode_tiles."""
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
                            "version": layer.version,
                            "extent": _extent_i32(layer.extent),
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


def _bad_feature_status(tags: np.ndarray, nk: int, nv: int, v0: int,
                        errors: dict) -> str:
    """Exact message of a feature whose tags the vectorized check
    flagged, checks in vtzero's order (layer.hpp:434-460): key range,
    value range, then the first invalid value entry it references
    (``errors`` by chunk-wide value index; the layer's start at
    ``v0``)."""
    ki = tags[0::2]
    vi = tags[1::2]
    if int(ki.max()) >= nk:
        return f"OutOfRangeError: key index {int(ki.max())} out of range"
    if int(vi.max()) >= nv:
        return f"OutOfRangeError: value index {int(vi.max())} out of range"
    e = next(errors[v0 + b] for b in vi.tolist() if v0 + b in errors)
    return f"{type(e).__name__}: {e}"


def _properties_columns(s, pa):
    """The properties map column and the decode_status column of a
    tile scan's features, for the whole chunk at once (the columnar
    analog of layer.hpp:424-508 + feature.hpp:298-311
    create_properties_map).

    Every value entry of the chunk decodes in ONE values.decode_values
    call and every key in one binary -> string cast; each tag pair's
    indices re-base into those chunk-wide tables by its feature's layer
    (``koff``/``voff``), so range and invalid-value checks are array
    compares. Duplicate keys keep the first pair (map.emplace): pairs
    are keyed on (feature, id of the key's bytes) and one stable sort
    finds the repeats. The map column is ONE MapArray; a bad feature
    gets a null map and its exact message from _bad_feature_status."""
    import pyarrow.compute as pc

    F = s.features
    toff = F["toff"]
    nf = F["layer"].size
    flat = F["tflat"]
    ki, vi = flat[0::2], flat[1::2]
    pair_feat = np.repeat(np.arange(nf), np.diff(toff) >> 1)
    pl = F["layer"][pair_feat]
    nk = np.diff(s.koff)
    nv = np.diff(s.voff)
    bad = (ki >= nk[pl].astype(np.uint64)) | (vi >= nv[pl].astype(np.uint64))
    gk = np.where(bad, 0, s.koff[pl] + ki.astype(np.int64))
    gv = np.where(bad, 0, s.voff[pl] + vi.astype(np.int64))
    vals = V.decode_values(s.values)
    if vals.errors:
        bad |= vals.vtype[gv] == 0
    featbad = np.zeros(nf, bool)
    featbad[pair_feat[bad]] = True
    msgs = ["ok"]
    status = np.zeros(nf, np.int32)
    for j in np.flatnonzero(featbad).tolist():
        li = int(F["layer"][j])
        msgs.append(_bad_feature_status(
            flat[toff[j]:toff[j + 1]], int(nk[li]), int(nv[li]),
            int(s.voff[li]), vals.errors))
        status[j] = len(msgs) - 1

    keys_bin = pa.array(s.keys, pa.binary())
    good = ~featbad[pair_feat]
    gfeat, gk, gv = pair_feat[good], gk[good], gv[good]
    kid = pc.dictionary_encode(keys_bin).indices.to_numpy()
    fk = gfeat * (int(kid.max(initial=0)) + 1) + kid[gk]
    order = np.argsort(fk, kind="stable")
    dup = fk[order[1:]] == fk[order[:-1]]
    if dup.any():
        keep = np.ones(fk.size, bool)
        keep[order[1:][dup]] = False     # stable: the later pair of a tie
        gfeat, gk, gv = gfeat[keep], gk[keep], gv[keep]
    offs = np.zeros(nf + 1, np.int32)
    np.cumsum(np.bincount(gfeat, minlength=nf), out=offs[1:])
    dmask = (vals.vtype != V.VT_FLOAT) & (vals.vtype != V.VT_DOUBLE)
    items = pa.StructArray.from_arrays([
        pa.array(vals.vtype, pa.int32()), vals.sval,
        pa.array(vals.dval, pa.float64(), mask=dmask),
        pa.array(vals.ival, pa.int64(), mask=vals.vtype < V.VT_INT),
    ], names=["vtype", "sval", "dval", "ival"])
    props = pa.MapArray.from_arrays(
        pa.array(offs, pa.int32(), mask=np.append(featbad, False)),
        V.utf8_array(keys_bin).take(gk), items.take(gv))
    return props, pa.array(msgs, pa.string()).take(status)


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
    columnar too (_properties_columns): the chunk's value entries
    decode in one values.decode_values call, every tag pair resolves
    against those chunk-wide tables in one pass, and the map column is
    ONE pa.MapArray built from offsets — no per-entry decode and no
    per-feature Python dicts (the distributed, vectorized form of
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
        "layer_name": V.utf8_array(pa.array(
            [n.encode("utf-8", "surrogateescape") for n in s.name],
            pa.binary())).take(fl),
        # the low 32 bits as int32, as _extent_i32
        "version": s.version[fl], "extent": s.extent[fl].astype(np.int32),
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
        cols["properties"], cols["decode_status"] = \
            _properties_columns(s, pa)
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
    MapArray per scan chunk from gathered dictionary tables)."""
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
    create_properties_map). Dictionary resolution is one columnar pass
    per scan chunk; out-of-range tag indexes and invalid value entries
    become OutOfRangeError / FormatError decode_status rows (fixtures
    040/042/038), never task failures. At this DataFrame edge a uint
    value >= 2**63 wraps to int64, bool is 0/1, float widens to double
    and invalid UTF-8 in names, keys and strings becomes U+FFFD. The
    ``extent`` column (both modes) is the low 32 bits of the layer's
    extent, vtzero's uint32 reading, as int32: an extent >= 2**31 comes
    out negative (decode_layers reads it the same way).

    Both modes are Arrow-native (mapInArrow; the geometry column is
    assembled zero-copy from flat command values + offsets, properties
    as one MapArray per scan chunk). tests/scalar_reference.py holds
    the tile-by-tile pandas decoder the parity and fuzz tests check it
    against."""
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
