"""Fused filter + rewrite over tile batches: the reference CLI's
execution model made data-parallel.

vtzero-streets (examples/vtzero-streets.cpp:22-78) processes ONE tile
in-process: iterate features, keep those whose decoded property
matches, copy them into a fresh layer whose dictionaries rebuild in
first-appearance order. This module runs that flow as a Spark
operator: one mapInArrow pass over tiles, ZERO shuffles. Each Arrow
batch is scanned batch-columnar (tile.scan_tile_batch, in chunks of
tile.SCAN_CHUNK_BYTES input bytes): one layer table and one feature
block for all its tiles, so the predicate is one vectorized pass over
every tag pair of the chunk, the first-appearance rebuild is one
factorize over (layer, dictionary index), and all surviving features
encode in one varint scatter. Output bytes are identical to running
the CLI per tile (and to the distributed filter-then-encode pipeline;
pinned in tests/test_rewrite.py); a one-tile call is the same code.

The property match happens on WIRE BYTES, not decoded values: a layer
value table deduplicates by encoded bytes (types.hpp:141-186 identity),
so "property == literal" is one bytes equality against the value table
plus an integer scan of the tag pairs; features never decode their
values at all. That is the same trick vtzero's property_value
comparison enables (property_value.hpp operator==).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame

from ..mvt import tile as T
from ..mvt import values as V
from ..mvt.errors import MVTError, OutOfRangeError
from ..mvt.pbf import (
    copy_segments, encode_varint_array, len_field, pack_len_fields,
    varint_field, varint_len_array,
)

TILE_SCHEMA = "z long, x long, y long, num_layers int, tile_bytes binary"
_TILE_ARROW = pa.schema([("z", pa.int64()), ("x", pa.int64()),
                         ("y", pa.int64()), ("num_layers", pa.int32()),
                         ("tile_bytes", pa.binary())])


def _vartag_features_bytes(ids: np.ndarray, has_id: np.ndarray,
                           gtypes: np.ndarray,
                           gflat: np.ndarray, goffsets: np.ndarray,
                           tflat: np.ndarray, toffsets: np.ndarray
                           ) -> tuple[bytes, np.ndarray]:
    """Features-section bytes for VARIABLE-length tag streams (the
    general rewrite case — features keep however many properties they
    had), plus each feature's size in them. Same vtzero emission order
    as build_feature (type, id, geometry, tags;
    builder.hpp:596-599,429-436), assembled as one flat varint scatter
    with optional id / tags fields per feature."""
    n = len(gtypes)
    if not n:
        return b"", np.zeros(0, np.int64)
    glens = np.diff(goffsets)
    tlens = np.diff(toffsets)
    gvals = np.ascontiguousarray(gflat, dtype=np.uint64)
    tvals = np.ascontiguousarray(tflat, dtype=np.uint64)

    def seg_len(vals: np.ndarray, offs: np.ndarray, lens: np.ndarray):
        nb = varint_len_array(vals)
        tot = np.add.reduceat(np.append(nb, 0), offs[:-1]) if n else \
            np.zeros(0, np.int64)
        return np.where(lens == 0, 0, tot)

    geom_len = seg_len(gvals, goffsets, glens)
    tags_len = seg_len(tvals, toffsets, tlens)
    has_tags = tlens > 0

    TYPE_T = np.uint64((T.FEATURE_TYPE << 3) | 0)
    ID_T = np.uint64((T.FEATURE_ID << 3) | 0)
    GEOM_T = np.uint64((T.FEATURE_GEOMETRY << 3) | 2)
    TAGS_T = np.uint64((T.FEATURE_TAGS << 3) | 2)
    FEAT_T = np.uint64((T.LAYER_FEATURES << 3) | 2)

    ids_u = ids.astype(np.uint64)
    gtypes_u = gtypes.astype(np.uint64)
    gl_u = geom_len.astype(np.uint64)
    tl_u = tags_len.astype(np.uint64)

    # body length (everything inside the feature message)
    feat_len = (
        1 + varint_len_array(gtypes_u)                      # type
        + np.where(has_id, 1 + varint_len_array(ids_u), 0)  # id
        + 1 + varint_len_array(gl_u) + geom_len             # geometry
        + np.where(has_tags, 1 + varint_len_array(tl_u) + tags_len, 0)
    )
    fl_u = feat_len.astype(np.uint64)

    per_feat = (2 + 2 + 2 * has_id.astype(np.int64) + 2 + glens
                + np.where(has_tags, 2, 0) + tlens)
    ends = np.cumsum(per_feat)
    starts = ends - per_feat
    flat = np.empty(int(ends[-1]), dtype=np.uint64)

    pos = starts
    flat[pos] = FEAT_T
    flat[pos + 1] = fl_u
    flat[pos + 2] = TYPE_T
    flat[pos + 3] = gtypes_u
    pos = pos + 4
    idp = pos[has_id]
    flat[idp] = ID_T
    flat[idp + 1] = ids_u[has_id]
    pos = pos + 2 * has_id.astype(np.int64)
    flat[pos] = GEOM_T
    flat[pos + 1] = gl_u
    copy_segments(gvals, goffsets[:-1], glens, flat, pos + 2)
    pos = pos + 2 + glens
    tp = pos[has_tags]
    flat[tp] = TAGS_T
    flat[tp + 1] = tl_u[has_tags]
    copy_segments(tvals, toffsets[:-1], tlens,
                  flat, pos + np.where(has_tags, 2, 0))
    return encode_varint_array(flat), 1 + varint_len_array(fl_u) + feat_len


def feature_tag_streams(
        fs: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flatten a layer's per-feature tag arrays into one stream:
    (tlens, toff, tflat) with toff the element offsets (pairs are
    tflat[0::2] keys / tflat[1::2] values, per-feature pair offsets
    toff[:-1] // 2)."""
    nf = len(fs)
    tlens = np.fromiter((f.tags.size for f in fs), np.int64, nf)
    toff = np.zeros(nf + 1, np.int64)
    np.cumsum(tlens, out=toff[1:])
    tflat = (np.concatenate([f.tags for f in fs]).astype(np.int64)
             if toff[-1] else np.zeros(0, np.int64))
    return tlens, toff, tflat


def seg_any(pair_bool: np.ndarray, toff: np.ndarray,
            tlens: np.ndarray) -> np.ndarray:
    """Per-feature ANY over a boolean evaluated on the flat tag-pair
    stream. Empty segments (tag-less features) are masked out rather
    than trusting reduceat's repeated-index value."""
    poff = toff[:-1] // 2
    hits = np.add.reduceat(
        np.append(pair_bool, False).astype(np.int64), poff)
    return (hits > 0) & (tlens > 0)


def _segments(flat: np.ndarray, off: np.ndarray,
              sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The ``sel`` segments of a flat array with offsets ``off``,
    concatenated, and their new offsets."""
    lens = off[sel + 1] - off[sel]
    new_off = np.zeros(sel.size + 1, np.int64)
    np.cumsum(lens, out=new_off[1:])
    idx = np.arange(new_off[-1]) + np.repeat(off[sel] - new_off[:-1], lens)
    return flat[idx], new_off


def _pack_entries(field: int, entries: list[bytes],
                  idx: np.ndarray) -> tuple[bytes, np.ndarray]:
    """The dictionary section of ``entries[idx]`` (one LEN field each)
    and each field's size in it."""
    picked = [entries[i] for i in idx.tolist()]
    lens = np.fromiter(map(len, picked), np.int64, len(picked))
    off = np.zeros(lens.size + 1, np.int64)
    np.cumsum(lens, out=off[1:])
    payload = np.frombuffer(b"".join(picked), np.uint8)
    return (pack_len_fields(field, payload, off),
            1 + varint_len_array(lens.astype(np.uint64)) + lens)


def _layer_byte_ends(sizes: np.ndarray, layer: np.ndarray,
                     nl: int) -> np.ndarray:
    """Byte offsets (nl + 1) of each layer's run in a section whose
    items, of ``sizes`` bytes, are grouped by ``layer`` in order."""
    out = np.zeros(nl + 1, np.int64)
    np.cumsum(np.bincount(layer, weights=sizes, minlength=nl)
              .astype(np.int64), out=out[1:])
    return out


def _rebuild(scan: T.TileScan, sel: np.ndarray
             ) -> tuple[list[int], list[bytes], np.ndarray]:
    """Rebuild the scan's layers keeping exactly the features ``sel``
    (sorted feature-block indices; any predicate's survivor set): both
    dictionaries rebuilt in first-appearance order over each layer's
    survivors (property_mapper.hpp semantics), in one factorize over
    batch-global dictionary indices.

    Returns the ids and body bytes of every layer left with a survivor
    (tile_builder drops empty layers, builder_impl.hpp:225-227), and a
    per-layer bad mask: a survivor tag index outside its layer's
    dictionaries is vtzero's OutOfRangeError (layer.hpp:434-460), so
    such a layer is flagged and not rebuilt."""
    F = scan.features
    nl = len(scan.name)

    def pairs(sel):
        tags, s_toff = _segments(F["tflat"], F["toff"], sel)
        pl = np.repeat(F["layer"][sel], np.diff(s_toff) >> 1)
        return tags, s_toff, pl, tags[0::2], tags[1::2]

    tags, s_toff, pl, pk, pv = pairs(sel)
    bad_pair = ((pk >= np.diff(scan.koff)[pl].astype(np.uint64))
                | (pv >= np.diff(scan.voff)[pl].astype(np.uint64)))
    bad = np.zeros(nl, bool)
    bad[pl[bad_pair]] = True
    if bad.any():
        sel = sel[~bad[F["layer"][sel]]]
        tags, s_toff, pl, pk, pv = pairs(sel)
    fl = F["layer"][sel]

    # feature-major survivor pairs: factorize IS the first-appearance
    # rebuild a sequential add_property loop performs, and each
    # layer's codes are one contiguous run, so rebasing is a subtract
    k_codes, k_uniq = pd.factorize(scan.koff[pl] + pk.astype(np.int64))
    v_codes, v_uniq = pd.factorize(scan.voff[pl] + pv.astype(np.int64))
    klay = np.searchsorted(scan.koff, k_uniq, "right") - 1
    vlay = np.searchsorted(scan.voff, v_uniq, "right") - 1
    k0 = np.searchsorted(klay, np.arange(nl))
    v0 = np.searchsorted(vlay, np.arange(nl))
    new_tags = np.empty(tags.size, np.uint64)
    new_tags[0::2] = k_codes - k0[pl]
    new_tags[1::2] = v_codes - v0[pl]

    gflat, goff = _segments(F["gflat"], F["goff"], sel)
    fbytes, fsizes = _vartag_features_bytes(
        F["ids"][sel], F["has_id"][sel], F["gtypes"][sel], gflat, goff,
        new_tags, s_toff)
    kbytes, ksizes = _pack_entries(T.LAYER_KEYS, scan.keys, k_uniq)
    vbytes, vsizes = _pack_entries(T.LAYER_VALUES, scan.values, v_uniq)
    fe = _layer_byte_ends(fsizes, fl, nl)
    ke = _layer_byte_ends(ksizes, klay, nl)
    ve = _layer_byte_ends(vsizes, vlay, nl)
    fmv, kmv, vmv = memoryview(fbytes), memoryview(kbytes), memoryview(vbytes)

    lids = np.unique(fl).tolist()
    bodies = [b"".join((
        varint_field(T.LAYER_VERSION, int(scan.version[li])),
        len_field(T.LAYER_NAME,
                  scan.name[li].encode("utf-8", "surrogateescape")),
        varint_field(T.LAYER_EXTENT, int(scan.extent[li])),
        fmv[fe[li]:fe[li + 1]], kmv[ke[li]:ke[li + 1]],
        vmv[ve[li]:ve[li + 1]])) for li in lids]
    return lids, bodies, bad


def rebuild_layer(layer: T.Layer, sel: np.ndarray) -> bytes | None:
    """Rebuild one parsed layer keeping exactly the feature ordinals in
    ``sel`` (see _rebuild); None when empty. A survivor's out-of-range
    tag index raises OutOfRangeError."""
    nf = len(layer.features)
    blk = T.features_block(layer.features)
    blk["layer"] = np.zeros(nf, np.int64)
    one = np.zeros(1, np.int64)
    scan = T.TileScan(
        tile_err=[None], tile=one, ordinal=one, name=[layer.name],
        version=np.array([layer.version]), extent=np.array([layer.extent]),
        err=[None], keys=layer.keys, koff=np.array([0, len(layer.keys)]),
        values=layer.values, voff=np.array([0, len(layer.values)]),
        foff=np.array([0, nf]), features=blk)
    lids, bodies, bad = _rebuild(scan, np.asarray(sel, np.int64))
    if bad[0]:
        raise OutOfRangeError("tag index out of range")
    return bodies[0] if bodies else None


def _passthrough(buf: bytes, layer_sel: str | None) -> tuple[bytes, int]:
    """Selected layers BYTE-VERBATIM (no parse beyond the name field,
    the add_existing_layer fast path); malformed -> empty tile."""
    by_ordinal = layer_sel is not None and layer_sel.isdigit()
    try:
        views = T.tile_layer_views(buf)
        if by_ordinal:
            want = int(layer_sel)
            views = views[want:want + 1]
        elif layer_sel is not None:
            views = [lv for lv in views if T.layer_name_only(lv) == layer_sel]
    except MVTError:
        return b"", 0
    return T.build_tile(views), len(views)


def _rewrite_chunk(bufs: list[bytes], layer_sel: str | None,
                   key_b: bytes | None, val_set: set | None
                   ) -> tuple[list[bytes], list[int]]:
    """Rewrite a chunk of tiles in one batch-columnar pass (see
    rewrite_tile_bytes for the predicate matrix). Returns each tile's
    bytes and layer count."""
    if key_b is None:
        outs = [_passthrough(b, layer_sel) for b in bufs]
        return [o[0] for o in outs], [o[1] for o in outs]
    s = T.scan_tile_batch(bufs, layer_sel)
    nl = len(s.name)
    # any error in a tile empties it (errors-as-data)
    dead = np.fromiter((e is not None for e in s.tile_err), bool, len(bufs))
    dead[s.tile[np.fromiter((e is not None for e in s.err), bool, nl)]] = True

    # the key's first index in each layer's key table
    hits = np.flatnonzero(np.fromiter((k == key_b for k in s.keys), bool,
                                      len(s.keys)))
    hl, first = np.unique(np.searchsorted(s.koff, hits, "right") - 1,
                          return_index=True)
    kidx = np.full(nl, -1, np.int64)
    kidx[hl] = hits[first] - s.koff[hl]
    # value-table entries the predicate accepts (has-key: all of them)
    val_ok = (np.ones(len(s.values), bool) if val_set is None else
              np.fromiter((v in val_set for v in s.values), bool,
                          len(s.values)))

    F = s.features
    tlens = np.diff(F["toff"])
    pl = np.repeat(F["layer"], tlens >> 1)
    pk, pv = F["tflat"][0::2], F["tflat"][1::2]
    kl = kidx[pl]
    hit = (kl >= 0) & (pk == kl.astype(np.uint64)) \
        & (pv < np.diff(s.voff)[pl].astype(np.uint64))
    hit[hit] = val_ok[s.voff[pl[hit]] + pv[hit].astype(np.int64)]
    keep = seg_any(hit, F["toff"], tlens) & ~dead[s.tile[F["layer"]]]

    lids, bodies, bad = _rebuild(s, np.flatnonzero(keep))
    dead[s.tile[bad]] = True
    parts: list[list[bytes]] = [[] for _ in bufs]
    for li, body in zip(lids, bodies):
        ti = s.tile[li]
        if not dead[ti]:
            parts[ti].append(len_field(T.TILE_LAYERS, body))
    return [b"".join(p) for p in parts], [len(p) for p in parts]


def _rewrite_batches(batches, layer_sel: str | None, key_b: bytes | None,
                     val_set: set | None):
    """rewrite_tiles' mapInArrow body: (z, x, y, tile_bytes) batches
    -> TILE_SCHEMA batches, one per scan chunk."""
    for batch in batches:
        bufs = batch.column("tile_bytes").to_pylist()
        for lo, hi in T.scan_chunks([len(b) for b in bufs]):
            outs, nlay = _rewrite_chunk(bufs[lo:hi], layer_sel, key_b,
                                        val_set)
            part = batch.slice(lo, hi - lo)
            yield pa.RecordBatch.from_arrays(
                [part.column(c).cast(pa.int64()) for c in "zxy"]
                + [pa.array(nlay, pa.int32()), pa.array(outs, pa.binary())],
                schema=_TILE_ARROW)


def filter_tile_bytes(buf: bytes, key_b: bytes,
                      val_bs: bytes | list[bytes]) -> bytes:
    """One tile's vtzero-streets pass: keep features whose tag pairs
    reference ``key_b`` with ANY of the ``val_bs`` wire values in the
    layer dictionaries, rebuild, drop empty layers. Malformed input ->
    empty tile. Thin wrapper over the generalized rewrite_tile_bytes."""
    if isinstance(val_bs, bytes):
        val_bs = [val_bs]
    return rewrite_tile_bytes(buf, None, key_b, list(val_bs))


def rewrite_tile_bytes(buf: bytes, layer_sel: str | None,
                       key_b: bytes | None,
                       val_bs: list[bytes] | None) -> bytes:
    """One tile's generalized rewrite pass (the one-tile case of the
    batch kernel rewrite_tiles runs), composing the reference CLIs'
    selection semantics in a single scan:

    - ``layer_sel``: vtzero-filter's layer selector (digits -> by
      ordinal, else by name; examples/vtzero-filter.cpp parity with
      get_layer) — None keeps every layer;
    - ``key_b`` None: no property predicate — selected layers pass
      through BYTE-VERBATIM (no parse beyond the name field, the
      add_existing_layer fast path);
    - ``key_b`` set, ``val_bs`` None: HAS-KEY — keep features carrying
      the key with ANY value (one index lookup, no value decode);
    - ``key_b`` + ``val_bs``: equality / IN-set on wire value bytes
      (vtzero-streets semantics, dictionaries rebuilt
      first-appearance).

    Malformed input (including a surviving feature's out-of-range tag
    index) -> empty tile (errors-as-data)."""
    val_set = None if val_bs is None else set(val_bs)
    return _rewrite_chunk([bytes(buf)], layer_sel, key_b, val_set)[0][0]


def rewrite_tiles(
    tiles: DataFrame,
    layer: str | int | None = None,
    key: str | None = None,
    value=None,
    vtype: int = V.VT_STRING,
) -> DataFrame:
    """Generalized fused tile rewrite: compose vtzero-filter's layer
    selection with vtzero-streets' property predicate in ONE
    zero-shuffle mapInArrow pass (see rewrite_tile_bytes for the
    predicate matrix). ``value=None`` with a key means HAS-KEY; a
    list/tuple ``value`` is an IN-set; ``layer`` accepts a name or an
    ordinal (CLI selector semantics). Layers left with no features are
    dropped; malformed tiles become empty tiles.

    Task granularity is the Arrow batch, scanned in chunks of
    tile.SCAN_CHUNK_BYTES; one tile is never split, so a pathological
    hot tile makes one heavy chunk — apply the hot-tile disciplines
    upstream (tiling.feature_budget or the chunked encoder) if tiles
    can grow unbounded."""
    layer_sel = None if layer is None else str(layer)
    key_b = None if key is None else key.encode("utf-8")
    if value is None:
        val_set = None
    else:
        vals = value if isinstance(value, (list, tuple)) else [value]
        val_set = {V.encode_value(vtype, v) for v in vals}

    return tiles.mapInArrow(
        lambda it: _rewrite_batches(it, layer_sel, key_b, val_set),
        schema=TILE_SCHEMA)


def filter_tiles_by_property(
    tiles: DataFrame,
    key: str,
    value,
    vtype: int = V.VT_STRING,
) -> DataFrame:
    """tiles(z,x,y,tile_bytes) -> tiles with only the features whose
    property ``key`` equals ``value`` (a scalar, or a list/tuple for
    an IN-set match — e.g. several road classes): vtzero-streets
    (examples/vtzero-streets.cpp:22-78) as rewrite_tiles' equality
    form. The match compares ENCODED value bytes against the layer's
    value table, so no value ever decodes."""
    return rewrite_tiles(tiles, key=key, value=value, vtype=vtype)
