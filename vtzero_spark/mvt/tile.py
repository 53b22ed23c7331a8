"""MVT tile/layer/feature parse and build.

Parse strictness mirrors vtzero:
- layer: unknown field or known field with wrong wire type -> FormatError
  (/root/reference/include/vtzero/layer.hpp:107-151); version must be
  1 or 2 -> VersionError (layer.hpp:142-145); name required ->
  FormatError (layer.hpp:147-150); defaults version=1, extent=4096.
- feature: duplicate tags/geometry fields, invalid GeomType enum,
  missing geometry, unpaired tags -> FormatError
  (/root/reference/include/vtzero/feature.hpp:66-116); unknown fields
  are skipped.
- dictionary lookups out of range -> OutOfRangeError
  (layer.hpp:434-460).

Build byte-order parity: feature = [type][id][geometry][tags]
(type written by the feature_builder constructor, builder.hpp:596-599;
id/geometry/tags appended in protocol order); layer = [version][name]
[extent][features...][keys...][values...] (builder_impl.hpp:157-166,
253-258); layers with zero features are omitted from the tile
(builder_impl.hpp:225-227); key/value dictionaries are in
first-appearance order (builder_impl.hpp:104-107,180-183).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np

from .errors import FormatError, MVTError, OutOfRangeError, VersionError
from .pbf import (
    WT_LEN,
    WT_VARINT,
    decode_varint,
    decode_varint_array,
    encode_varint,
    encode_varint_array,
    len_field,
    scan_fields,
    varint_field,
    varint_runs,
)

# pbf field numbers (types.hpp:92-110)
TILE_LAYERS = 3
LAYER_NAME = 1
LAYER_FEATURES = 2
LAYER_KEYS = 3
LAYER_VALUES = 4
LAYER_EXTENT = 5
LAYER_VERSION = 15
FEATURE_ID = 1
FEATURE_TAGS = 2
FEATURE_TYPE = 3
FEATURE_GEOMETRY = 4


def is_vector_tile(buf: bytes) -> bool:
    """First-byte sniff (vector_tile.hpp:284-286)."""
    return len(buf) > 0 and buf[0] == 0x1A


@dataclass
class Feature:
    id: int | None  # None <=> !has_id()
    geom_type: int
    geometry: np.ndarray  # uint32 command ints
    geometry_nbytes: int  # wire length of the packed field (decode guard)
    tags: np.ndarray  # flat uint32 (key_idx, val_idx, ...) pairs

    @property
    def num_properties(self) -> int:
        return self.tags.size // 2


@dataclass
class Layer:
    name: str
    version: int = 1
    extent: int = 4096
    keys: list[bytes] = field(default_factory=list)
    values: list[bytes] = field(default_factory=list)  # raw Value bytes
    features: list[Feature] = field(default_factory=list)
    raw: bytes = b""

    def key(self, idx: int) -> bytes:
        if idx >= len(self.keys):
            raise OutOfRangeError(f"key index {idx} out of range")
        return self.keys[idx]

    def value(self, idx: int) -> bytes:
        if idx >= len(self.values):
            raise OutOfRangeError(f"value index {idx} out of range")
        return self.values[idx]

    def properties(self, feat: Feature) -> list[tuple[bytes, bytes]]:
        out = []
        t = feat.tags
        for i in range(0, t.size, 2):
            out.append((self.key(int(t[i])), self.value(int(t[i + 1]))))
        return out


# -------------------------------------------------------------------- parse

def tile_layer_views(buf: bytes) -> list[bytes]:
    """All layer message views in order; non-layer fields are skipped
    (vector_tile.hpp:134-149)."""
    out = []
    for f, w, v in scan_fields(buf):
        if f == TILE_LAYERS and w == WT_LEN:
            out.append(v)
    return out


def count_layers(buf: bytes) -> int:
    """Count without parsing layer bodies (vector_tile.hpp:111-122)."""
    return len(tile_layer_views(buf))


def layer_name_only(layer_buf: bytes) -> str:
    """Read just the name field, as get_layer_by_name does
    (vector_tile.hpp:214-271); missing name -> FormatError."""
    for f, w, v in scan_fields(layer_buf):
        if f == LAYER_NAME and w == WT_LEN:
            # vtzero keeps the raw bytes (data_view) without utf-8
            # validation; surrogateescape preserves them losslessly
            return v.decode("utf-8", errors="surrogateescape")
    raise FormatError("missing name field in layer (spec 4.1)")


def parse_feature(buf: bytes) -> Feature:
    fid: int | None = None
    geom_type = 0
    geometry: np.ndarray | None = None
    geometry_nbytes = 0
    tags: np.ndarray | None = None
    for f, w, v in scan_fields(buf):
        if f == FEATURE_ID and w == WT_VARINT:
            fid = v
        elif f == FEATURE_TAGS and w == WT_LEN:
            if tags is not None:
                raise FormatError("Feature has more than one tags field")
            tags = decode_varint_array(v)
        elif f == FEATURE_TYPE and w == WT_VARINT:
            if v > 3:
                raise FormatError("Unknown geometry type (spec 4.3.4)")
            geom_type = v
        elif f == FEATURE_GEOMETRY and w == WT_LEN:
            if geometry is not None and geometry.size > 0:
                raise FormatError("Feature has more than one geometry field")
            geometry = decode_varint_array(v)
            geometry_nbytes = len(v)
        # unknown fields / wrong wire types are skipped (feature.hpp:102)
    if geometry is None or geometry.size == 0:
        raise FormatError("Missing geometry field in feature (spec 4.2)")
    if tags is None:
        tags = np.empty(0, dtype=np.uint64)
    if tags.size % 2 != 0:
        raise FormatError("unpaired property key/value indexes (spec 4.4)")
    return Feature(fid, int(geom_type), geometry, geometry_nbytes, tags)


def parse_features_block(views: list[bytes]) -> dict:
    """COLUMNAR feature parse for the common emission pattern: every
    feature laid out as ``[type][id?][geometry][tags?]`` (the order
    build_feature and every encoder here emits, and what real tiles
    overwhelmingly carry). All views concatenate into one varint
    stream, cut at every feature end so no varint spans two features,
    and decode at once; ids / geometry offsets / tag offsets then come
    out as pure array gathers, with ZERO per-feature Python objects.

    Returns a dict of arrays (ids uint64, has_id, gtypes, gflat, goff,
    gnb, tflat, toff) plus ``ok``: False for every feature that
    deviates from the pattern (unknown fields, fixed wire types,
    structural errors). A deviant feature's entries are empty; the
    caller parses it with parse_feature, which reproduces the exact
    error semantics."""
    nf = len(views)
    lens = np.fromiter(map(len, views), np.int64, nf)
    offs = np.zeros(nf + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    fend = offs[1:]
    raw = np.frombuffer(b"".join(views), np.uint8)
    ok = lens > 0
    is_end = np.ones(raw.size + 1, bool)  # + pad: is_end[-1] is in bounds
    is_end[:-1] = (raw & 0x80) == 0
    last = fend[ok] - 1
    ok[ok] = is_end[last]          # a truncated last varint deviates
    is_end[last] = True            # ... and may not spill over
    nv = int(np.count_nonzero(is_end[:-1]))
    starts = np.zeros(nv + 1, np.int64)   # + sentinel: one past the end
    starts[1:] = np.flatnonzero(is_end[:-1]) + 1
    vlen = np.diff(starts)
    overlong = vlen > 10
    if overlong.any():
        ok[np.searchsorted(offs, starts[:-1][overlong], "right") - 1] = False
        vlen = np.minimum(vlen, 10)
    vals = np.append(varint_runs(raw, starts[:-1], vlen), np.uint64(0))
    del vlen, overlong
    cnt_before = np.zeros(raw.size + 1, np.int64)
    np.cumsum(is_end[:-1], out=cnt_before[1:])
    i0 = cnt_before[offs[:-1]]
    iN = cnt_before[fend]

    def at(arr: np.ndarray, i: np.ndarray) -> np.ndarray:
        # reads past a feature's last varint land on the next
        # feature's first one (or the sentinel): always in bounds,
        # and only ever consulted for features already flagged
        return arr[np.minimum(i, iN)]

    ulens = lens.astype(np.uint64)
    # head: [24, gtype] then optionally [8, id]
    ok &= (iN - i0 >= 4) & (at(vals, i0) == 24)
    gtypes = at(vals, i0 + 1)
    ok &= gtypes <= 3
    has_id = at(vals, i0 + 2) == 8
    ids = np.where(has_id, at(vals, i0 + 3), np.uint64(0))
    gk = i0 + 2 + 2 * has_id           # geometry key position
    ok &= (gk + 1 < iN) & (at(vals, gk) == 34)
    gnb_u = at(vals, gk + 1)
    ok &= (gnb_u > 0) & (gnb_u <= ulens)
    gnb = np.where(ok, gnb_u, np.uint64(0)).astype(np.int64)
    gp0 = gk + 2                       # first geometry varint index
    ps = at(starts, gp0)
    ok &= (gp0 < iN) & (ps + gnb <= fend)
    pe = np.minimum(ps + gnb, fend)
    ok &= is_end[pe - 1]
    cnt_g = np.where(ok, cnt_before[pe] - cnt_before[ps], 0)
    j = gp0 + cnt_g                    # position after geometry
    has_tags = j < iN
    ok &= ~has_tags | ((j + 1 < iN) & (at(vals, j) == 18))
    tnb_u = np.where(has_tags, at(vals, j + 1), np.uint64(0))
    ok &= tnb_u <= ulens
    tnb = np.where(ok, tnb_u, np.uint64(0)).astype(np.int64)
    ts = at(starts, j + 2)
    te = np.minimum(ts + tnb, fend)
    nonz = has_tags & (tnb > 0)
    ok &= ~nonz | ((ts + tnb <= fend) & is_end[te - 1])
    cnt_t = np.where(nonz, cnt_before[te] - cnt_before[ts], 0)
    ok &= np.where(has_tags, j + 2 + cnt_t, j) == iN
    ok &= cnt_t % 2 == 0
    cnt_g[~ok] = 0
    cnt_t[~ok] = 0

    def _gather(p0: np.ndarray, cnt: np.ndarray) -> tuple:
        off = np.zeros(nf + 1, np.int64)
        np.cumsum(cnt, out=off[1:])
        gi = np.arange(off[-1]) + np.repeat(p0 - off[:-1], cnt)
        return vals[gi], off

    gflat, goff = _gather(gp0, cnt_g)
    tflat, toff = _gather(j + 2, cnt_t)
    return {
        "ids": np.where(ok, ids, np.uint64(0)), "has_id": has_id & ok,
        "gtypes": np.where(ok, gtypes, 0).astype(np.int64),
        "gflat": gflat, "goff": goff, "gnb": np.where(ok, gnb, 0),
        "tflat": tflat, "toff": toff, "ok": ok,
    }


def features_block(feats: list[Feature]) -> dict:
    """The parse_features_block arrays of already-parsed features."""
    nf = len(feats)
    glens = np.fromiter((f.geometry.size for f in feats), np.int64, nf)
    tlens = np.fromiter((f.tags.size for f in feats), np.int64, nf)
    goff = np.zeros(nf + 1, np.int64)
    np.cumsum(glens, out=goff[1:])
    toff = np.zeros(nf + 1, np.int64)
    np.cumsum(tlens, out=toff[1:])

    def flat(arrs) -> np.ndarray:
        return (np.concatenate(arrs).astype(np.uint64) if arrs
                else np.empty(0, np.uint64))

    return {
        "ids": np.fromiter((f.id or 0 for f in feats), np.uint64, nf),
        "has_id": np.fromiter((f.id is not None for f in feats), bool, nf),
        "gtypes": np.fromiter((f.geom_type for f in feats), np.int64, nf),
        "gflat": flat([f.geometry for f in feats]), "goff": goff,
        "gnb": np.fromiter((f.geometry_nbytes for f in feats), np.int64,
                           nf),
        "tflat": flat([f.tags for f in feats]), "toff": toff,
    }


def _slice_block(blk: dict, a: int, b: int) -> dict:
    """Features a..b of a block, offsets re-based to 0."""
    ga, gb = blk["goff"][a], blk["goff"][b]
    ta, tb = blk["toff"][a], blk["toff"][b]
    return {
        "ids": blk["ids"][a:b], "has_id": blk["has_id"][a:b],
        "gtypes": blk["gtypes"][a:b], "gnb": blk["gnb"][a:b],
        "gflat": blk["gflat"][ga:gb], "goff": blk["goff"][a:b + 1] - ga,
        "tflat": blk["tflat"][ta:tb], "toff": blk["toff"][a:b + 1] - ta,
    }


def _concat_blocks(parts: list[dict]) -> dict:
    out = {k: np.concatenate([p[k] for p in parts])
           for k in ("ids", "has_id", "gtypes", "gnb", "gflat", "tflat")}
    for k in ("goff", "toff"):
        lens = np.concatenate([np.diff(p[k]) for p in parts])
        out[k] = np.zeros(lens.size + 1, np.int64)
        np.cumsum(lens, out=out[k][1:])
    return out


def block_features(blk: dict) -> list[Feature]:
    """Feature objects over a parse_features_block (all features ok);
    geometry and tags are views into the block's flat arrays."""
    ids = blk["ids"].tolist()
    has_id = blk["has_id"].tolist()
    gtypes = blk["gtypes"].tolist()
    gnb = blk["gnb"].tolist()
    goff = blk["goff"].tolist()
    toff = blk["toff"].tolist()
    gflat, tflat = blk["gflat"], blk["tflat"]
    return [Feature(ids[i] if has_id[i] else None, gtypes[i],
                    gflat[goff[i]:goff[i + 1]], gnb[i],
                    tflat[toff[i]:toff[i + 1]])
            for i in range(len(ids))]


def parse_layer(buf: bytes, *, parse_features: bool = True) -> Layer:
    """One layer message (strictness: module docstring). The field walk
    is inline, with no per-field tuple: a one-byte key or length is read
    in place and dispatch is on the whole key, which is what nearly
    every layer holds; longer ones go through decode_varint. Errors,
    their messages and their order are scan_fields'."""
    version: int | None = None
    name: bytes | None = None
    extent: int | None = None
    keys: list[bytes] = []
    values: list[bytes] = []
    feature_views: list[bytes] = []
    add_feature = feature_views.append
    add_value = values.append
    add_key = keys.append
    pos = 0
    n = len(buf)
    while pos < n:
        key = buf[pos]
        if key < 0x80:
            pos += 1
        else:
            key, pos = decode_varint(buf, pos)
        # keys: 0x12 features, 0x22 values, 0x1a keys, 0x0a name
        # (length-delimited); 0x78 version, 0x28 extent (varint)
        if key == 0x12 or key == 0x22 or key == 0x1a or key == 0x0a:
            ln = buf[pos] if pos < n else 0x80
            if ln < 0x80:
                pos += 1
            else:
                ln, pos = decode_varint(buf, pos)
            end = pos + ln
            if end > n:
                raise FormatError("truncated length-delimited field")
            if key == 0x12:
                add_feature(buf[pos:end])
            elif key == 0x22:
                add_value(buf[pos:end])
            elif key == 0x1a:
                add_key(buf[pos:end])
            else:
                name = buf[pos:end]
            pos = end
        elif key == 0x78 or key == 0x28:
            v = buf[pos] if pos < n else 0x80
            if v < 0x80:
                pos += 1
            else:
                v, pos = decode_varint(buf, pos)
            if key == 0x78:
                version = v
            else:
                extent = v
        else:
            # any other field is an error, once it is read as scan_fields
            # reads it: a malformed field reports the malformation
            f, w, _ = next(scan_fields(encode_varint(key) + buf[pos:]))
            raise FormatError(f"unknown field in layer (tag={f}, type={w})")
    version = 1 if version is None else version
    if version < 1 or version > 2:
        raise VersionError(version)
    if name is None:
        raise FormatError("missing name field in layer (spec 4.1)")
    layer = Layer(
        name=name.decode("utf-8", errors="surrogateescape"),
        version=version,
        extent=4096 if extent is None else extent,
        keys=keys,
        values=values,
        raw=buf,
    )
    if parse_features:
        blk = parse_features_block(feature_views)
        layer.features = block_features(blk) if blk["ok"].all() \
            else [parse_feature(fv) for fv in feature_views]
    else:
        layer.features = []
        layer.num_feature_views = len(feature_views)  # type: ignore[attr-defined]
        layer.feature_views = feature_views  # type: ignore[attr-defined]
    return layer


def parse_tile(buf: bytes, *, parse_features: bool = True) -> list[Layer]:
    return [parse_layer(lv, parse_features=parse_features) for lv in tile_layer_views(buf)]


def get_layer(buf: bytes, selector: str) -> Layer | None:
    """CLI layer selector (examples/utils.cpp:78-100): an all-digits
    selector picks the layer by zero-based position, anything else by
    name (first match, like get_layer_by_name); None when absent."""
    views = tile_layer_views(buf)
    if selector.isdigit():
        idx = int(selector)
        return parse_layer(views[idx]) if idx < len(views) else None
    for v in views:
        if layer_name_only(v) == selector:
            return parse_layer(v)
    return None


# -------------------------------------------------------------- batch scan

# Input bytes of one scan_tile_batch call. The scan and the kernels
# on it peak at ~30 bytes of working arrays per input byte, so this
# bounds a Python worker's transient memory (~8 MB) however large the
# Arrow batch it was handed; larger chunks gain little throughput.
SCAN_CHUNK_BYTES = 1 << 18


def scan_chunks(sizes) -> Iterator[tuple[int, int]]:
    """Consecutive [lo, hi) runs of tiles holding at most
    SCAN_CHUNK_BYTES input bytes each (a larger tile is a run alone)."""
    lo, acc = 0, 0
    for i, n in enumerate(sizes):
        if i > lo and acc + n > SCAN_CHUNK_BYTES:
            yield lo, i
            lo, acc = i, 0
        acc += n
    if lo < len(sizes):
        yield lo, len(sizes)


@dataclass
class TileScan:
    """A batch of tiles scanned as flat columns: one layer table and
    one feature block, parents linked by generated keys (feature ->
    layer id -> tile index)."""
    tile_err: list          # per tile: the MVTError of its field walk
    tile: np.ndarray        # ---- layer table, tile-major order
    ordinal: np.ndarray     # layer position within its tile
    name: list[str]
    version: np.ndarray
    extent: np.ndarray      # uint64: any varint the layer holds
    err: list               # MVTError or None; a bad layer has no features
    keys: list[bytes]       # all dictionaries, layer after layer
    koff: np.ndarray        # layer i's keys: keys[koff[i]:koff[i + 1]]
    values: list[bytes]
    voff: np.ndarray
    foff: np.ndarray        # layer i's features: foff[i]:foff[i + 1]
    features: dict          # parse_features_block arrays + "layer" ids


def scan_tile_batch(bufs: list[bytes],
                    layer_sel: str | None = None) -> TileScan:
    """Parse every tile of a batch in one pass: each layer's header and
    dictionaries through parse_layer's field walk, then ONE
    parse_features_block over all the batch's feature views. A layer
    with a deviant feature goes alone through parse_feature and is
    spliced back as arrays. Errors stay data: a tile whose field walk
    raises lists no layers; a layer that raises is kept with its error
    and no features.

    ``layer_sel`` is the CLI layer selector (digits -> ordinal, else
    name as layer_name_only reads it): only matching layers are
    parsed and listed, so other layers' errors never surface."""
    by_ordinal = layer_sel is not None and layer_sel.isdigit()
    tile_err: list = [None] * len(bufs)
    rows: list = []                    # (tile, ordinal, Layer | error)
    for ti, buf in enumerate(bufs):
        try:
            views = tile_layer_views(buf)
        except MVTError as e:
            tile_err[ti] = e
            continue
        if by_ordinal:
            want = int(layer_sel)
            pairs = [(want, views[want])] if want < len(views) else []
        else:
            pairs = enumerate(views)
        for li, lv in pairs:
            try:
                if (layer_sel is not None and not by_ordinal
                        and layer_name_only(lv) != layer_sel):
                    continue
                rows.append((ti, li, parse_layer(lv, parse_features=False)))
            except MVTError as e:
                rows.append((ti, li, e))

    nl = len(rows)
    layers = [r[2] if isinstance(r[2], Layer) else None for r in rows]
    err = [None if ly is not None else r[2] for ly, r in zip(layers, rows)]
    nfeat = np.fromiter((len(ly.feature_views) if ly else 0
                         for ly in layers), np.int64, nl)
    blk = parse_features_block(
        [fv for ly in layers if ly for fv in ly.feature_views])
    ok = blk.pop("ok")
    if not ok.all():
        # deviant layers re-parse alone, feature by feature, exactly as
        # parse_layer does; the block's other runs are kept as they are
        foff = np.zeros(nl + 1, np.int64)
        np.cumsum(nfeat, out=foff[1:])
        bad = np.unique(np.repeat(np.arange(nl), nfeat)[~ok])
        parts, prev = [], 0
        for li in bad.tolist():
            parts.append(_slice_block(blk, prev, foff[li]))
            prev = foff[li + 1]
            try:
                parts.append(features_block(
                    [parse_feature(fv) for fv in layers[li].feature_views]))
            except MVTError as e:
                err[li] = e
                nfeat[li] = 0
        parts.append(_slice_block(blk, prev, foff[-1]))
        blk = _concat_blocks(parts)
    foff = np.zeros(nl + 1, np.int64)
    np.cumsum(nfeat, out=foff[1:])
    blk["layer"] = np.repeat(np.arange(nl), nfeat)

    def dict_offsets(attr: str) -> np.ndarray:
        off = np.zeros(nl + 1, np.int64)
        np.cumsum([len(getattr(ly, attr)) if ly else 0 for ly in layers],
                  out=off[1:])
        return off

    return TileScan(
        tile_err=tile_err,
        tile=np.fromiter((r[0] for r in rows), np.int64, nl),
        ordinal=np.fromiter((r[1] for r in rows), np.int64, nl),
        name=[ly.name if ly else "" for ly in layers],
        version=np.fromiter((ly.version if ly else 0 for ly in layers),
                            np.int64, nl),
        extent=np.fromiter((ly.extent if ly else 0 for ly in layers),
                           np.uint64, nl),
        err=err,
        keys=[k for ly in layers if ly for k in ly.keys],
        koff=dict_offsets("keys"),
        values=[v for ly in layers if ly for v in ly.values],
        voff=dict_offsets("values"),
        foff=foff,
        features=blk,
    )


# -------------------------------------------------------------------- build

def build_feature(
    fid: int | None,
    geom_type: int,
    geometry: np.ndarray,
    tags: np.ndarray | list[int] | None = None,
) -> bytes:
    """Feature message bytes in vtzero's emission order:
    type, id, geometry, tags (builder.hpp:596-599,429-436; tags last via
    prepare_to_add_property, builder.hpp:384-394)."""
    parts = [varint_field(FEATURE_TYPE, int(geom_type))]
    if fid is not None:
        parts.append(varint_field(FEATURE_ID, int(fid)))
    geom_bytes = encode_varint_array(
        np.ascontiguousarray(geometry, dtype=np.int64).astype(np.uint64)
    )
    parts.append(len_field(FEATURE_GEOMETRY, geom_bytes))
    if tags is not None:
        tag_arr = np.ascontiguousarray(tags, dtype=np.uint64)
        if tag_arr.size:
            parts.append(len_field(FEATURE_TAGS, encode_varint_array(tag_arr)))
    return b"".join(parts)


def build_layer(
    name: str | bytes,
    feature_blobs: list[bytes],
    keys: list[bytes],
    values: list[bytes],
    version: int = 2,
    extent: int = 4096,
) -> bytes:
    """Layer message bytes: version, name, extent up front
    (builder_impl.hpp:157-166), then features, keys, values
    (builder_impl.hpp:253-258)."""
    name_b = name.encode("utf-8") if isinstance(name, str) else bytes(name)
    out = [
        varint_field(LAYER_VERSION, version),
        len_field(LAYER_NAME, name_b),
        varint_field(LAYER_EXTENT, extent),
    ]
    out.extend(len_field(LAYER_FEATURES, fb) for fb in feature_blobs)
    out.extend(len_field(LAYER_KEYS, k) for k in keys)
    out.extend(len_field(LAYER_VALUES, v) for v in values)
    return b"".join(out)


def build_tile(layer_blobs: list[bytes], *, num_features: list[int] | None = None) -> bytes:
    """Tile bytes from encoded layer messages, in order. When
    ``num_features`` is given, layers with zero features are omitted
    (builder_impl.hpp:225-227,253-258); passthrough layers (existing
    encoded bytes, add_existing_layer) should be passed without counts
    and are emitted verbatim."""
    parts = []
    for i, lb in enumerate(layer_blobs):
        if num_features is not None and num_features[i] == 0:
            continue
        parts.append(len_field(TILE_LAYERS, lb))
    return b"".join(parts)


class DictBuilder:
    """First-appearance key/value dictionary, mirroring
    layer_builder::add_key/add_value dedup semantics
    (builder_impl.hpp:104-147,180-207): the first insertion wins and
    indexes are insertion-ordered."""

    def __init__(self) -> None:
        self._index: dict[bytes, int] = {}
        self.table: list[bytes] = []

    def add(self, item: bytes) -> int:
        idx = self._index.get(item)
        if idx is None:
            idx = len(self.table)
            self._index[item] = idx
            self.table.append(item)
        return idx


def assemble_layer(
    name: str,
    features: list[tuple[int | None, int, np.ndarray, list[tuple[bytes, bytes]]]],
    version: int = 2,
    extent: int = 4096,
) -> bytes:
    """Encode features (id, geom_type, geometry_cmds, [(key, value_bytes)])
    into a complete layer, building the dictionaries in first-appearance
    order exactly like repeated add_property calls would."""
    kd = DictBuilder()
    vd = DictBuilder()
    blobs = []
    for fid, gtype, cmds, props in features:
        tags: list[int] = []
        for k, v in props:
            tags.append(kd.add(k))
            tags.append(vd.add(v))
        blobs.append(build_feature(fid, gtype, cmds, tags))
    return build_layer(name, blobs, kd.table, vd.table, version=version, extent=extent)
