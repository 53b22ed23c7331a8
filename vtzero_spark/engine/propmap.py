"""Property projection over tile bytes — tile-join's ``-x`` (exclude
attribute) / ``-i``-style include and ``-R old:new`` rename, as one
zero-shuffle rewrite.

A production tileset almost always ships with attributes its style
never reads; stripping them at the tile level (``drop`` / ``keep``)
is the cheapest size win there is — every removed tag pair deletes
two varints per feature plus the orphaned dictionary entries. Rename
re-labels a key everywhere without touching features (the tag indices
are positions into the key table, so the rewrite is dictionary-only
in spirit; the layer still rebuilds first-appearance so output bytes
match what the repo's own encoder would emit).

Semantics:
- ``keep``: only these keys survive (None = all);
- ``drop``: these keys are removed (applied after ``keep``);
- ``rename``: {old: new} applied to surviving keys; targets must be
  pairwise distinct (checked at the driver). Renaming onto a key name
  that already exists in a layer is allowed — MVT keys are just
  strings and duplicate names across tag pairs are representable; the
  dictionaries still deduplicate by byte identity.
- features always survive (projection never drops a feature, even to
  zero tags) — that is tile-join's behavior, and what distinguishes
  this operator from the predicate filters in rewrite/exprfilter;
- layers keep their identity; an input layer with no features passes
  through rebuilt; malformed tiles -> empty tile (errors-as-data).

Laws pinned in tests/test_propmap.py: identity call is BYTE-VERBATIM;
no orphan dictionary entries after projection (every key/value index
referenced); keep == drop-complement; geometry/ids byte-stable
through the rebuild.

Spark shape: one mapInPandas pass, zero shuffles — the same
embarrassingly-parallel plan as rewrite_tiles/filter_tiles_expr. At
100 TB this runs at scan speed next to wherever tiles already live.
"""

from __future__ import annotations

from typing import Iterable, Mapping

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..mvt import tile as T
from ..mvt.errors import MVTError
from ..mvt.pbf import len_field, varint_field
from .rewrite import TILE_SCHEMA, _vartag_features_bytes, feature_tag_streams

__all__ = ["remap_tile_bytes", "remap_properties"]


def _normalize(keep, drop, rename):
    keep_b = None if keep is None else {k.encode("utf-8") for k in keep}
    drop_b = frozenset() if drop is None else \
        {k.encode("utf-8") for k in drop}
    ren_b = {} if rename is None else \
        {o.encode("utf-8"): n.encode("utf-8") for o, n in rename.items()}
    if len(set(ren_b.values())) != len(ren_b):
        raise ValueError(f"rename targets must be distinct: {rename!r}")
    return keep_b, drop_b, ren_b


def _project_layer(layer: T.Layer, kept: np.ndarray,
                   ren_b: Mapping[bytes, bytes]) -> bytes:
    """Rebuild one layer with only the ``kept`` keys' tag pairs,
    key names mapped through ``ren_b``, dictionaries first-appearance
    over the surviving pairs. Every feature survives."""
    fs = layer.features
    nf = len(fs)
    tlens, toff, tflat = feature_tag_streams(fs)
    tkeys = tflat[0::2]
    tvals = tflat[1::2]
    pair_keep = kept[tkeys] if tkeys.size else \
        np.zeros(0, dtype=bool)

    # surviving pair counts per feature -> new offsets
    poff = toff[:-1] // 2
    pair_counts = np.add.reduceat(
        np.append(pair_keep, False).astype(np.int64), poff) \
        if nf else np.zeros(0, np.int64)
    pair_counts[tlens == 0] = 0
    s_toff = np.zeros(nf + 1, np.int64)
    np.cumsum(2 * pair_counts, out=s_toff[1:])

    sk = tkeys[pair_keep]
    sv = tvals[pair_keep]
    k_codes, k_uniq = pd.factorize(sk)
    v_codes, v_uniq = pd.factorize(sv)
    new_tags = np.empty(2 * sk.size, np.uint64)
    new_tags[0::2] = k_codes.astype(np.uint64)
    new_tags[1::2] = v_codes.astype(np.uint64)

    def name_of(i: int) -> bytes:
        kb = layer.keys[int(i)]
        return ren_b.get(kb, kb)

    keys_tab = [name_of(i) for i in k_uniq]
    vals_tab = [layer.values[int(i)] for i in v_uniq]

    has_id = np.fromiter((f.id is not None for f in fs), bool, nf)
    ids = np.fromiter((f.id or 0 for f in fs), np.int64, nf)
    gtypes = np.fromiter((f.geom_type for f in fs), np.int64, nf)
    glens = np.fromiter((f.geometry.size for f in fs), np.int64, nf)
    goff = np.zeros(nf + 1, np.int64)
    np.cumsum(glens, out=goff[1:])
    gflat = (np.concatenate([f.geometry for f in fs]).astype(np.uint64)
             if nf and goff[-1] else np.zeros(0, np.uint64))

    features_bytes, _ = _vartag_features_bytes(
        ids, has_id, gtypes, gflat, goff, new_tags, s_toff)
    header = (
        varint_field(T.LAYER_VERSION, layer.version)
        + len_field(T.LAYER_NAME, layer.name.encode("utf-8"))
        + varint_field(T.LAYER_EXTENT, layer.extent)
    )
    return b"".join([
        header,
        features_bytes,
        b"".join(len_field(T.LAYER_KEYS, k) for k in keys_tab),
        b"".join(len_field(T.LAYER_VALUES, v) for v in vals_tab),
    ])


def remap_tile_bytes(buf: bytes,
                     keep_b: frozenset | set | None,
                     drop_b: frozenset | set,
                     ren_b: Mapping[bytes, bytes],
                     layer_sel: str | None = None) -> bytes:
    """One tile's projection pass (pre-normalized byte-form args).
    Identity configuration (keep=None, no drops, no renames, no
    selector) returns ``buf`` unchanged, byte-verbatim."""
    if keep_b is None and not drop_b and not ren_b and layer_sel is None:
        return buf
    by_ordinal = layer_sel is not None and layer_sel.isdigit()
    want_ord = int(layer_sel) if by_ordinal else -1
    blobs: list[bytes] = []
    try:
        for ordinal, lv in enumerate(T.tile_layer_views(buf)):
            if layer_sel is not None:
                if by_ordinal:
                    if ordinal != want_ord:
                        continue
                elif T.layer_name_only(lv) != layer_sel:
                    continue
            layer = T.parse_layer(lv)
            kept = np.fromiter(
                ((keep_b is None or k in keep_b) and k not in drop_b
                 for k in layer.keys), bool, len(layer.keys))
            if kept.all() and not any(
                    k in ren_b for k in layer.keys):
                blobs.append(bytes(lv))   # untouched layer: verbatim
                continue
            blobs.append(_project_layer(layer, kept, ren_b))
    except (MVTError, IndexError):
        # IndexError: tag pair referencing past the key table — the
        # same out-of-range corruption dict lookups surface as
        # errors-as-data elsewhere (mvt/tile.py Layer.key)
        blobs = []
    return T.build_tile(blobs)


def remap_properties(tiles: DataFrame,
                     keep: Iterable[str] | None = None,
                     drop: Iterable[str] | None = None,
                     rename: Mapping[str, str] | None = None,
                     layer: str | int | None = None) -> DataFrame:
    """Distributed property projection over ``(z,x,y,tile_bytes)``
    rows: tile-join's -x/-R as one zero-shuffle mapInPandas pass.
    Config is validated on the driver (duplicate rename targets raise
    HERE); per-tile malformation degrades to an empty tile row."""
    keep_b, drop_b, ren_b = _normalize(keep, drop, rename)
    layer_sel = None if layer is None else str(layer)

    def fn(batches):
        for pdf in batches:
            outs = [remap_tile_bytes(bytes(b), keep_b, drop_b, ren_b,
                                     layer_sel)
                    for b in pdf["tile_bytes"].to_numpy()]
            yield pd.DataFrame({
                "z": pdf["z"].to_numpy(),
                "x": pdf["x"].to_numpy(),
                "y": pdf["y"].to_numpy(),
                "num_layers": [T.count_layers(o) for o in outs],
                "tile_bytes": outs,
            }, columns=["z", "x", "y", "num_layers", "tile_bytes"])

    return tiles.mapInPandas(fn, schema=TILE_SCHEMA)
