"""Mapbox-GL legacy feature filters compiled to the fused tile-rewrite
kernel — the tippecanoe ``-j`` / GL style-spec filter surface over the
same zero-shuffle execution model as ``rewrite.rewrite_tiles``.

Grammar (public Mapbox Style Spec, legacy "other/filter" form):

    ["has", k]                  ["!has", k]
    ["==", k, v]  ["!=", k, v]
    ["<", k, v]   ["<=", k, v]  [">", k, v]  [">=", k, v]
    ["in", k, v1, ...]          ["!in", k, v1, ...]
    ["all", f, ...]  ["any", f, ...]  ["none", f, ...]

Special keys: ``"$type"`` (values Point | LineString | Polygon |
Unknown, vtzero's GeomType enum), ``"$id"`` (the optional feature
id; a feature without an id fails every positive ``$id`` test and
passes every negated one, mirroring the missing-property rule), and
``"$zoom"`` (the tile's z — tippecanoe's ``-j`` evaluation context,
which lets one filter tree express zoom-dependent feature dropping:
``["any", [">=", "$zoom", 10], ["==", "class", "motorway"]]``).

Missing-property semantics follow the spec exactly: ``==``, ``in`` and
the orderings evaluate FALSE for a feature lacking the key; ``!=`` and
``!in`` evaluate TRUE. Comparisons are type-strict across categories
(string / number / bool never compare equal cross-category; ``"1"``
does not match ``1``) while the MVT numeric widths (float, double,
int, uint, sint) compare as one numeric domain — the same typed-value
algebra vtzero's property_value accessors expose
(property_value.hpp:160-228).

Execution model: every leaf predicate is evaluated ONCE per layer over
the deduplicated VALUE TABLE (``decode_value`` per distinct wire
value) to a boolean over value indices; per-feature verdicts are then
pure integer ops on the flat tag streams (key-index equality, vmask
gather, segmented any). Features never decode their property values —
the wire-identity trick the reference uses for equality
(types.hpp:141-186) extended to the whole comparison algebra. The
dictionary is the small side by construction (it deduplicates the
layer), so per-layer cost is O(V x leaves + tags), all vectorized.

At 100 TB the operator is embarrassingly parallel: one mapInPandas
pass, no shuffle, each task filters its tiles independently — the
identical plan shape as rewrite_tiles, which this module byte-matches
on the overlapping predicate subset (pinned in
tests/test_exprfilter.py::test_byte_parity_with_rewrite).
"""

from __future__ import annotations

import numbers

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..mvt import tile as T
from ..mvt import values as V
from ..mvt.errors import MVTError
from .rewrite import (
    TILE_SCHEMA, feature_tag_streams, rebuild_layer, seg_any,
)

_CMP_OPS = {"==", "!=", "<", "<=", ">", ">="}
_SET_OPS = {"in", "!in"}
_HAS_OPS = {"has", "!has"}
_COMBINATORS = {"all", "any", "none"}

_GEOM_NAMES = {"Unknown": 0, "Point": 1, "LineString": 2, "Polygon": 3}


def compile_filter(filt) -> tuple:
    """Validate a legacy-filter JSON tree -> immutable AST tuple.
    Raises ValueError on malformed input (driver-side, fail fast —
    a bad filter must never become a per-task exception)."""
    if not isinstance(filt, (list, tuple)) or not filt:
        raise ValueError(f"filter must be a non-empty list: {filt!r}")
    op = filt[0]
    if not isinstance(op, str):
        raise ValueError(f"filter op must be a string: {op!r}")
    if op in _COMBINATORS:
        return (op,) + tuple(compile_filter(f) for f in filt[1:])
    if op in _HAS_OPS:
        if len(filt) != 2 or not isinstance(filt[1], str):
            raise ValueError(f"[{op!r}] takes exactly one key: {filt!r}")
        return (op, filt[1])
    if op in _CMP_OPS:
        if len(filt) != 3 or not isinstance(filt[1], str):
            raise ValueError(f"[{op!r}] takes (key, value): {filt!r}")
        return (op, filt[1], _check_literal(op, filt[1], filt[2]))
    if op in _SET_OPS:
        if len(filt) < 2 or not isinstance(filt[1], str):
            raise ValueError(f"[{op!r}] takes (key, v1, ...): {filt!r}")
        return (op, filt[1],
                tuple(_check_literal(op, filt[1], v) for v in filt[2:]))
    raise ValueError(f"unknown filter op {op!r}")


def _check_literal(op: str, key: str, v):
    if key == "$type":
        if op in {"<", "<=", ">", ">="}:
            raise ValueError(f"$type supports ==/!=/in/!in, not {op!r}")
        if v not in _GEOM_NAMES:
            raise ValueError(f"$type literal must be one of "
                             f"{sorted(_GEOM_NAMES)}: {v!r}")
        return v
    if key in ("$id", "$zoom"):
        if isinstance(v, bool) or not isinstance(v, numbers.Integral):
            raise ValueError(f"{key} literal must be an integer: {v!r}")
        return int(v)
    if isinstance(v, (str, bool)) or isinstance(v, numbers.Real):
        if op in {"<", "<=", ">", ">="} and isinstance(v, bool):
            raise ValueError(f"ordering on bool literal: {v!r}")
        return v
    raise ValueError(f"unsupported literal type {type(v).__name__}: {v!r}")


# ------------------------------------------------------------- evaluation

def _value_mask(decoded: list, op: str, lit) -> np.ndarray:
    """Boolean over the layer VALUE TABLE: which distinct values
    satisfy ``<value> op lit``. Exact python comparisons — the table
    is dictionary-sized, so the loop is over distinct values, never
    features."""
    nv = len(decoded)
    out = np.zeros(nv, dtype=bool)
    lit_is_bool = isinstance(lit, bool)
    lit_is_num = (not lit_is_bool) and isinstance(lit, numbers.Real)
    lit_is_str = isinstance(lit, str)
    for i, dv in enumerate(decoded):
        if dv is None:
            continue  # undecodable wire value matches nothing
        tag, pv = dv
        if tag == V.VT_STRING:
            ok = lit_is_str
        elif tag == V.VT_BOOL:
            ok = lit_is_bool
        else:
            ok = lit_is_num
        if not ok:
            continue
        if op == "==":
            out[i] = pv == lit
        elif op == "<":
            out[i] = pv < lit
        elif op == "<=":
            out[i] = pv <= lit
        elif op == ">":
            out[i] = pv > lit
        else:  # ">="
            out[i] = pv >= lit
    return out


def _leaf_feature_mask(layer_ctx: dict, op: str, key: str,
                       payload) -> np.ndarray:
    """Per-feature verdict for one positive-form leaf (negation is
    applied by the caller): has / == / < / <= / > / >= / in."""
    nf = layer_ctx["nf"]
    if key == "$zoom":
        zv = layer_ctx["zoom"]
        if zv is None:
            return np.zeros(nf, dtype=bool)  # unknown zoom: missing key
        if op == "has":
            hit = True
        elif op == "in":
            hit = zv in payload
        elif op == "==":
            hit = zv == payload
        elif op == "<":
            hit = zv < payload
        elif op == "<=":
            hit = zv <= payload
        elif op == ">":
            hit = zv > payload
        else:
            hit = zv >= payload
        return np.full(nf, hit, dtype=bool)
    if key == "$type":
        g = layer_ctx["gtypes"]
        if op == "has":
            return np.ones(nf, dtype=bool)  # every feature has a type
        if op == "in":
            codes = [_GEOM_NAMES[v] for v in payload]
            return np.isin(g, codes)
        if op == "==":
            return g == _GEOM_NAMES[payload]
        raise ValueError(f"$type supports has/==/!=/in/!in, not {op!r}")
    if key == "$id":
        has_id = layer_ctx["has_id"]
        ids = layer_ctx["ids"]
        if op == "has":
            return has_id.copy()
        if op == "in":
            return has_id & np.isin(ids, np.asarray(payload, np.int64))
        if op == "==":
            return has_id & (ids == payload)
        if op == "<":
            return has_id & (ids < payload)
        if op == "<=":
            return has_id & (ids <= payload)
        if op == ">":
            return has_id & (ids > payload)
        return has_id & (ids >= payload)

    try:
        kidx = layer_ctx["keys"].index(key.encode("utf-8"))
    except ValueError:
        return np.zeros(nf, dtype=bool)  # key absent from the layer
    tkeys = layer_ctx["tkeys"]
    key_hit = tkeys == kidx
    if op == "has":
        vmask = None
    elif op == "in":
        vmask = np.zeros(len(layer_ctx["decoded"]), dtype=bool)
        for lit in payload:
            vmask |= _value_mask(layer_ctx["decoded"], "==", lit)
    else:
        vmask = _value_mask(layer_ctx["decoded"], op, payload)
    pair = key_hit if vmask is None else \
        key_hit & vmask[layer_ctx["tvals"]]
    return seg_any(pair, layer_ctx["toff"], layer_ctx["tlens"])


def _eval_ast(layer_ctx: dict, ast: tuple) -> np.ndarray:
    op = ast[0]
    if op in _COMBINATORS:
        kids = [_eval_ast(layer_ctx, k) for k in ast[1:]]
        if not kids:
            # spec: empty "all" is true, empty "any" false, "none" true
            full = op != "any"
            return np.full(layer_ctx["nf"], full, dtype=bool)
        acc = kids[0]
        for k in kids[1:]:
            acc = (acc & k) if op == "all" else (acc | k)
        return ~acc if op == "none" else acc
    if op in ("has", "==", "<", "<=", ">", ">=", "in"):
        return _leaf_feature_mask(layer_ctx, op, ast[1],
                                  ast[2] if len(ast) > 2 else None)
    if op == "!has":
        return ~_leaf_feature_mask(layer_ctx, "has", ast[1], None)
    if op == "!=":
        return ~_leaf_feature_mask(layer_ctx, "==", ast[1], ast[2])
    # "!in"
    return ~_leaf_feature_mask(layer_ctx, "in", ast[1], ast[2])


def _layer_ctx(layer: T.Layer, zoom: int | None = None) -> dict:
    fs = layer.features
    nf = len(fs)
    tlens, toff, tflat = feature_tag_streams(fs)
    decoded: list = []
    for vb in layer.values:
        try:
            decoded.append(V.decode_value(vb))
        except MVTError:
            decoded.append(None)
    return {
        "nf": nf,
        "zoom": zoom,
        "keys": layer.keys,
        "decoded": decoded,
        "tlens": tlens,
        "toff": toff,
        "tkeys": tflat[0::2],
        "tvals": tflat[1::2],
        "gtypes": np.fromiter((f.geom_type for f in fs), np.int64, nf),
        "has_id": np.fromiter((f.id is not None for f in fs), bool, nf),
        "ids": np.fromiter((f.id or 0 for f in fs), np.int64, nf),
    }


def filter_tile_bytes_expr(buf: bytes, ast: tuple,
                           layer_sel: str | None = None,
                           zoom: int | None = None) -> bytes:
    """One tile's expression-filter pass: evaluate the compiled AST per
    layer (optional vtzero-filter layer selector: digits -> ordinal,
    else name), rebuild survivor layers first-appearance, drop empty
    layers. ``zoom`` feeds ``$zoom`` leaves (None = every positive
    $zoom test fails). Malformed tile -> empty tile (errors-as-data)."""
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
            if not layer.features:
                continue
            keep = _eval_ast(_layer_ctx(layer, zoom=zoom), ast)
            lb = rebuild_layer(layer, np.flatnonzero(keep))
            if lb is not None:
                blobs.append(lb)
    except MVTError:
        blobs = []
    return T.build_tile(blobs)


def filter_tiles_expr(tiles: DataFrame, filt,
                      layer: str | int | None = None) -> DataFrame:
    """Distributed GL-legacy-filter rewrite: compile once on the
    driver (malformed filters raise HERE, not per task), then one
    zero-shuffle mapInPandas pass over ``(z, x, y, tile_bytes)`` rows —
    the rewrite_tiles plan shape with an arbitrary predicate tree."""
    ast = compile_filter(filt)
    layer_sel = None if layer is None else str(layer)

    def fn(batches):
        for pdf in batches:
            zs = pdf["z"].to_numpy()
            outs = [filter_tile_bytes_expr(bytes(b), ast, layer_sel,
                                           zoom=int(zv))
                    for b, zv in zip(pdf["tile_bytes"].to_numpy(), zs)]
            yield pd.DataFrame({
                "z": pdf["z"].to_numpy(),
                "x": pdf["x"].to_numpy(),
                "y": pdf["y"].to_numpy(),
                "num_layers": [T.count_layers(o) for o in outs],
                "tile_bytes": outs,
            }, columns=["z", "x", "y", "num_layers", "tile_bytes"])

    return tiles.mapInPandas(fn, schema=TILE_SCHEMA)
