"""Scalar reference for the read path, for tests only.

``decode_tile_batch`` is decode_tiles written tile by tile and feature
by feature over pandas batches; ``parse_layer`` is tile.parse_layer as
a plain walk over pbf.scan_fields. The engine's columnar decode
(assemble._decode_tile_batches_arrow: one field walk per layer, one
values.decode_values call and one tag resolution per scan chunk) is
checked against them.

The module pickles by value, so a Spark UDF that calls it runs on
workers that do not have ``tests/`` on their path.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import cloudpickle

from vtzero_spark.mvt import pbf
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V
from vtzero_spark.mvt.errors import FormatError, MVTError, VersionError

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def parse_layer(buf: bytes, *, parse_features: bool = True) -> T.Layer:
    """tile.parse_layer as a plain walk over pbf.scan_fields."""
    version: int | None = None
    name: bytes | None = None
    extent: int | None = None
    keys: list[bytes] = []
    values: list[bytes] = []
    feature_views: list[bytes] = []
    for f, w, v in pbf.scan_fields(buf):
        if f == T.LAYER_FEATURES and w == pbf.WT_LEN:
            feature_views.append(v)
        elif f == T.LAYER_VALUES and w == pbf.WT_LEN:
            values.append(v)
        elif f == T.LAYER_KEYS and w == pbf.WT_LEN:
            keys.append(v)
        elif f == T.LAYER_VERSION and w == pbf.WT_VARINT:
            version = v
        elif f == T.LAYER_NAME and w == pbf.WT_LEN:
            name = v
        elif f == T.LAYER_EXTENT and w == pbf.WT_VARINT:
            extent = v
        else:
            raise FormatError(f"unknown field in layer (tag={f}, type={w})")
    version = 1 if version is None else version
    if version < 1 or version > 2:
        raise VersionError(version)
    if name is None:
        raise FormatError("missing name field in layer (spec 4.1)")
    layer = T.Layer(
        name=name.decode("utf-8", errors="surrogateescape"),
        version=version,
        extent=4096 if extent is None else extent,
        keys=keys,
        values=values,
        raw=buf,
    )
    if parse_features:
        blk = T.parse_features_block(feature_views)
        layer.features = T.block_features(blk) if blk["ok"].all() \
            else [T.parse_feature(fv) for fv in feature_views]
    else:
        layer.features = []
        layer.num_feature_views = len(feature_views)  # type: ignore[attr-defined]
        layer.feature_views = feature_views  # type: ignore[attr-defined]
    return layer


FEATURE_COLS = ["z", "x", "y", "layer_ordinal", "layer_name", "version",
                "extent", "feature_ordinal", "feature_id", "geom_type",
                "geometry", "geometry_nbytes", "num_properties",
                "decode_status"]


def decode_layer_values(layer) -> tuple[list[str], list]:
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


def feature_props(f, keys_dec, vals_dec) -> tuple[dict | None, str]:
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


def decode_tile_batch(batches: Iterator[pd.DataFrame],
                      want_props: bool = False) -> Iterator[pd.DataFrame]:
    """The decode_tiles rows of each pandas batch of tiles, tile by tile
    and feature by feature (the mapInPandas form of the reference's
    read loop)."""
    cols = FEATURE_COLS + (["properties"] if want_props else [])
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
                    layer = parse_layer(lv)
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
                # the int32 column: vtzero's uint32 (low 32 bits) as int32
                acc["extent"].append(np.full(
                    nf, np.uint64(layer.extent).astype(np.int32), np.int64))
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
                    keys_dec, vals_dec = decode_layer_values(layer)
                    props_col: list = []
                    status_col: list = []
                    for f in feats:
                        p, st = feature_props(f, keys_dec, vals_dec)
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
