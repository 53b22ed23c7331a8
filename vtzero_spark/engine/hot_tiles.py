"""Skew-safe MVT encode for HOT tiles (chunked, byte-identical).

The fused encode (assemble.encode_point_tiles) encodes each tile whole
inside one task — perfect until one tile holds a disproportionate share
of the data (a z0/z1 pyramid node, a mega-city tile). The MVT format
forces the final layer blob to be assembled in one place, but nothing
forces the EXPENSIVE parts — dictionary construction and per-feature
varint encoding — to be serial. This module splits them:

1. **Distributed dictionary**: melt the fixed property schema, group by
   (tile, layer, vtype, value), take min (ordinal, column-slot) as the
   first appearance, rank per layer — exactly the index a sequential
   vtzero add_property loop would assign (builder_impl.hpp:104-147),
   computed as ordinary shuffled aggregations that scale with
   executors, not with the hottest tile.
2. **Chunked feature sections**: features get their tag indexes by
   join, are split into ordinal-contiguous chunks, and each chunk's
   features-section bytes are encoded in parallel tasks by the batch
   encoder's own feature writer (assemble._features_section: points or
   command streams; a NULL feature_id is written without an id).
3. **Ordered concat**: per layer, chunk byte sections concatenate in
   chunk order; header/keys/values wrap them, the values section
   written by the batch encoder's value-table writer
   (assemble._values_section). Byte-identical to assemble's batch
   encoder (asserted in tests).

All 7 value types are supported (types.hpp:141-186): value identity is
(vtype, canonical string) — injective per type (Spark's float/double
cast-to-string is the shortest round-trippable decimal; a VT_FLOAT
column is narrowed to float before the cast, so doubles that round to
one float32 share an entry), so it equals vtzero's encoded-bytes
identity. prop_spec columns must be non-null
(same contract as the batch encoder; enforced with a loud
error in the values encode, since the tag equi-join would otherwise
silently drop NULL-valued features).

Design note (measured, sf0.1 uncapped pyramid = 2.3M features with a
unique-string property, local[32], warm): two alternatives to the
per-column tag joins were built, byte-parity-verified, and REJECTED on
throughput. (a) chunk-local dictionary candidates + cogroup of
features with per-chunk dictionary slices (full rows shuffle once, tag
lookup in pandas): 26-33s vs 20.5s here — value strings cross the
Arrow boundary three times and the candidate set is O(rows) for
unique-valued columns, so "distinct rows only" saves nothing exactly
when skew matters. (b) the same joins keyed (layer, chunk, value)
instead of (layer, value): 36-44s — an extra melt+checkpoint job and
no exchange reuse. The residual skew of the (layer, value) join key
(one popular value of one hot layer on one reducer) is handled at
runtime by AQE's skew-join split, which the session enables; the
chunked sections already bound the ENCODE tasks, which is the part a
bigger cluster cannot split on its own.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..mvt import tile as T
from ..mvt import values as V
from . import assemble

TILE_KEY = ["z", "x", "y"]
LAYER_KEY = TILE_KEY + ["layer_name"]

_CHUNK_SCHEMA = ("z long, x long, y long, layer_name string, chunk long, "
                 "n long, section binary")
_VALUES_SCHEMA = ("z long, x long, y long, layer_name string, "
                  "vsize int, values_section binary")


def _encode_values_pdf(pdf: pd.DataFrame) -> tuple[bytes, int]:
    """Dict rows (vtype, value_str) sorted by idx -> values-section
    bytes (assemble._values_section) and the entry count."""
    if pdf["value_str"].isna().any():
        # the tag equi-join would silently DROP features whose value is
        # NULL (NULL != NULL); the dictionary groupBy keeps the NULL
        # group, so failing here turns that silent loss into an error
        raise ValueError(
            "prop_spec columns must be non-null: a NULL property value "
            "has no MVT wire form (filter or fill before encoding)")
    vts = pdf["vtype"].to_numpy(np.int64)
    ix = np.empty(len(pdf), np.int64)
    canon: dict[int, object] = {}
    for vt in np.unique(vts):
        sel = vts == vt
        ix[sel] = np.arange(int(sel.sum()))
        vals = pdf["value_str"][sel]
        # Spark's cast-to-string is the shortest round-trippable
        # decimal (Ryu), so parsing it back yields the exact float —
        # string identity == wire-bytes identity (types.hpp:141-186)
        if vt == V.VT_STRING:
            vals = vals.tolist()
        elif vt == V.VT_BOOL:
            vals = (vals == "true").to_numpy()
        else:
            vals = vals.astype({V.VT_FLOAT: np.float32,
                                V.VT_DOUBLE: np.float64}.get(vt, np.int64))
        canon[int(vt)] = assemble._canon_keys(int(vt), vals)
    section, _ = assemble._values_section(vts, ix, canon)
    return section, len(pdf)


def _value_str(col: str, vtype: int):
    """A property value's dictionary key: its string cast, taken on
    the float32 a VT_FLOAT column is written as."""
    c = F.col(col)
    return (c.cast("float") if vtype == V.VT_FLOAT else c).cast("string")


def _assemble_chunked(features: DataFrame, prop_spec,
                      chunk_rows: int) -> DataFrame:
    """The chunked encode: distributed dictionary (when a prop_spec is
    given), ordinal-contiguous chunking, per-chunk section encode
    (_chunk_section), and the ordered final concat."""
    from ..mvt.pbf import len_field, varint_field

    nprops = len(prop_spec) if prop_spec else 0
    dict_df = None
    feats = features
    if prop_spec:
        # 1. distributed dictionaries (first-appearance over the
        #    interleaved (ordinal, column-slot) stream) WITHOUT a melt:
        #    per property column, a map-side-combined groupBy finds
        #    each value's min ordinal (only DISTINCT (layer, value)
        #    rows ever shuffle); the interleaved first appearance is
        #    then the min of the per-column minima tagged with their
        #    column slot — identical to the sequential add_property
        #    order (builder_impl.hpp:104-147)
        parts = []
        for c, (_, vtype, col) in enumerate(prop_spec):
            parts.append(
                features.groupBy(
                    *LAYER_KEY,
                    _value_str(col, vtype).alias("value_str"))
                .agg(F.min("feature_ordinal").alias("_o"))
                .select(*LAYER_KEY, F.lit(vtype).alias("vtype"),
                        "value_str",
                        F.struct(F.col("_o").alias("feature_ordinal"),
                                 F.lit(c).alias("col_idx")).alias("first")))
        allparts = parts[0]
        for p in parts[1:]:
            allparts = allparts.unionByName(p)
        firsts = allparts.groupBy(*LAYER_KEY, "vtype", "value_str").agg(
            F.min("first").alias("first"))
        w_dict = Window.partitionBy(*LAYER_KEY).orderBy("first")
        dict_df = firsts.withColumn("idx", F.row_number().over(w_dict) - 1)

        # 2. tag indexes per feature: one value-equality join per
        #    property column (full rows shuffle once per column; no
        #    3x-exploded melt join and no pivot-back aggregation)
        for c, (_, vtype, col) in enumerate(prop_spec):
            dc = dict_df.where(F.col("vtype") == F.lit(vtype)).select(
                *LAYER_KEY, F.col("value_str").alias(f"_v{c}"),
                F.col("idx").alias(f"tag{c}"))
            feats = feats.withColumn(f"_v{c}", _value_str(col, vtype)) \
                .join(dc, LAYER_KEY + [f"_v{c}"]).drop(f"_v{c}")
    # chunk id from the ordinal with a PER-LAYER span — no per-layer
    # window (a row_number window would stream the entire hot layer
    # through one task, defeating the point of chunking). The span is
    # derived from each layer's ordinal range and row count so
    # chunk_rows means actual rows per chunk even when ordinals are
    # globally sparse (e.g. dataset-wide ids spread across thousands
    # of tiles — naive floor(ordinal/chunk_rows) would shatter every
    # layer into thousands of tiny groups). Chunks stay ordinal-
    # contiguous (floor of a monotone map), so the ordered concat is
    # byte-identical; the per-task bound is ~chunk_rows for uniform
    # ordinals and never exceeds the layer's span under clustering.
    # The stats pass is one map-side-combined agg with layers-count
    # output, broadcast back.
    # stats come from the RAW features (same keys/ordinals), so this
    # pass never recomputes the melt/dictionary/tags lineage and column
    # pruning reduces it to a narrow key+ordinal scan
    lstats = features.groupBy(*LAYER_KEY).agg(
        F.min("feature_ordinal").alias("_omin"),
        F.max("feature_ordinal").alias("_omax"),
        F.count("*").alias("_n"))
    lstats = lstats.withColumn(
        "_span",
        F.greatest(F.lit(1), F.ceil(
            (F.col("_omax") - F.col("_omin") + 1)
            / F.greatest(F.lit(1), F.ceil(F.col("_n") / chunk_rows)))))
    feats = feats.join(F.broadcast(lstats), LAYER_KEY).withColumn(
        "chunk",
        F.floor((F.col("feature_ordinal") - F.col("_omin")) / F.col("_span"))
    ).drop("_omin", "_omax", "_n", "_span")

    # 3. chunk encode (vectorized features-section bytes per chunk)
    chunks = feats.groupBy(*LAYER_KEY, "chunk").applyInArrow(
        lambda tbl: _chunk_section(tbl, nprops), schema=_CHUNK_SCHEMA)

    # 4. values-section bytes per layer (vectorized from the dict rows)
    if dict_df is not None:
        def enc_values(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("idx", kind="stable")
            section, vsize = _encode_values_pdf(pdf)
            return pd.DataFrame([{
                "z": int(pdf["z"].iloc[0]), "x": int(pdf["x"].iloc[0]),
                "y": int(pdf["y"].iloc[0]),
                "layer_name": pdf["layer_name"].iloc[0],
                "vsize": vsize, "values_section": section,
            }])

        layer_values = dict_df.groupBy(*LAYER_KEY).applyInPandas(
            enc_values, schema=_VALUES_SCHEMA)

    # 5. ordered concat: chunks -> layer bytes -> tile bytes
    key_section = b"".join(
        len_field(T.LAYER_KEYS, k.encode("utf-8"))
        for k, _, _ in (prop_spec or []))
    head_pre = varint_field(T.LAYER_VERSION, 2)
    head_post = varint_field(T.LAYER_EXTENT, 4096)

    layer_chunks = chunks.groupBy(*LAYER_KEY).agg(
        F.sum("n").alias("num_features"),
        F.array_sort(F.collect_list(F.struct("chunk", "section"))).alias("secs"),
    )

    def build_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("layer_name", kind="stable")
        has_values = "values_section" in pdf.columns
        # positional access (no iterrows Series construction per row)
        a_secs = pdf["secs"].to_numpy(object)
        a_name = pdf["layer_name"].to_numpy(object)
        a_nf = pdf["num_features"].to_numpy(np.int64)
        a_vals = (pdf["values_section"].to_numpy(object)
                  if has_values else None)
        parts = []
        num_layers = 0
        for i in range(len(pdf)):
            feats_bytes = b"".join(bytes(s["section"]) for s in a_secs[i])
            name = a_name[i].encode("utf-8")
            layer_bytes = b"".join([
                head_pre, len_field(T.LAYER_NAME, name), head_post,
                feats_bytes, key_section,
                bytes(a_vals[i]) if has_values else b"",
            ])
            if a_nf[i] > 0:
                parts.append(len_field(T.TILE_LAYERS, layer_bytes))
                num_layers += 1
        return pd.DataFrame([{
            "z": int(pdf["z"].iloc[0]), "x": int(pdf["x"].iloc[0]),
            "y": int(pdf["y"].iloc[0]),
            "num_layers": num_layers,
            "tile_bytes": b"".join(parts),
        }])

    joined = layer_chunks.join(layer_values, LAYER_KEY) \
        if dict_df is not None else layer_chunks
    return joined.groupBy(*TILE_KEY).applyInPandas(
        build_tile, schema=assemble.TILE_SCHEMA)


def _chunk_section(tbl: "pa.Table", nprops: int) -> "pa.Table":
    """One ordinal-contiguous chunk of one layer -> its features-section
    bytes (assemble._features_section: points or command streams, a
    NULL feature_id left out)."""
    import pyarrow as pa

    tbl = tbl.sort_by("feature_ordinal")
    codes = (np.stack([tbl.column(f"tag{c}").to_numpy().astype(np.int64)
                       for c in range(nprops)], axis=1)
             if nprops else None)
    section, _ = assemble._features_section(tbl, codes, nprops)
    row = {c: [tbl.column(c)[0].as_py()] for c in LAYER_KEY + ["chunk"]}
    return pa.table({**row, "n": [tbl.num_rows], "section": [section]},
                    schema=pa.schema([(c, pa.int64()) for c in TILE_KEY]
                                     + [("layer_name", pa.string()),
                                        ("chunk", pa.int64()),
                                        ("n", pa.int64()),
                                        ("section", pa.binary())]))


def encode_point_tiles_chunked(
    features: DataFrame,
    prop_spec,
    chunk_rows: int = 100_000,
) -> DataFrame:
    """Byte-identical to assemble.encode_point_tiles, but no single
    task ever holds more than ``chunk_rows`` features — hot tiles
    parallelize across chunks; only the cheap final byte concat is
    per-tile."""
    return _assemble_chunked(features, prop_spec, chunk_rows)


def encode_geom_tiles_chunked(
    features: DataFrame,
    prop_spec=None,
    chunk_rows: int = 100_000,
) -> DataFrame:
    """Skew-safe encode for arbitrary pre-built geometry command
    streams (the set_geometry passthrough) — byte-identical to
    assemble.encode_geom_tiles, with no task holding more than
    ``chunk_rows`` features. Extends the hot-tile discipline beyond
    point layers: a z0 tile full of polygons encodes its feature
    sections in parallel ordinal-contiguous chunks."""
    return _assemble_chunked(features, prop_spec, chunk_rows)
