"""Tileset enrichment + attribute analytics: the archive-level pair
every production tileset workflow runs between build and serving.

- ``join_attributes`` is the distributed **tile-join**: join a small
  attribute table onto every feature by a property value and re-encode
  (the mapbox ecosystem ships this as ``tile-join -c csv`` /
  ``-i``). vtzero's own surface for the same job is the property
  mapper + geometry passthrough pair: ``property_mapper.hpp:31-99``
  re-keys property tables across builders while the feature's RAW
  geometry rides through untouched (``feature.hpp`` geometry view /
  ``builder.hpp:151-164`` copy path) — and that is exactly what this
  operator does distributed: the command stream decoded from the
  source tile is re-emitted verbatim, only the key/value dictionaries
  are rebuilt (first-appearance order, ``builder_impl.hpp:104-147``).
- ``tileset_stats`` is the **tilestats** summary (mapbox-geostats):
  per (layer, attribute) value type, cardinality and numeric range
  over the whole tileset — the stats JSON computed before serving.

Scale shapes:

- ``join_attributes``: tile decode is a 1-to-N flatMap (no shuffle),
  the attribute table rides in BROADCAST (a dimension table keyed on
  an attribute value — thousands of rows, never corpus-sized), and
  the only hash shuffle is the re-encode's own repartition(z,x,y) —
  the same shuffle count as a plain re-encode, so enrichment is free
  at the plan level. Unmatched features either drop (``how='inner'``,
  tile-join's ``-i``) or keep their base properties with caller
  fills (``how='left'``); both stay on the vectorized fixed-schema
  dictionary path (``assemble.encode_geom_tiles``). Callers that
  need per-feature attribute OMISSION (ragged property shapes) keep
  the generic ``assemble.encode_layers`` escape hatch.
- ``tileset_stats``: ``explode(properties)`` never leaves its
  executor — partial aggregation reduces each partition to its
  (layer, attribute) partials before ONE bounded shuffle whose output
  is layers x attributes rows, independent of corpus size.
  ``exact=False`` swaps COUNT(DISTINCT value) for HLL
  ``approx_count_distinct`` — the 100 TB default, where the distinct
  shuffle (one row per distinct value) would otherwise be the only
  data-sized edge in the plan.

Errors as data: malformed source tiles surface as ``decode_status``
rows at ``assemble.decode_tiles`` and are EXCLUDED here (pinned in
tests); lint first (`engine/lint.py`) to account for them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..mvt import values as V
from . import assemble

# decoded-struct field per value type (FEATURE_PROPS_SCHEMA's tagged
# union: strings -> sval, float/double -> dval, int family -> ival)
_FIELD = {
    V.VT_STRING: "sval",
    V.VT_FLOAT: "dval",
    V.VT_DOUBLE: "dval",
    V.VT_INT: "ival",
    V.VT_UINT: "ival",
    V.VT_SINT: "ival",
    V.VT_BOOL: "ival",
}

_TYPE_NAME = {
    V.VT_STRING: "string",
    V.VT_FLOAT: "float",
    V.VT_DOUBLE: "double",
    V.VT_INT: "int",
    V.VT_UINT: "uint",
    V.VT_SINT: "sint",
    V.VT_BOOL: "bool",
}

_NUMERIC_VTYPES = (V.VT_FLOAT, V.VT_DOUBLE, V.VT_INT, V.VT_UINT, V.VT_SINT)

_FEATURE_COLS = ["z", "x", "y", "layer_name", "feature_ordinal",
                 "feature_id", "geom_type", "geometry"]


def _prop_expr(key: str, vtype: int):
    return F.col("properties")[key][_FIELD[vtype]]


def join_attributes(tiles: DataFrame, attrs: DataFrame,
                    key_prop: tuple[str, int],
                    base_spec: list[tuple[str, int]],
                    attr_spec: list[tuple[str, int, str]],
                    how: str = "inner",
                    fill: dict | None = None) -> DataFrame:
    """Distributed tile-join: enrich every feature of every tile with
    columns from ``attrs``, matched on a decoded property value.

    tiles:     (z, x, y, tile_bytes)
    attrs:     dimension table carrying a column named ``key_prop[0]``
               plus the columns referenced by ``attr_spec`` (joined
               BROADCAST — must be dimension-sized).
    key_prop:  (property key, vtype) of the join key on the feature.
    base_spec: [(key, vtype), ...] existing properties to carry into
               the rebuilt feature (include the key itself to keep it).
    attr_spec: [(new key, vtype, attrs column), ...] appended props.
    how:       'inner' drops unmatched features (tile-join -i);
               'left' keeps them — requires ``fill`` to map every
               attr_spec column to a default so the fixed-schema
               vectorized dictionary path applies.

    Returns (z, x, y, num_layers, tile_bytes): geometry byte streams
    and feature ids pass through verbatim (an id-less feature stays
    id-less), layer dictionaries are rebuilt first-appearance on the
    surviving rows — byte-identical to encoding the joined corpus
    directly (law pinned in tests/test_enrich.py).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    missing = [c for _, _, c in attr_spec
               if how == "left" and (fill is None or c not in fill)]
    if missing:
        raise ValueError(
            f"how='left' requires fill defaults for attr columns {missing}; "
            "use assemble.encode_layers for per-feature omission semantics")
    key_name, key_vtype = key_prop

    dec = assemble.decode_tiles(tiles, properties=True) \
        .where(F.col("decode_status") == "ok")
    feats = dec.select(
        *_FEATURE_COLS,
        *[_prop_expr(k, vt).alias(k) for k, vt in base_spec],
        _prop_expr(key_name, key_vtype).alias("_join_key"),
    )
    dim = attrs.withColumnRenamed(key_name, "_join_key") \
        .select("_join_key", *[c for _, _, c in attr_spec])
    joined = feats.join(F.broadcast(dim), "_join_key", how)
    if how == "left":
        joined = joined.select(
            *_FEATURE_COLS, *[k for k, _ in base_spec],
            *[F.coalesce(F.col(c), F.lit(fill[c])).alias(c)
              for _, _, c in attr_spec])
    spec = [(k, vt, k) for k, vt in base_spec] \
        + [(k, vt, c) for k, vt, c in attr_spec]
    return assemble.encode_geom_tiles(joined, prop_spec=spec)


def tileset_stats(tiles: DataFrame, exact: bool = True) -> DataFrame:
    """tilestats (mapbox-geostats) over a tileset: one row per
    (layer_name, attribute) with its value type name ('mixed' when a
    key carries more than one wire type across features), feature
    count ``n``, distinct-value count ``n_distinct`` and numeric
    [min_num, max_num] range (NULL for non-numeric attributes; bools
    are counted but not ranged, as in tilestats).

    ``exact=False`` uses approx_count_distinct (HLL++), keeping the
    single shuffle bounded by (layers x attributes) partials instead
    of one row per distinct value — the 100 TB default; exact is the
    oracle-matched form.
    """
    dec = assemble.decode_tiles(tiles, properties=True) \
        .where(F.col("decode_status") == "ok")
    kv = dec.select(
        "layer_name", F.explode("properties").alias("attribute", "v"))

    vt = F.col("v.vtype")
    tname = F.lit(None).cast("string")
    for code, name in _TYPE_NAME.items():
        tname = F.when(vt == code, name).otherwise(tname)
    # injective per (attribute, vtype): one canonical string per value
    canon = F.concat_ws(
        "|", vt.cast("string"), F.col("v.sval"),
        F.col("v.ival").cast("string"), F.col("v.dval").cast("string"))
    num = F.when(vt.isin(*_NUMERIC_VTYPES),
                 F.coalesce(F.col("v.dval"),
                            F.col("v.ival").cast("double")))
    n_distinct = (F.countDistinct("canon") if exact
                  else F.approx_count_distinct("canon"))

    return kv.select("layer_name", "attribute", tname.alias("tname"),
                     canon.alias("canon"), num.alias("num")) \
        .groupBy("layer_name", "attribute").agg(
            F.when(F.countDistinct("tname") > 1, F.lit("mixed"))
             .otherwise(F.min("tname")).alias("att_type"),
            F.count("*").alias("n"),
            n_distinct.alias("n_distinct"),
            F.min("num").alias("min_num"),
            F.max("num").alias("max_num"),
        )


def tileset_metadata(tiles: DataFrame, name: str = "tileset",
                     exact: bool = False) -> dict:
    """TileJSON-3.0-shaped metadata for a tileset — what an mbtiles
    writer stores in its ``metadata`` table (``json.vector_layers``)
    and a tile server returns from its TileJSON endpoint. Coordinates
    are in this engine's integer tile grid (no geographic CRS in the
    corpus), so ``bounds`` is [min_x, min_y, max_x, max_y] in tile
    units at ``maxzoom``.

    Three bounded aggregations, cheapest first:
    - zoom range + bounds from the (z, x, y) columns alone (no decode);
    - per-layer zoom span + feature totals from ``decode_layers``
      (header/frame scan only — feature bodies stay unparsed);
    - per-layer ``fields`` from :func:`tileset_stats` (the full
      decode; ``exact=False`` HLL by default since a metadata JSON
      never needs exact cardinalities).
    Driver materialization is layers x attributes rows — never
    corpus-sized."""
    zb = tiles.agg(
        F.min("z").alias("minz"), F.max("z").alias("maxz"),
        F.min("x").alias("minx"), F.max("x").alias("maxx"),
        F.min("y").alias("miny"), F.max("y").alias("maxy")).first()
    span = assemble.decode_layers(tiles) \
        .where(F.col("decode_status") == "ok") \
        .groupBy("layer_name").agg(
            F.min("z").alias("minzoom"), F.max("z").alias("maxzoom"),
            F.sum("num_features").alias("n_features")).collect()
    fields: dict[str, dict[str, str]] = {}
    for r in tileset_stats(tiles, exact=exact).collect():
        fields.setdefault(r.layer_name, {})[r.attribute] = r.att_type
    return {
        "tilejson": "3.0.0",
        "name": name,
        "scheme": "xyz",
        "minzoom": int(zb.minz),
        "maxzoom": int(zb.maxz),
        "bounds": [int(zb.minx), int(zb.miny),
                   int(zb.maxx), int(zb.maxy)],
        "vector_layers": [
            {
                "id": r.layer_name,
                "minzoom": int(r.minzoom),
                "maxzoom": int(r.maxzoom),
                "fields": fields.get(r.layer_name, {}),
                "feature_count": int(r.n_features),
            }
            for r in sorted(span, key=lambda r: r.layer_name)
        ],
    }
