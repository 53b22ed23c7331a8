"""Distributed vtzero-check: the one-query tile lint.

Composes every check the reference CLI performs
(examples/vtzero-check.cpp:30-229) into one per-tile report:

severity 3 (fatal)   — tile/layer/feature parse or geometry-decode
                       exception; like the CLI's top-level catch it
                       ABORTS the rest of that tile's scan
severity 2 (error)   — empty layer name, duplicate layer name
                       (spec 4.1), not-enough-points ring, duplicate
                       consecutive point in linestring/ring, zero-area
                       ring, first ring not outer
                       (vtzero-check.cpp:110-167)

One handler branch is intentionally absent: the CLI's "Not enough
points in linestring" (vtzero-check.cpp:112-115, count < 2). Through
the strict decoder the CLI actually runs, that branch is unreachable —
a LineTo count of 0 throws before linestring_begin is ever called
(geometry.hpp:320-324), so the CLI reports such a tile as a FATAL
top-level catch (vtzero-check.cpp:219-226) and aborts the tile scan.
Our fatal_geometry does exactly that; adding a severity-2 check here
would diverge from the CLI's observable behavior, not match it.
severity 1 (warning) — zero-feature layer, zero-layer tile (spec 4.1),
                       point beyond the [-extent, 2*extent] band
                       (vtzero-check.cpp:81-88)

The per-tile return code is max(severity), the CLI's exit code.
Checks run on the local numpy codec inside one Arrow-batched pass per
tile — lint is a diagnostic surface (the reference tool is a per-tile
CLI); it is not on the encode/decode hot path.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..mvt import geometry as G
from ..mvt import tile as T
from ..mvt.errors import MVTError

# stable check keys (golden-pinned in tests/test_lint.py)
FATAL_PARSE = "fatal_parse"
FATAL_GEOMETRY = "fatal_geometry"
EMPTY_LAYER_NAME = "empty_layer_name"
DUPLICATE_LAYER_NAME = "duplicate_layer_name"
NO_FEATURES_IN_LAYER = "no_features_in_layer"
NO_LAYERS_IN_TILE = "no_layers_in_tile"
NOT_ENOUGH_POINTS_IN_RING = "not_enough_points_in_ring"
DUP_POINT_IN_LINESTRING = "duplicate_point_in_linestring"
DUP_POINT_IN_RING = "duplicate_point_in_ring"
INVALID_RING_AREA0 = "invalid_ring_area0"
FIRST_RING_NOT_OUTER = "first_ring_not_outer"
POINT_BEYOND_EXTENT = "point_beyond_extent"

_SEVERITY = {
    FATAL_PARSE: 3, FATAL_GEOMETRY: 3,
    EMPTY_LAYER_NAME: 2, DUPLICATE_LAYER_NAME: 2,
    NOT_ENOUGH_POINTS_IN_RING: 2, DUP_POINT_IN_LINESTRING: 2,
    DUP_POINT_IN_RING: 2, INVALID_RING_AREA0: 2, FIRST_RING_NOT_OUTER: 2,
    NO_FEATURES_IN_LAYER: 1, NO_LAYERS_IN_TILE: 1,
    POINT_BEYOND_EXTENT: 1,
}


def lint_tile_bytes(buf: bytes) -> Counter:
    """All findings for one tile, as Counter{check_key: n}. Mirrors the
    CLI's control flow: any exception aborts the remaining scan of this
    tile (vtzero-check.cpp:218-225)."""
    out: Counter = Counter()
    try:
        views = T.tile_layer_views(buf)
    except MVTError:
        out[FATAL_PARSE] += 1
        return out
    if not views:
        out[NO_LAYERS_IN_TILE] += 1
        return out
    seen: set[str] = set()
    for lv in views:
        try:
            layer = T.parse_layer(lv)
        except MVTError:
            out[FATAL_PARSE] += 1
            return out
        if layer.name == "":
            out[EMPTY_LAYER_NAME] += 1
        if layer.name in seen:
            out[DUPLICATE_LAYER_NAME] += 1
        seen.add(layer.name)
        if not layer.features:
            out[NO_FEATURES_IN_LAYER] += 1
        ext = int(layer.extent)
        for f in layer.features:
            try:
                parts, ring_types = G.decode_geometry(
                    f.geom_type, f.geometry, f.geometry_nbytes)
            except MVTError:
                out[FATAL_GEOMETRY] += 1
                return out
            for pts in parts:
                oob = int((
                    (pts[:, 0] < -ext) | (pts[:, 1] < -ext)
                    | (pts[:, 0] > 2 * ext) | (pts[:, 1] > 2 * ext)
                ).sum())
                if oob:
                    out[POINT_BEYOND_EXTENT] += oob
                if f.geom_type == G.GEOM_POINT:
                    continue
                dups = int((pts[1:] == pts[:-1]).all(axis=1).sum())
                if f.geom_type == G.GEOM_LINESTRING:
                    if dups:
                        out[DUP_POINT_IN_LINESTRING] += dups
                else:
                    # ring array = start + mids + re-emitted close —
                    # the exact point stream the CLI handler sees
                    if len(pts) < 4:
                        out[NOT_ENOUGH_POINTS_IN_RING] += 1
                    if dups:
                        out[DUP_POINT_IN_RING] += dups
            if ring_types:
                inv = sum(1 for rt in ring_types if rt == G.RING_INVALID)
                if inv:
                    out[INVALID_RING_AREA0] += inv
                if ring_types[0] != G.RING_OUTER:
                    out[FIRST_RING_NOT_OUTER] += 1
    return out


def tile_lint(
    tiles: DataFrame, id_cols: tuple[str, ...] = ("z", "x", "y"),
) -> DataFrame:
    """tiles(*id_cols, tile_bytes) -> finding rows
    (*id_cols, check, severity, n); a clean tile yields no rows. Use
    ``return_codes`` for the per-tile CLI exit code.

    ``id_cols`` are carried through the lint pass verbatim (types taken
    from the input schema), so identity columns that are not unique —
    or not present — as (z,x,y) (e.g. a file ``path`` for address-less
    tiles, which all share z=x=y=-1) never need a post-hoc re-join."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType)

    id_fields = [
        StructField(c, tiles.schema[c].dataType, True) for c in id_cols]
    schema = StructType(id_fields + [
        StructField("check", StringType(), True),
        StructField("severity", IntegerType(), True),
        StructField("n", LongType(), True),
    ])
    cols = list(id_cols) + ["check", "severity", "n"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            ids = [pdf[c].to_numpy() for c in id_cols]
            bufs = pdf["tile_bytes"].to_numpy()
            for i in range(len(pdf)):
                found = lint_tile_bytes(bytes(bufs[i]))
                if not found:
                    continue
                base = {c: ids[j][i] for j, c in enumerate(id_cols)}
                for chk, n in sorted(found.items()):
                    rows.append({
                        **base, "check": chk,
                        "severity": _SEVERITY[chk], "n": int(n)})
            yield pd.DataFrame(rows, columns=cols)

    return tiles.mapInPandas(fn, schema=schema)


def return_codes(lint_df: DataFrame, tiles: DataFrame,
                 id_cols: tuple[str, ...] = ("z", "x", "y")) -> DataFrame:
    """Per-tile exit code — max finding severity, 0 for clean tiles
    (the CLI's result class, vtzero-check.cpp:21-48). Pass the same
    ``id_cols`` the lint ran with: for file lint that includes
    ``path``, since (z,x,y) alone is not unique across address-less
    files (all z=x=y=-1) and a bare z/x/y join would fan out."""
    keys = list(id_cols)
    worst = lint_df.groupBy(*keys).agg(
        F.max("severity").alias("return_code"))
    return (
        tiles.select(*keys)
        .join(worst, keys, "left")
        .withColumn("return_code", F.coalesce("return_code", F.lit(0)))
    )


def lint_mvt_files(spark, path_glob: str) -> DataFrame:
    """vtzero-check over tile FILES — exactly how the reference CLI is
    invoked (examples/vtzero-check.cpp:190-229 reads one file path):
    binary-file scan -> per-tile findings, one row per (tile, check).
    Column ``path`` identifies the source file alongside the z/x/y
    parsed from the filename; it rides through the lint pass itself
    (not a re-join — (z,x,y) is not unique across address-less files,
    which all carry z=x=y=-1, or duplicate filenames in different
    directories)."""
    from . import mvt_files

    tiles = mvt_files.read_mvt_files(spark, path_glob)
    return tile_lint(
        tiles.select("z", "x", "y", "path", "tile_bytes"),
        id_cols=("z", "x", "y", "path"))
