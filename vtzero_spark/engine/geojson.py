"""GeoJSON export / parse — the text boundary of the tile pipeline.

vtzero itself stops at the wire format; its ecosystem callers cross
into GeoJSON on both sides (tippecanoe ingests GeoJSON features and
hands vtzero-shaped layers to an encoder; vt2geojson walks exactly
the decode surface vtzero exposes — layers -> features -> geometry +
properties — and prints Features).  This module is that boundary,
Spark-first:

- ``export_geojson``: decoded feature rows (assemble.decode_tiles
  schema — command-integer geometry) -> one RFC-7946 Feature string
  per feature.  Geometry decode reuses mvt.geometry.decode_geometry
  (the tested codec path, closing point re-emitted per
  geometry.hpp:373); text assembly is batch Python inside ONE
  mapInPandas — no shuffle, cost linear in vertex count, exactly the
  decode flatMap shape every archive operator here uses.
  Coordinates are emitted as INTEGERS in tile-local units — the
  engine's exact grid (lon/lat is a lossy FP projection; callers who
  want it compose tiling.lonlat helpers).  Multi-part geometries
  follow vt2geojson's mapping: >1 decoded part promotes Point ->
  MultiPoint, LineString -> MultiLineString, >1 outer ring ->
  MultiPolygon (inner rings attach to the preceding outer,
  spec 4.3.4.4).  Undecodable features surface as status rows
  (errors-as-data), never task failures.

- ``parse_geojson``: Feature strings -> typed rows with geometry
  normalized to a ragged parts array — PURE JVM (get_json_object +
  from_json + higher-order array ops, whole-stage codegen, zero
  Python), so ingest keeps up with a parquet scan at 100 TB.  Each
  depth variant parses only its CASE branch's rows semantically;
  malformed JSON yields null parts (errors as data again).

- ``vertices``: parsed rows -> one row per vertex via posexplode —
  the exploded integer form the DuckDB oracle can reproduce closed
  form, which is how the geojson_roundtrip driver query pins the
  whole encode -> decode -> export -> parse chain hash-exactly.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..mvt import geometry as G
from ..mvt.errors import MVTError

EXPORT_SCHEMA = (
    "z long, x long, y long, layer_name string, feature_id long, "
    "geojson string, status string"
)


def _ring_text(arr: np.ndarray) -> str:
    return "[" + ",".join(
        "[%d,%d]" % (int(p[0]), int(p[1])) for p in arr) + "]"


def _props_text(props) -> str:
    """Deterministic properties object: sorted keys, 7-type union
    rendered to JSON scalars (strings escaped via json.dumps)."""
    if props is None or len(props) == 0:
        return "{}"
    out = []
    for k in sorted(props):
        v = props[k]
        vt = v["vtype"]
        if vt == 1:
            tv = json.dumps(v["sval"], ensure_ascii=False)
        elif vt in (2, 3):
            tv = repr(float(v["dval"]))
        elif vt == 7:
            tv = "true" if v["ival"] else "false"
        else:
            tv = str(int(v["ival"]))
        out.append(json.dumps(k, ensure_ascii=False) + ":" + tv)
    return "{" + ",".join(out) + "}"


def _geometry_text(gtype: int, cmds: np.ndarray, nbytes) -> str:
    parts, ring_types = G.decode_geometry(
        gtype, cmds, None if nbytes is None else int(nbytes))
    if gtype == G.GEOM_POINT:
        pts = parts[0]
        if len(pts) == 1:
            return '{"type":"Point","coordinates":[%d,%d]}' % (
                int(pts[0][0]), int(pts[0][1]))
        return '{"type":"MultiPoint","coordinates":%s}' % _ring_text(pts)
    if gtype == G.GEOM_LINESTRING:
        if len(parts) == 1:
            return '{"type":"LineString","coordinates":%s}' % _ring_text(
                parts[0])
        return '{"type":"MultiLineString","coordinates":[%s]}' % ",".join(
            _ring_text(p) for p in parts)
    # polygon: outer starts a polygon, inners attach to it
    polys: list[list[str]] = []
    for ring, rt in zip(parts, ring_types):
        if rt == G.RING_INNER and polys:
            polys[-1].append(_ring_text(ring))
        else:
            polys.append([_ring_text(ring)])
    if len(polys) == 1:
        return '{"type":"Polygon","coordinates":[%s]}' % ",".join(polys[0])
    return '{"type":"MultiPolygon","coordinates":[%s]}' % ",".join(
        "[" + ",".join(p) + "]" for p in polys)


def _trunc32(v: np.ndarray) -> np.ndarray:
    w = v & 0xFFFFFFFF
    return np.where(w >= (1 << 31), w - (1 << 32), w)


def _ring_skel(npts: int) -> str:
    return "[" + ",".join(["[%d,%d]"] * npts) + "]"


def _fast_export_groups(gtype: int, row0: np.ndarray, ln: int,
                        M: np.ndarray, coords: np.ndarray,
                        parts: list[tuple[int, int]]):
    """Subgroup a template-uniform batch into (row-mask, point-index
    order, geometry-text skeleton) triples.  Points and linestrings
    have ONE skeleton per template; polygon ring classification
    depends on each row's shoelace SIGNS (geometry.hpp:161-169), so
    rows subgroup by their sign vector — almost always one group."""
    k = len(M)
    if gtype == G.GEOM_POINT:
        (start, cnt), = parts
        sel = np.arange(start, start + cnt)
        skel = ('{"type":"Point","coordinates":[%d,%d]}' if cnt == 1
                else '{"type":"MultiPoint","coordinates":%s}'
                % _ring_skel(cnt))
        return [(np.arange(k), sel, skel)]
    if gtype == G.GEOM_LINESTRING:
        sel = np.concatenate([np.arange(s, s + c) for s, c in parts])
        if len(parts) == 1:
            skel = ('{"type":"LineString","coordinates":%s}'
                    % _ring_skel(parts[0][1]))
        else:
            skel = ('{"type":"MultiLineString","coordinates":[%s]}'
                    % ",".join(_ring_skel(c) for _, c in parts))
        return [(np.arange(k), sel, skel)]
    # polygon: per-row ring winding
    r = len(parts)
    signs = np.empty((k, r), np.int8)
    for ri, (s0, c0) in enumerate(parts):
        xs = coords[:, s0:s0 + c0, 0]
        ys = coords[:, s0:s0 + c0, 1]
        xn = np.roll(xs, -1, axis=1)
        yn = np.roll(ys, -1, axis=1)
        signs[:, ri] = np.sign((xs * yn - xn * ys).sum(axis=1))
    uniq, inv = np.unique(signs, axis=0, return_inverse=True)
    out = []
    for ui in range(len(uniq)):
        rows_l = np.flatnonzero(inv == ui)
        sig = uniq[ui]
        polys: list[list[int]] = []
        for ri in range(r):
            if sig[ri] < 0 and polys:  # RING_INNER attaches
                polys[-1].append(ri)
            else:
                polys.append([ri])
        sel = np.concatenate([
            np.r_[np.arange(parts[ri][0], parts[ri][0] + parts[ri][1]),
                  parts[ri][0]]
            for poly in polys for ri in poly])
        ptxts = ["[%s]" % ",".join(_ring_skel(parts[ri][1] + 1)
                                   for ri in poly) for poly in polys]
        if len(polys) == 1:
            skel = '{"type":"Polygon","coordinates":%s}' % ptxts[0]
        else:
            skel = ('{"type":"MultiPolygon","coordinates":[%s]}'
                    % ",".join(ptxts))
        out.append((rows_l, sel, skel))
    return out


def export_geojson(features: DataFrame) -> DataFrame:
    """assemble.decode_tiles rows -> RFC-7946 Feature strings.

    One mapInPandas, no shuffle; expects the FEATURE(_PROPS)_SCHEMA
    columns (properties optional). Output: (z, x, y, layer_name,
    feature_id, geojson, status) — status='ok' or the decode error.

    Batches whose command streams share one template (identical
    command integers at identical positions — the corpus norm; the
    same uniformity test geomops._uniform_batch_stats runs) decode as
    ONE matrix (zigzag + cumsum + int32 truncation, bit-identical to
    the scalar cursor) and render through a precomputed %-skeleton,
    replacing the per-row decode_geometry + string-join walk
    (measured ~4x on the rect corpus; byte-identical output is pinned
    in tests/test_geojson.py).  Non-uniform or error rows fall back
    to the scalar path row by row.
    """
    has_props = "properties" in features.columns
    cols = ["z", "x", "y", "layer_name", "feature_id", "geom_type",
            "geometry", "geometry_nbytes"] + (
                ["properties"] if has_props else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            gj = [None] * n
            st = [None] * n
            gt = pdf["geom_type"].to_numpy()
            geom = pdf["geometry"].to_numpy()
            nb = pdf["geometry_nbytes"].to_numpy()
            fid = pdf["feature_id"].to_numpy()
            pr = pdf["properties"].to_numpy() if has_props else None
            handled = np.zeros(n, bool)

            groups: dict[tuple[int, int, int], list[int]] = {}
            for i in range(n):
                g = geom[i]
                ln = -1 if g is None else len(g)
                v = nb[i]
                nbk = -1 if v is None or pd.isna(v) else int(v)
                groups.setdefault((int(gt[i]), ln, nbk), []).append(i)
            for (gtype, ln, nbk), idxs in groups.items():
                if ln <= 0 or len(idxs) < 8 or gtype not in (
                        G.GEOM_POINT, G.GEOM_LINESTRING, G.GEOM_POLYGON):
                    continue
                idxa = np.asarray(idxs, np.int64)
                M = np.stack([np.asarray(geom[i], np.int64)
                              for i in idxs]) & 0xFFFFFFFF
                row0 = M[0]
                try:
                    G.decode_geometry(gtype, row0,
                                      None if nbk < 0 else nbk)
                except (MVTError, ValueError):
                    continue
                cmd_pos: list[int] = []
                parts: list[tuple[int, int]] = []
                pos = pt = 0
                cur_start = 0
                while pos < ln:
                    ci = int(row0[pos])
                    cmd, cnt = ci & 0x7, ci >> 3
                    cmd_pos.append(pos)
                    if cmd == G.CMD_MOVE_TO:
                        if gtype == G.GEOM_POINT:
                            parts.append((pt, cnt))
                        else:
                            cur_start = pt
                        pt += cnt
                        pos += 1 + 2 * cnt
                    elif cmd == G.CMD_LINE_TO:
                        pt += cnt
                        if gtype == G.GEOM_LINESTRING:
                            parts.append((cur_start, pt - cur_start))
                        pos += 1 + 2 * cnt
                    else:
                        parts.append((cur_start, pt - cur_start))
                        pos += 1
                cmd_pos_a = np.asarray(cmd_pos, np.int64)
                if not (M[:, cmd_pos_a] == row0[cmd_pos_a]).all():
                    continue
                param_pos = np.setdiff1d(np.arange(ln), cmd_pos_a)
                m = param_pos.size // 2
                params = M[:, param_pos]
                deltas = ((params >> 1) ^ -(params & 1)).reshape(
                    len(M), m, 2)
                coords = _trunc32(np.cumsum(deltas, axis=1))
                for rows_l, sel, skel in _fast_export_groups(
                        gtype, row0, ln, M, coords, parts):
                    gidx = idxa[rows_l]
                    flat = coords[rows_l][:, sel, :].reshape(
                        len(rows_l), -1).tolist()
                    for j, gi in enumerate(gidx):
                        gtxt = skel % tuple(flat[j])
                        idtxt = ("" if fid[gi] is None or pd.isna(fid[gi])
                                 else '"id":%d,' % int(fid[gi]))
                        ptxt = _props_text(pr[gi]) if pr is not None \
                            else "{}"
                        gj[gi] = ('{"type":"Feature",%s"properties":%s,'
                                  '"geometry":%s}' % (idtxt, ptxt, gtxt))
                        st[gi] = "ok"
                    handled[gidx] = True

            for i in range(n):
                if handled[i]:
                    continue
                try:
                    gtxt = _geometry_text(
                        int(gt[i]), np.asarray(geom[i], dtype=np.int64),
                        nb[i])
                except (MVTError, ValueError, TypeError) as e:
                    st[i] = f"{type(e).__name__}: {e}"
                    continue
                idtxt = ("" if fid[i] is None or pd.isna(fid[i])
                         else '"id":%d,' % int(fid[i]))
                ptxt = _props_text(pr[i]) if pr is not None else "{}"
                gj[i] = ('{"type":"Feature",%s"properties":%s,'
                         '"geometry":%s}' % (idtxt, ptxt, gtxt))
                st[i] = "ok"
            out = pdf[["z", "x", "y", "layer_name"]].copy()
            out["feature_id"] = pdf["feature_id"]
            out["geojson"] = gj
            out["status"] = st
            yield out

    return features.select(*cols).mapInPandas(fn, schema=EXPORT_SCHEMA)


# -------------------------------------------------------- parse (JVM)

_PARTS_T = "array<array<array<bigint>>>"


def parse_geojson(df: DataFrame, col: str = "geojson") -> DataFrame:
    """Feature strings -> typed rows, PURE JVM (codegen end to end).

    Output columns (input columns preserved):
      gj_type   geometry type string
      fid       feature id (null when absent)
      props_json raw properties object text (typed access is the
                caller's schema decision)
      parts     geometry normalized to array<array<array<bigint>>> —
                a list of rings/paths of [x, y]; Point wraps to one
                single-point part, MultiPolygon flattens its polygons
                (ring grouping is recoverable from ring order/winding,
                same as the wire format itself, spec 4.3.4.4).
    Malformed JSON or unknown types yield null parts (errors as data).
    """
    c = F.col(col)
    typ = F.get_json_object(c, "$.geometry.type")
    coords = F.get_json_object(c, "$.geometry.coordinates")
    d1 = F.from_json(coords, "array<bigint>")
    d2 = F.from_json(coords, "array<array<bigint>>")
    d3 = F.from_json(coords, _PARTS_T)
    d4 = F.from_json(coords, "array<array<array<array<bigint>>>>")
    parts = (
        F.when(typ == "Point", F.array(F.array(d1)))
        .when(typ.isin("MultiPoint", "LineString"), F.array(d2))
        .when(typ.isin("MultiLineString", "Polygon"), d3)
        .when(typ == "MultiPolygon", F.flatten(d4))
        .otherwise(F.lit(None).cast(_PARTS_T))
    )
    return df.withColumns({
        "gj_type": typ,
        "fid": F.get_json_object(c, "$.id").cast("long"),
        "props_json": F.get_json_object(c, "$.properties"),
        "parts": parts,
    })


def to_features(parsed: DataFrame) -> DataFrame:
    """Parsed GeoJSON rows -> encoder-ready feature rows (the
    tippecanoe direction: text in, wire bytes out via
    assemble.encode_tiles).  Pure JVM: the struct conversion is two
    nested ``transform``s, so the only Python in the whole ingest
    chain is the one vectorized encode UDF.

    Expects parse_geojson output plus (z, x, y, layer_name); feature
    ordering inside a layer follows ``fid`` (feature_ordinal := fid),
    matching the synth corpora where ordinal == id.  Rows whose parts
    failed to parse are dropped here — upstream keeps them as status
    rows, the encoder only ever sees well-formed features.
    """
    gt = (
        F.when(F.col("gj_type").isin("Point", "MultiPoint"), F.lit(1))
        .when(F.col("gj_type").isin("LineString", "MultiLineString"),
              F.lit(2))
        .when(F.col("gj_type").isin("Polygon", "MultiPolygon"), F.lit(3))
    )
    parts = F.transform(
        "parts",
        lambda ring: F.transform(
            ring,
            lambda p: F.struct(
                F.element_at(p, 1).cast("long").alias("x"),
                F.element_at(p, 2).cast("long").alias("y"))))
    return parsed.where(F.col("parts").isNotNull()).select(
        "z", "x", "y", "layer_name",
        F.col("fid").alias("feature_ordinal"),
        F.col("fid").alias("feature_id"),
        gt.cast("int").alias("geom_type"),
        parts.alias("parts"),
    )


def geojson_to_tiles(lines: DataFrame, zoom: int, extent: int,
                     buffer: int = 0, layer: str = "features",
                     col: str = "geojson",
                     coalesce_lines: bool = False) -> DataFrame:
    """The full tippecanoe front door: GeoJSON Feature lines in WORLD
    integer coordinates -> encoded MVT tiles at ``zoom``.

    Stages (shuffle only at the final per-tile encode):
    1. parse_geojson — pure JVM;
    2. bbox fan-out: per-feature [min, max] via array_min/transform
       (JVM), candidate tiles = every tile whose buffered rect the
       bbox touches (sequence + two posexplodes — the correct cover,
       unlike anchor-point replication which misses geometry that
       extends past the buffer without its anchor following);
    3. localize: coordinates shift into each owning tile's frame via
       nested transforms (JVM);
    4. clip.clip_features cuts every copy to its buffered rect (the
       Arrow batch kernels; vanished features drop);
    5. geomops.cmds_from_parts (batch parts->command-stream, byte
       parity with the scalar encoders) -> assemble.encode_geom_tiles
       (the batch tile encoder; its repartition(z, x, y) is the plan's
       one hash shuffle). Measured 1.7x end to end vs routing through
       encode_layers' per-feature encode (BENCH.md).

    Feature order inside a layer follows fid (the corpus discipline).
    Rows whose JSON failed to parse are dropped (upstream keeps them
    as status rows via parse_geojson on the same input).
    """
    # NO parts-notnull filter here: Catalyst pushes that predicate —
    # substituting the full format_string/JSON-parse expression —
    # through every project/aggregate down INTO the source scan,
    # so the parse runs twice (once per raw row in the scan's
    # DataFilter, once in the projection); measured 12.1 -> 3.6 s at
    # sf0.1.  Unparseable rows carry a null bbox and fan out to ZERO
    # tiles via _rng's null guard — same drop, no pushdown tax.
    p = parse_geojson(lines, col=col)
    return world_features_to_tiles(p, zoom, extent, buffer=buffer,
                                   layer=layer,
                                   coalesce_lines=coalesce_lines)


def world_features_to_tiles(p: DataFrame, zoom: int, extent: int,
                            buffer: int = 0, layer: str = "features",
                            coalesce_lines: bool = False,
                            layer_col: str | None = None) -> DataFrame:
    """Stages 2-5 of geojson_to_tiles (bbox fan-out -> localize ->
    clip -> vectorized encode) over NATIVE feature rows — the shared
    tail for every world-coordinate ingest (GeoJSON text, trajectory
    tracks, WKB imports). ``p`` columns: fid (long), gj_type (the
    GeoJSON type string) and parts (array<array<array<long>>> of
    [x, y] vertex pairs in WORLD integer coordinates).

    ``layer_col`` names a string column of ``p`` that carries each
    feature's layer (multi-layer ingests, e.g. per-level contours —
    the coalesce merge and the encode both already key on
    layer_name); when None every feature lands in ``layer``."""
    from . import assemble
    from .clip import clip_features
    from .geomops import cmds_from_parts

    n_tiles = 1 << zoom
    flat = F.flatten("parts")
    xs = F.transform(flat, lambda q: F.element_at(q, 1))
    ys = F.transform(flat, lambda q: F.element_at(q, 2))
    p = p.withColumns({
        "_x0": F.array_min(xs), "_x1": F.array_max(xs),
        "_y0": F.array_min(ys), "_y1": F.array_max(ys),
    })
    # Clamped endpoints can CROSS for a feature wholly beyond the tile
    # grid (e.g. contour vertices overhang the world edge by half a
    # pixel: lo = 16 > hi = 15 at zoom 4) — and F.sequence(16, 15)
    # steps DOWN, inventing out-of-grid tile addresses. Guard each
    # axis: no overlap with the grid -> empty fan-out, feature dropped.
    def _rng(lo: Column, hi: Column) -> Column:
        # greatest/least SKIP nulls (greatest(0, NULL) = 0), so a
        # null bbox (unparseable feature) must short-circuit to the
        # empty fan-out explicitly — this guard is what lets the
        # ingest run with NO filter on the parsed column (see
        # geojson_to_tiles: a parts-notnull filter gets predicate-
        # pushed into the source scan, re-running the whole JSON
        # parse chain per raw input row — measured 3.3x the query)
        lo2 = F.greatest(F.lit(0), lo)
        hi2 = F.least(F.lit(n_tiles - 1), hi)
        return F.when(lo.isNotNull() & hi.isNotNull() & (lo2 <= hi2),
                      F.sequence(lo2, hi2)) \
            .otherwise(F.array().cast("array<long>"))

    tx = _rng(F.expr(f"(_x0 - {buffer}) div {extent}"),
              F.expr(f"(_x1 + {buffer}) div {extent}"))
    ty = _rng(F.expr(f"(_y0 - {buffer}) div {extent}"),
              F.expr(f"(_y1 + {buffer}) div {extent}"))
    p = (p.withColumn("x", F.explode(tx))
         .withColumn("y", F.explode(ty))
         .withColumn("z", F.lit(zoom).cast("long")))
    gt = (
        F.when(F.col("gj_type").isin("Point", "MultiPoint"), F.lit(1))
        .when(F.col("gj_type").isin("LineString", "MultiLineString"),
              F.lit(2))
        .when(F.col("gj_type").isin("Polygon", "MultiPolygon"), F.lit(3))
    )
    loc = F.transform(
        "parts",
        lambda ring: F.transform(
            ring,
            lambda q: F.struct(
                (F.element_at(q, 1) - F.col("x") * extent)
                .cast("long").alias("x"),
                (F.element_at(q, 2) - F.col("y") * extent)
                .cast("long").alias("y"))))
    feats = p.select(
        "z", "x", "y",
        (F.col(layer_col) if layer_col is not None
         else F.lit(layer)).alias("layer_name"),
        F.col("fid").alias("feature_ordinal"),
        F.col("fid").alias("feature_id"),
        gt.cast("int").alias("geom_type"),
        loc.alias("parts"))
    # Width discipline (the session-8 flat-scaling diagnosis,
    # BENCH.md): the parse/fan-out/clip/cmds stages inherit the
    # SOURCE's width — a real .geojsonl scan arrives in file splits,
    # so that is the caller's lever (the synth twins repartition).
    # The encode brings its own repartition(z, x, y): that is the
    # pipeline's ONE shuffle (plan-audited), at the session's shuffle
    # width under AQE. A width-pinning repartition(n, x, y) just above
    # it would be collapsed away by Catalyst (CollapseRepartition keeps
    # only the top one), so none is placed there.
    if coalesce_lines:
        # tippecanoe --coalesce: merge chained linestrings per tile
        # BEFORE the encode. The merge's groupBy(z,x,y,layer_name) is
        # clustered-compatible with the (x,y) repartition, so it
        # REUSES that exchange; the encode then pays its own (second)
        # exchange — but over the post-merge, shrunken rows, which is
        # the right order of costs (the whole point of coalescing is
        # that the encode sees fewer, bigger features).
        from .linemerge import merge_lines_cmds

        feats = clip_features(feats, extent=extent, buffer=buffer)
        sc = feats.sparkSession.sparkContext
        feats = feats.repartition(sc.defaultParallelism * 2, "x", "y")
        # merge + parts->cmds FUSED in one kernel (the merged parts
        # would otherwise re-cross the Arrow boundary through a
        # second Python stage; byte-parity pinned in test_linemerge)
        feats = merge_lines_cmds(feats)
        return assemble.encode_geom_tiles(feats)
    # clip + parts->cmds FUSED into one mapInArrow: the clipped parts
    # batches feed the command-stream kernel in-process instead of
    # re-crossing the Arrow boundary between two Python stages
    from .clip import clip_batches
    from .geomops import cmds_batches

    b = (-buffer, -buffer, extent + buffer, extent + buffer)
    out_fields = [f for f in feats.schema.fields if f.name != "parts"]
    schema_str = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out_fields
    ) + ", geometry array<bigint>"
    clip_fn = clip_batches(b)
    cmds_fn = cmds_batches(out_fields)
    feats = feats.mapInArrow(
        lambda it: cmds_fn(clip_fn(it)), schema=schema_str)
    return assemble.encode_geom_tiles(feats)


def vertices(parsed: DataFrame) -> DataFrame:
    """Parsed rows -> one row per vertex: (…, part, idx, cx, cy) —
    posexplode twice, still pure JVM; the oracle-comparable form."""
    e1 = parsed.select(
        "*", F.posexplode("parts").alias("part", "_ring")).drop("parts")
    return e1.select(
        "*", F.posexplode("_ring").alias("idx", "_pt")).drop("_ring") \
        .withColumns({
            "cx": F.element_at("_pt", 1),
            "cy": F.element_at("_pt", 2),
        }).drop("_pt")
