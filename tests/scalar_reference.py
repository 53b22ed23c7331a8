"""Scalar references and fixture builders, for tests only.

The engine has one implementation per operator; what the tests check
it against lives here:

- the read path written tile by tile: ``decode_tile_batch`` is
  decode_tiles over pandas batches, ``parse_layer`` is
  tile.parse_layer as a plain walk over pbf.scan_fields (the engine's
  columnar decode, assemble._decode_tile_batches_arrow, is checked
  against them);
- per-feature scalar kernels the batch kernels must match
  (``clip_parts_scalar``, ``simplify_parts_scalar``,
  ``rasterize_scalar``, ``vw_reference``/``vw_keep``,
  ``max_deviation_x2``, the ``*_py`` projections and distances,
  ``filter_tile_bytes``) and ``merge_lines``, the unfused line merge
  the fused ``merge_lines_cmds`` must agree with;
- scalar entry points over engine kernels (``earcut_rings``,
  ``polylabel_rings``, the polyline codec);
- builders of test inputs the engine only reads: the grayscale and
  progressive JPEG encoders, Exif GPS planting and stored
  orientations, ``path_features``, ``fixed32_field``.

The module pickles by value, so a Spark UDF that calls it runs on
workers that do not have ``tests/`` on their path.
"""

from __future__ import annotations

import math
import struct
import sys
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vtzero_spark.engine import jpeg as J
from vtzero_spark.engine.earcut import _earcut_core
from vtzero_spark.engine.exif import apply_orientation
from vtzero_spark.engine.geomops import _pt
from vtzero_spark.engine.georuler import _KX, _KY
from vtzero_spark.engine.jpeg import (
    AC_LUMA_BITS, AC_LUMA_VALS, DC_LUMA_BITS, DC_LUMA_VALS, ZIGZAG,
    _BitWriter, _encode_block, _encode_table, _quantized_zigzag,
    _rgb_to_ycbcr, _seg, quality_tables,
)
from vtzero_spark.engine.jpeg_progressive import _scan_blocks
from vtzero_spark.engine.linemerge import (
    _check_accumulate, _explode_parts, _merge_group_rows,
)
from vtzero_spark.engine.mercator import MAX_LAT
from vtzero_spark.engine.polylabel import polylabel_flat
from vtzero_spark.engine.polyline import encode_e
from vtzero_spark.engine.rewrite import rewrite_tile_bytes
from vtzero_spark.engine.synth import WORLD
from vtzero_spark.engine.visvalingam import _area2, effective_areas
from vtzero_spark.mvt import geometry as G
from vtzero_spark.mvt import pbf
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V
from vtzero_spark.mvt.errors import FormatError, MVTError, VersionError
from vtzero_spark.mvt.pbf import WT_FIXED32, tag_key

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


# -------------------------------------------------- mvt/pbf.py


def fixed32_field(field: int, payload4: bytes) -> bytes:
    return tag_key(field, WT_FIXED32) + payload4


# ---------------------------------------------- engine/clip.py


def clip_parts_scalar(parts, geom_type, xmin, ymin, xmax, ymax):
    """Straightforward per-feature reference implementation (closed
    rings in/out for polygons). Used by tests as the oracle for the
    batch kernels; also handy for debugging single features."""
    if geom_type == G.GEOM_POINT:
        out = [[(x, y) for x, y in part
                if xmin <= x <= xmax and ymin <= y <= ymax]
               for part in parts]
        return [p for p in out if p]
    if geom_type == G.GEOM_POLYGON:
        res = []
        for ring in parts:
            pts = [(float(x), float(y)) for x, y in ring[:-1]]
            for axis, bound, keep_ge in (
                (0, xmin, True), (0, xmax, False),
                (1, ymin, True), (1, ymax, False),
            ):
                nxt = []
                m = len(pts)
                for i in range(m):
                    p, q = pts[i], pts[(i + 1) % m]
                    pin = p[axis] >= bound if keep_ge else p[axis] <= bound
                    qin = q[axis] >= bound if keep_ge else q[axis] <= bound
                    if pin:
                        nxt.append(p)
                    if pin != qin:
                        t = (bound - p[axis]) / (q[axis] - p[axis])
                        ix = (bound if axis == 0
                              else p[0] + t * (q[0] - p[0]))
                        iy = (bound if axis == 1
                              else p[1] + t * (q[1] - p[1]))
                        nxt.append((ix, iy))
                pts = nxt
                if not pts:
                    break
            ip = [(int(np.floor(x + 0.5)), int(np.floor(y + 0.5)))
                  for x, y in pts]
            dd = [p for i, p in enumerate(ip) if p != ip[i - 1]]
            if len(dd) >= 3:
                res.append(dd + [dd[0]])
        return res
    # linestring
    res = []
    for line in parts:
        cur = []
        for i in range(len(line) - 1):
            p = (float(line[i][0]), float(line[i][1]))
            q = (float(line[i + 1][0]), float(line[i + 1][1]))
            dx, dy = q[0] - p[0], q[1] - p[1]
            t0, t1, ok = 0.0, 1.0, True
            for pp, qq in ((-dx, p[0] - xmin), (dx, xmax - p[0]),
                           (-dy, p[1] - ymin), (dy, ymax - p[1])):
                if pp == 0:
                    if qq < 0:
                        ok = False
                        break
                    continue
                r = qq / pp
                if pp < 0:
                    t0 = max(t0, r)
                else:
                    t1 = min(t1, r)
            ok = ok and t0 <= t1
            if not ok:
                if len(cur) >= 2:
                    res.append(cur)
                cur = []
                continue
            a = (p[0] + t0 * dx, p[1] + t0 * dy)
            b = (p[0] + t1 * dx, p[1] + t1 * dy)
            if not cur or t0 > 0.0:
                if len(cur) >= 2:
                    res.append(cur)
                cur = [a]
            cur.append(b)
            if t1 < 1.0:
                if len(cur) >= 2:
                    res.append(cur)
                cur = []
        if len(cur) >= 2:
            res.append(cur)
    out = []
    for part in res:
        ip = [(int(np.floor(x + 0.5)), int(np.floor(y + 0.5)))
              for x, y in part]
        dd = [p for i, p in enumerate(ip) if i == 0 or p != ip[i - 1]]
        if len(dd) >= 2:
            out.append(dd)
    return out


# ------------------------------------------ engine/simplify.py


def simplify_parts_scalar(parts, geom_type, tol):
    """Per-feature reference DP (recursive), the test oracle."""
    def dp(pts, s, e, keep):
        if e - s < 2:
            return
        ax, ay = pts[s]
        bx, by = pts[e]
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        best, bi = -1.0, -1
        for i in range(s + 1, e):
            qx, qy = pts[i][0] - ax, pts[i][1] - ay
            if L2 > 0:
                c = qx * dy - qy * dx
                d2 = c * c / L2
            else:
                d2 = qx * qx + qy * qy
            if d2 > best:
                best, bi = d2, i
        if best > tol * tol:
            keep[bi] = True
            dp(pts, s, bi, keep)
            dp(pts, bi, e, keep)

    if geom_type == G.GEOM_POINT:
        return [list(p) for p in parts]
    out = []
    for part in parts:
        pts = [(float(x), float(y)) for x, y in part]
        m = len(pts)
        keep = [False] * m
        keep[0] = keep[m - 1] = True
        if geom_type == G.GEOM_POLYGON:
            ax, ay = pts[0]
            far, best = 1, -1.0
            for i in range(1, m - 1):
                d2 = (pts[i][0] - ax) ** 2 + (pts[i][1] - ay) ** 2
                if d2 > best:
                    best, far = d2, i
            keep[far] = True
            dp(pts, 0, far, keep)
            dp(pts, far, m - 1, keep)
        else:
            dp(pts, 0, m - 1, keep)
        kept = [p for p, k in zip(part, keep) if k]
        if geom_type == G.GEOM_POLYGON:
            if len(kept) - 1 >= 3:
                out.append([tuple(p) for p in kept])
        else:
            if len(kept) >= 2:
                out.append([tuple(p) for p in kept])
    if geom_type == G.GEOM_POLYGON:
        def area2(r):
            s = 0.0
            for i in range(len(r) - 1):
                s += r[i][0] * r[i + 1][1] - r[i + 1][0] * r[i][1]
            return s
        if not any(area2(r) > 0 for r in out):
            return []
    return out


# -------------------------------------------- engine/raster.py


def rasterize_scalar(features: list, size: int, extent: int,
                     rule: str = "nonzero") -> np.ndarray:
    """Per-pixel reference rasterizer (slow, loops): features are
    (geom_type, [[(x, y), ...], ...]) tuples. Uses the SAME crossing
    convention and the same float expression for intersection x as
    the batch kernel, so equality is exact, not approximate.

    Winding accumulates GLOBALLY across all polygon features (compound
    -path semantics — what makes the distributed kernel a monoid); for
    validly-wound MVT polygons (CW outers, CCW holes inside them,
    spec 4.3.3.3 — what lint.py checks upstream) the nonzero rule
    makes this identical to per-feature painter's union, pinned in
    tests/test_raster.py."""
    img = np.zeros((size, size), np.uint8)
    s = extent / size
    poly_rings = [ring for gt, parts in features if gt == G.GEOM_POLYGON
                  for ring in parts]
    if poly_rings:
        for r in range(size):
            yc = (r + 0.5) * s
            for c in range(size):
                cx = (c + 0.5) * s
                wind = 0
                for ring in poly_rings:
                    m = len(ring)
                    for i in range(m):
                        x0, y0 = ring[i]
                        x1, y1 = ring[(i + 1) % m]
                        if y0 == y1:
                            continue
                        if y0 <= yc < y1 or y1 <= yc < y0:
                            xc = float(x0) + (yc - y0) * float(x1 - x0) \
                                / float(y1 - y0)
                            if cx >= xc:
                                wind += 1 if y1 > y0 else -1
                inside = wind != 0 if rule == "nonzero" else wind % 2 != 0
                if inside:
                    img[r, c] = 1
    for gt, parts in features:
        if gt == G.GEOM_POLYGON:
            continue
        elif gt == G.GEOM_LINESTRING:
            for part in parts:
                if len(part) == 1:
                    part = part + part
                for (x0, y0), (x1, y1) in zip(part, part[1:]):
                    span = max(abs(x1 - x0), abs(y1 - y0)) / s
                    n = max(int(np.ceil(span)) + 1, 2)
                    for k in range(n):
                        t = k / (n - 1)
                        xs, ys = x0 + t * (x1 - x0), y0 + t * (y1 - y0)
                        c, r = int(np.floor(xs / s)), int(np.floor(ys / s))
                        if 0 <= c < size and 0 <= r < size:
                            img[r, c] = 1
        else:
            for part in parts:
                for (x, y) in part:
                    c, r = int(np.floor(x / s)), int(np.floor(y / s))
                    if 0 <= c < size and 0 <= r < size:
                        img[r, c] = 1
    return img


# ----------------------------------------- engine/linemerge.py


def merge_lines(features: DataFrame,
                keys: Sequence[str] = ("z", "x", "y", "layer_name"),
                accumulate: dict | None = None,
                ) -> DataFrame:
    """Merge linestring features per group into maximal chains.

    Input/output schema: the pre-encode features table
    (z,x,y,layer_name,feature_ordinal,feature_id,geom_type,parts)
    with parts: array<array<struct<x,y>>>. Non-linestring rows pass
    through untouched. Each group of linestring features becomes ONE
    feature whose parts are the merged chains (a MultiLineString),
    carrying min(feature_ordinal) and the min non-null feature_id.
    Put property columns in ``keys`` to forbid merging across
    attribute boundaries; ``accumulate`` maps other columns to
    sum/min/max/count (tippecanoe --accumulate-attribute) — columns
    neither in ``keys`` nor accumulated carry the group-first value.
    """
    keys = list(keys)
    cols = [c for c in features.columns]
    acc = _check_accumulate(accumulate, cols, keys)

    out_schema = features.schema

    # ONE scan: linestrings and passthrough rows ride the SAME
    # explode -> group kernel.  (The old lines/rest filter split put
    # TWO consumers on the input plan; Python stages cannot be
    # exchange-reused, so the whole upstream — e.g. contour's
    # marching-squares kernel and the clip pass — executed twice;
    # measured a full extra kernel pass under contour_tiles.)
    #
    # One part per row before the pandas kernel, carried as TWO flat
    # long arrays (_xs, _ys) instead of an array<struct> cell: the
    # arrow->pandas converter then hands the kernel clean int64
    # ndarrays (a struct-array cell materializes one Python dict per
    # VERTEX on the way in and needed one per vertex on the way out —
    # measured ~3x the kernel wall on the contour chain corpus).
    # _pos keeps the within-feature part order, so the chain
    # materialization stays deterministic; per-feature accumulation
    # dedups on feature_ordinal so exploding never double-counts.
    # posexplode_outer + _pnull keep empty/null-parts NON-line rows
    # alive through the explode (the old rest branch passed them
    # through verbatim); empty-parts LINE features drop, exactly as
    # the old posexplode did.
    passthrough = [c for c in cols if c != "parts"]
    ex = _explode_parts(features, passthrough)

    kernel_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in out_schema if f.name != "parts"]
        + ["_cx array<array<bigint>>", "_cy array<array<bigint>>"])
    out_cols = [c for c in cols if c != "parts"] + ["_cx", "_cy"]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out_rows = _merge_group_rows(pdf, keys, passthrough, acc)
        return pd.DataFrame(out_rows, columns=out_cols)

    merged = ex.groupBy(*keys).applyInPandas(fn, schema=kernel_schema)
    # reassemble array<array<struct<x,y>>> in the JVM (zip_with is a
    # pure codegen projection) and restore the caller's column order
    parts_col = F.zip_with(
        "_cx", "_cy",
        lambda cx, cy: F.zip_with(
            cx, cy, lambda x, y: F.struct(x.alias("x"), y.alias("y"))))
    merged = merged.withColumn("parts", parts_col).select(*cols)
    return merged


# --------------------------------------- engine/visvalingam.py


def vw_reference(xs, ys, tol2: int, ring: bool = False) -> np.ndarray:
    """Naive from-the-paper oracle: recompute the global minimum each
    pass, remove it while it is below tol2 (same index tie-break),
    stop at the structural floor.  O(n^2) — tests only."""
    n = len(xs)
    min_keep = 3 if ring else 2
    alive = list(range(n))
    while len(alive) > min_keep:
        best = None
        for k, i in enumerate(alive):
            if i == 0 or (not ring and k == len(alive) - 1):
                continue
            p = alive[(k - 1) % len(alive)]
            q = alive[(k + 1) % len(alive)]
            a2 = _area2(xs, ys, p, i, q)
            if best is None or (a2, i) < best[:2]:
                best = (a2, i, k)
        if best is None or best[0] >= tol2:
            break
        alive.pop(best[2])
    keep = np.zeros(n, dtype=bool)
    keep[alive] = True
    return keep


def vw_keep(xs, ys, tol2: int, ring: bool = False) -> np.ndarray:
    """The classical one-tolerance form: keep mask at doubled-area
    tolerance ``tol2`` — by the slicing law, a pure comparison."""
    return effective_areas(xs, ys, ring=ring) >= tol2


# ----------------------------------------- engine/polylabel.py


def polylabel_rings(rings, precision: float = 1.0):
    """Scalar convenience: rings as lists of (x, y) pairs (closed or
    open). The pytest reference entry point."""
    lens = np.array([len(r) for r in rings], dtype=np.int64)
    roff = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=roff[1:])
    px = np.array([p[0] for r in rings for p in r], dtype=np.float64)
    py = np.array([p[1] for r in rings for p in r], dtype=np.float64)
    return polylabel_flat(px, py, roff, precision)


# -------------------------------------------- engine/earcut.py


def earcut_rings(rings) -> tuple[np.ndarray, str]:
    """Triangulate one feature's ring list (open or closed rings of
    (x, y) int pairs). Returns (indices int64 array, status). Indices
    reference the concatenation of the OPEN rings in input order —
    exactly mapbox/earcut's flat-input contract."""
    ropen = []
    off = 0
    for r in rings:
        r = list(r)
        if len(r) >= 2 and tuple(r[0]) == tuple(r[-1]):
            r = r[:-1]
        xa = np.fromiter((p[0] for p in r), np.int64, len(r))
        ya = np.fromiter((p[1] for p in r), np.int64, len(r))
        ropen.append((xa, ya, off))
        off += len(r)
    return _earcut_core(ropen)


# ------------------------------------------- engine/terrain.py


def max_deviation_x2(verts: np.ndarray, tris: np.ndarray,
                     h2: np.ndarray) -> tuple[int, int]:
    """EXACT max vertical deviation of the mesh surface from the true
    doubled heights over every grid point each triangle covers,
    returned as a fraction (num, den): deviation = num/den doubled
    units. Interpolated values at grid points under COARSE triangles
    are dyadic rationals, so the comparison is cross-multiplied
    integer math — no float ever appears (the law the tests pin)."""
    size = h2.shape[0]
    best_n, best_d = 0, 1
    covered = np.zeros((size, size), dtype=bool)
    for a, b, c in tris:
        ax, ay, ah = (int(v) for v in verts[a])
        bx, by, bh = (int(v) for v in verts[b])
        cx, cy, ch = (int(v) for v in verts[c])
        x0, x1 = min(ax, bx, cx), max(ax, bx, cx)
        y0, y1 = min(ay, by, cy), max(ay, by, cy)
        den = (by - ay) * (cx - ax) - (bx - ax) * (cy - ay)
        ys, xs = np.mgrid[y0:y1 + 1, x0:x1 + 1]
        w0 = (by - ay) * (xs - ax) - (bx - ax) * (ys - ay)   # weight c
        w1 = (ys - ay) * (cx - ax) - (xs - ax) * (cy - ay)   # weight b
        s = 1 if den > 0 else -1
        inside = (w0 * s >= 0) & (w1 * s >= 0) \
            & ((w0 + w1) * s <= den * s)
        w2 = den - w0 - w1                                    # weight a
        num = w2 * ah + w1 * bh + w0 * ch
        dev = np.abs(num[inside] - h2[ys[inside], xs[inside]] * den)
        covered[ys[inside], xs[inside]] = True
        if dev.size:
            k = int(dev.max())
            # k/|den| vs best_n/best_d, cross-multiplied
            if k * best_d > best_n * abs(den):
                best_n, best_d = k, abs(den)
    if not covered.all():
        raise ValueError("mesh does not cover the grid")
    return best_n, best_d


# ------------------------------------------- engine/geomops.py


def path_features(assigned: DataFrame) -> DataFrame:
    """Tile-assigned images -> 3-point polyline features:
    (x0,y0) -> (x0+w, y0+h) -> (x0+2w, y0). w,h >= 16 in the synthetic
    table, so no zero-length segments (builder.hpp:850-852 would
    reject them)."""
    x0, y0 = F.col("loc_x").cast("long"), F.col("loc_y").cast("long")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    line = F.array(_pt(x0, y0), _pt(x0 + w, y0 + h), _pt(x0 + 2 * w, y0))
    return assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        F.lit(G.GEOM_LINESTRING).alias("geom_type"),
        F.array(line).alias("parts"),
    )


# ------------------------------------------- engine/rewrite.py


def filter_tile_bytes(buf: bytes, key_b: bytes,
                      val_bs: bytes | list[bytes]) -> bytes:
    """One tile's vtzero-streets pass: keep features whose tag pairs
    reference ``key_b`` with ANY of the ``val_bs`` wire values in the
    layer dictionaries, rebuild, drop empty layers. Malformed input ->
    empty tile. Thin wrapper over the generalized rewrite_tile_bytes."""
    if isinstance(val_bs, bytes):
        val_bs = [val_bs]
    return rewrite_tile_bytes(buf, None, key_b, list(val_bs))


# ------------------------------------------ engine/georuler.py


def meters_per_deg_py(lat: float) -> tuple[float, float]:
    """Scalar twin (the tests' reference)."""
    r = math.radians(lat)
    ky = (_KY[0] + _KY[1] * math.cos(2 * r) + _KY[2] * math.cos(4 * r)
          + _KY[3] * math.cos(6 * r))
    kx = (_KX[0] * math.cos(r) + _KX[1] * math.cos(3 * r)
          + _KX[2] * math.cos(5 * r))
    return kx, ky


def distance_m_py(lon1, lat1, lon2, lat2, ref_lat=None) -> float:
    if ref_lat is None:
        ref_lat = (lat1 + lat2) / 2
    kx, ky = meters_per_deg_py(ref_lat)
    dlon = abs(lon1 - lon2)
    if dlon > 180.0:
        dlon = 360.0 - dlon
    return math.hypot(dlon * kx, (lat1 - lat2) * ky)


def haversine_m_py(lon1, lat1, lon2, lat2,
                   radius: float = 6371008.8) -> float:
    """Spherical great-circle reference (mean-Earth radius)."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = p2 - p1
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) \
        * math.sin(dl / 2) ** 2
    return 2 * radius * math.asin(math.sqrt(a))


# ------------------------------------------ engine/mercator.py


def lonlat_to_world_py(lon: float, lat: float,
                       world: int = WORLD) -> tuple[int, int]:
    """Scalar reference implementation (the tests' oracle twin)."""
    lon = ((lon + 180.0) % 360.0 + 360.0) % 360.0
    lat = max(-MAX_LAT, min(MAX_LAT, lat))
    xf = lon / 360.0 * world
    latr = math.radians(lat)
    merc = math.log(math.tan(latr) + 1.0 / math.cos(latr))
    yf = (1.0 - merc / math.pi) / 2.0 * world
    wx = min(world - 1, max(0, math.floor(xf)))
    wy = min(world - 1, max(0, math.floor(yf)))
    return int(wx), int(wy)


def world_to_lonlat_py(wx: int, wy: int,
                       world: int = WORLD) -> tuple[float, float]:
    cx = (wx + 0.5) / world
    cy = (wy + 0.5) / world
    lon = cx * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * cy))))
    return lon, lat


# ------------------------------------------ engine/polyline.py


def decode_e(s: str) -> np.ndarray:
    """Inverse of encode_e: polyline string -> (n, 2) int64 scaled
    coordinate pairs. Raises ValueError on a truncated or out-of-band
    stream (errors-as-data at the operator layer)."""
    vals = []
    acc = 0
    shift = 0
    for ch in s.encode("ascii"):
        c = ch - 63
        if c < 0 or c > 0x3F:
            raise ValueError(f"polyline byte out of range: {ch}")
        acc |= (c & 0x1F) << shift
        if c & 0x20:
            shift += 5
        else:
            vals.append((acc >> 1) ^ -(acc & 1))
            acc = 0
            shift = 0
    if shift != 0:
        raise ValueError("truncated polyline chunk")
    if len(vals) % 2:
        raise ValueError("odd value count in polyline")
    d = np.array(vals, dtype=np.int64).reshape(-1, 2)
    return np.cumsum(d, axis=0)


def encode_polyline(coords, precision: int = 5) -> str:
    """Float convenience wrapper: sequence of (lat, lng) pairs."""
    scale = 10 ** precision
    v = np.asarray([(round(la * scale), round(ln * scale))
                    for la, ln in coords], dtype=np.int64)
    return encode_e(v.reshape(-1, 2))


def decode_polyline(s: str, precision: int = 5):
    scale = float(10 ** precision)
    return [(a / scale, b / scale) for a, b in decode_e(s)]


# ---------------------------------------------- engine/exif.py


def world_to_dms(wx: int, wy: int, world: int = WORLD):
    """Forward planting: world grid -> (lat_ref, lat_dms, lon_ref,
    lon_dms), exact rationals with denominator `world`. The DMS split
    is the euclidean base-60 cascade, so every planted value is a
    legal deg/min/sec triple and the sum reconstructs exactly."""
    def split(abs_num: int):
        d, rem = divmod(abs_num, world)
        m, rem2 = divmod(rem * 60, world)
        return ((d, 1), (m, 1), (rem2 * 60, world))

    lon_num = 360 * wx - 180 * world
    lat_num = 90 * world - 180 * wy
    lon_ref = "E" if lon_num >= 0 else "W"
    lat_ref = "N" if lat_num >= 0 else "S"
    return lat_ref, split(abs(lat_num)), lon_ref, split(abs(lon_num))


_INVERSE_ORIENT = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 8, 7: 7, 8: 6}


def store_orientation(arr: np.ndarray, o: int) -> np.ndarray:
    """Upright pixels -> the stored form a camera writing Orientation
    tag `o` would produce: apply_orientation(store_orientation(P, o),
    o) == P for every tag (group-law-pinned in tests)."""
    return apply_orientation(arr, _INVERSE_ORIENT[o])


# ---------------------------------------------- engine/jpeg.py


def encode_jpeg_gray(lum: np.ndarray, quality: int = 90) -> bytes:
    """8-bit grayscale (h, w) -> single-component baseline JFIF bytes
    (the decoder replicates the luma plane into RGB). Exercises the
    one-component scan path the decoder claims."""
    h, w = lum.shape
    assert lum.dtype == np.uint8
    ql, _ = quality_tables(quality)
    hp, wp = -(-h // 8) * 8, -(-w // 8) * 8
    plane = np.pad(lum.astype(np.float64),
                   ((0, hp - h), (0, wp - w)), mode="edge")
    zz = _quantized_zigzag(plane, ql)
    dct_l = _encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    act_l = _encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
    wr = _BitWriter()
    prev = 0
    for blk in zz:
        prev = _encode_block(wr, blk, prev, dct_l, act_l)
    entropy = wr.finish()

    out = bytearray(b"\xFF\xD8")
    out += _seg(0xFFE0, b"JFIF\x00" + bytes([1, 1, 0])
                + struct.pack(">HHBB", 1, 1, 0, 0))
    out += _seg(0xFFDB, bytes([0]) + bytes(ql.astype(np.uint8)[ZIGZAG]))
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1)
                + bytes([1, 0x11, 0]))
    for cls, tid, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
    ):
        out += _seg(0xFFC4, bytes([(cls << 4) | tid])
                    + bytes(bits) + bytes(vals))
    out += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += entropy
    out += b"\xFF\xD9"
    return bytes(out)


# ---------------------------------- engine/jpeg_progressive.py


# Simple COMPLETE canonical tables (progressive needs EOBn symbols the
# Annex K tables lack): DC sizes 0..15 at 5 bits; AC symbols 0..254 at
# 9 bits + symbol 255 at 10 (a DHT BITS entry is one byte, so one
# length can hold at most 255 codes). Kraft sums ~0.5 — legal
# incomplete trees, no all-ones code.
_P_DC_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_P_DC_VALS = list(range(16))
_P_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0]
_P_AC_VALS = list(range(256))
_P_DC_TAB = J._encode_table(_P_DC_BITS, _P_DC_VALS)
_P_AC_TAB = J._encode_table(_P_AC_BITS, _P_AC_VALS)

# the libjpeg default progression (published scan script): DC first at
# Al=1, luma AC split 1-5 / 6-63 at Al=2, chroma AC at Al=1, then the
# refinement chain down to Al=0
_DEFAULT_SCANS_3 = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
]
_DEFAULT_SCANS_1 = [
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
]


class _ScanWriter:
    """Entropy writer for one scan: wraps _BitWriter with EOB-run and
    correction-bit buffering (T.81 G.1.2.2-3) and restart emission."""

    def __init__(self) -> None:
        self.wr = _BitWriter()
        self.eobrun = 0
        self.be: list[int] = []   # buffered correction bits

    def sym(self, tab: dict, s: int) -> None:
        code, length = tab[s]
        self.wr.write(code, length)

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(_P_AC_TAB, nbits << 4)
            if nbits:
                self.wr.write(self.eobrun, nbits)
            self.eobrun = 0
        for b in self.be:
            self.wr.write(b, 1)
        self.be = []

    def restart(self, idx: int) -> None:
        self.emit_eobrun()
        self.wr.align()
        self.wr.raw_marker(0xD0 + (idx % 8))

    def finish(self) -> bytes:
        self.emit_eobrun()
        return self.wr.finish()


def _enc_ac_first(sw: _ScanWriter, zz, ss: int, se: int, al: int) -> None:
    r = 0
    for k in range(ss, se + 1):
        v = zz[k]
        mag = (v if v >= 0 else -v) >> al
        if mag == 0:
            r += 1
            continue
        sw.emit_eobrun()
        while r > 15:
            sw.sym(_P_AC_TAB, 0xF0)
            r -= 16
        s = mag.bit_length()
        sw.sym(_P_AC_TAB, (r << 4) | s)
        sw.wr.write(mag if v >= 0 else -mag + (1 << s) - 1, s)
        r = 0
    if r > 0:
        sw.eobrun += 1
        if sw.eobrun == 0x7FFF:
            sw.emit_eobrun()


def _enc_ac_refine(sw: _ScanWriter, zz, ss: int, se: int, al: int) -> None:
    mags = [((v if v >= 0 else -v) >> al) for v in zz[ss:se + 1]]
    eob = 0                        # k past the last NEWLY significant
    for j, m in enumerate(mags):
        if m == 1:
            eob = j + 1
    r = 0
    br: list[int] = []
    for j, m in enumerate(mags):
        if m == 0:
            r += 1
            continue
        while r > 15 and j < eob:
            sw.emit_eobrun()
            sw.sym(_P_AC_TAB, 0xF0)
            r -= 16
            for b in br:
                sw.wr.write(b, 1)
            br = []
        if m > 1:                  # already significant: correction bit
            br.append(m & 1)
            continue
        sw.emit_eobrun()           # newly significant
        sw.sym(_P_AC_TAB, (r << 4) | 1)
        sw.wr.write(1 if zz[ss + j] >= 0 else 0, 1)
        for b in br:
            sw.wr.write(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        sw.eobrun += 1
        sw.be.extend(br)
        if sw.eobrun == 0x7FFF or len(sw.be) > 900:
            sw.emit_eobrun()


def encode_progressive(arr: np.ndarray, quality: int = 90,
                       subsampling: str = "444",
                       restart_interval: int = 0,
                       scans=None) -> bytes:
    """8-bit RGB (h, w, 3) or grayscale (h, w) -> progressive (SOF2)
    JFIF bytes, default 10-scan script. Decodes (here and in any
    conformant decoder) to EXACTLY the pixels of the baseline encode
    at the same quality/subsampling — progressive reorders the entropy
    stream, the quantized coefficients are identical."""
    gray = arr.ndim == 2
    if gray:
        h, w = arr.shape
        ql, _ = quality_tables(quality)
        hp, wp = -(-h // 8) * 8, -(-w // 8) * 8
        plane = np.pad(arr.astype(np.float64),
                       ((0, hp - h), (0, wp - w)), mode="edge")
        zz = [_quantized_zigzag(plane, ql)]
        samp = (0x11,)
        qts = (ql,)
        comp_ids = (1,)
        tq_ids = (0,)
        scans = scans or _DEFAULT_SCANS_1
    else:
        h, w, c = arr.shape
        assert c == 3 and arr.dtype == np.uint8
        if subsampling not in ("444", "422", "420"):
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        ql, qc = quality_tables(quality)
        ycc = _rgb_to_ycbcr(arr)
        if subsampling == "444":
            hp, wp = -(-h // 8) * 8, -(-w // 8) * 8
            ycc = np.pad(ycc, ((0, hp - h), (0, wp - w), (0, 0)),
                         mode="edge")
            zz = [_quantized_zigzag(ycc[..., ci], (ql, qc, qc)[ci])
                  for ci in range(3)]
            samp = (0x11, 0x11, 0x11)
        elif subsampling == "422":
            hp, wp = -(-h // 8) * 8, -(-w // 16) * 16
            ycc = np.pad(ycc, ((0, hp - h), (0, wp - w), (0, 0)),
                         mode="edge")
            cb = ycc[..., 1].reshape(hp, wp // 2, 2).mean(axis=2)
            cr = ycc[..., 2].reshape(hp, wp // 2, 2).mean(axis=2)
            zz = [_quantized_zigzag(ycc[..., 0], ql),
                  _quantized_zigzag(cb, qc), _quantized_zigzag(cr, qc)]
            samp = (0x21, 0x11, 0x11)
        else:
            hp, wp = -(-h // 16) * 16, -(-w // 16) * 16
            ycc = np.pad(ycc, ((0, hp - h), (0, wp - w), (0, 0)),
                         mode="edge")
            cb = ycc[..., 1].reshape(
                hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
            cr = ycc[..., 2].reshape(
                hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
            zz = [_quantized_zigzag(ycc[..., 0], ql),
                  _quantized_zigzag(cb, qc), _quantized_zigzag(cr, qc)]
            samp = (0x22, 0x11, 0x11)
        qts = (ql, qc)
        comp_ids = (1, 2, 3)
        tq_ids = (0, 1, 1)
        scans = scans or _DEFAULT_SCANS_3

    nc = len(comp_ids)
    hmax = max(s >> 4 for s in samp)
    vmax = max(s & 0x0F for s in samp)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    sampf = [(s >> 4, s & 0x0F) for s in samp]
    grids = [(mcuy * vi, mcux * hi) for hi, vi in sampf]
    ni_grids = []
    for hi, vi in sampf:
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
        ni_grids.append((-(-ch // 8), -(-cw // 8)))
    p = {"mcux": mcux, "mcuy": mcuy, "sampf": sampf, "grids": grids,
         "ni_grids": ni_grids}
    ri = int(restart_interval)

    def scan_entropy(comps, ss, se, ah, al) -> bytes:
        sw = _ScanWriter()
        pred = {ci: 0 for ci in comps}
        scan = {"comps": [(ci, 0, 0) for ci in comps]}
        nmcu = 0
        for group in _scan_blocks(p, scan):
            if ri and nmcu and nmcu % ri == 0:
                sw.restart(nmcu // ri - 1)
                pred = {ci: 0 for ci in pred}
            nmcu += 1
            for ci, bi in group:
                blk = zz[ci][bi]
                if ss == 0 and ah == 0:       # DC first
                    dcv = blk[0] >> al        # arithmetic shift
                    diff = dcv - pred[ci]
                    pred[ci] = dcv
                    s = diff.bit_length() if diff >= 0 \
                        else (-diff).bit_length()
                    sw.sym(_P_DC_TAB, s)
                    if s:
                        sw.wr.write(
                            diff if diff >= 0 else diff + (1 << s) - 1,
                            s)
                elif ss == 0:                 # DC refine
                    sw.wr.write((blk[0] >> al) & 1, 1)
                elif ah == 0:
                    _enc_ac_first(sw, blk, ss, se, al)
                else:
                    _enc_ac_refine(sw, blk, ss, se, al)
        return sw.finish()

    out = bytearray(b"\xFF\xD8")
    out += _seg(0xFFE0, b"JFIF\x00" + bytes([1, 1, 0])
                + struct.pack(">HHBB", 1, 1, 0, 0))
    for tid, qt in enumerate(qts):
        out += _seg(0xFFDB, bytes([tid])
                    + bytes(qt.astype(np.uint8)[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        sof += bytes([comp_ids[i], samp[i], tq_ids[i]])
    out += _seg(0xFFC2, sof)                       # SOF2 progressive
    out += _seg(0xFFC4, bytes([0x00]) + bytes(_P_DC_BITS)
                + bytes(_P_DC_VALS))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(_P_AC_BITS)
                + bytes(_P_AC_VALS))
    if ri:
        out += _seg(0xFFDD, struct.pack(">H", ri))
    for comps, ss, se, ah, al in scans:
        sos = bytes([len(comps)])
        for ci in comps:
            sos += bytes([comp_ids[ci], 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xFFDA, sos)
        out += scan_entropy(comps, ss, se, ah, al)
    out += b"\xFF\xD9"
    return bytes(out)
