"""Visvalingam–Whyatt simplification — effective-area vertex ranking.

The published algorithm (Visvalingam & Whyatt 1993; mapshaper's
default): repeatedly remove the vertex whose triangle with its two
current neighbors has the smallest area, until the smallest remaining
area reaches the tolerance.  All areas here are DOUBLED integer areas
(the |cross| of int64 coordinates) — exact, no epsilons.

What this module actually computes is stronger than one
simplification: ``effective_areas`` assigns every vertex its
ELIMINATION area under the standard monotone rule (a vertex's
recorded area is max(its triangle at removal time, the last recorded
area) — Visvalingam's own fix for non-monotone cascades).  That makes
per-tolerance simplification a pure FILTER:

    keep(v, tol2)  <=>  eff(v) >= tol2

and the masks NEST across tolerances — so ONE kernel pass per feature
serves EVERY zoom of a tile pyramid with plan-side comparisons
(`tolerance_for_zoom` squared), where Douglas–Peucker (simplify.py)
must re-run per tolerance.  Deterministic tie-break: equal areas pop
in vertex-index order.

Line endpoints (and ring anchors, see below) never eliminate:
``eff = +inf`` (represented as INF2 = 2^62, above any possible
doubled area of the 2^16 world grid by construction).

Rings: the cyclic variant — every vertex has neighbors mod n —
with the RING START PINNED (eff = INF2, never eliminates): the same
anchor discipline simplify.py's DP uses, and what keeps the
closing-duplicate convention trivial (the dup inherits the start's
survival).  Elimination stops structurally at 3 remaining vertices
(below 3 a ring degenerates).  Kernel inputs are OPEN rings (no
closing duplicate); the feature operator strips the dup before and
re-closes after.

Scale shape: the kernel is a per-part heap loop (O(n log n), the same
per-feature Python-kernel tier as earcut/delaunay — tile-unit parts
are small); the Spark operator runs it once per feature inside one
mapInPandas pass (no shuffle) and attaches ``eff`` as a per-vertex
array column.  Every downstream zoom slice is whole-stage-codegen
column math over that array — the multi-zoom ladder costs ONE Python
pass total.

Reference analog: none — vtzero is the codec (SURVEY §2); VW is the
generalization operator a tile pipeline runs beside DP (simplify.py),
and the effective-area form is what makes it the PYRAMID's
simplifier.
"""

from __future__ import annotations

import heapq

import numpy as np

INF2 = 1 << 62  # "never eliminates": above any doubled area on the grid


def _area2(xs, ys, a: int, b: int, c: int) -> int:
    """Doubled triangle area |cross| on python ints (overflow-proof)."""
    return abs((int(xs[b]) - int(xs[a])) * (int(ys[c]) - int(ys[a]))
               - (int(xs[c]) - int(xs[a])) * (int(ys[b]) - int(ys[a])))


def effective_areas(xs, ys, ring: bool = False) -> np.ndarray:
    """Per-vertex elimination areas (doubled, monotone-accumulated).

    Open chain: endpoints get INF2.  Ring (open form, no closing
    dup): the cyclic rule with vertex 0 pinned; survivors get INF2.
    Result
    slicing law: ``eff >= tol2`` IS the VW simplification at
    tolerance tol2 (pinned in tests against the naive reference)."""
    n = len(xs)
    eff = np.full(n, INF2, dtype=np.int64)
    min_keep = 3 if ring else 2
    if n <= min_keep:
        return eff
    prv = np.arange(-1, n - 1, dtype=np.int64)
    nxt = np.arange(1, n + 1, dtype=np.int64)
    if ring:
        prv[0] = n - 1
        nxt[n - 1] = 0
    else:
        nxt[n - 1] = -1  # sentinels; endpoints never enter the heap
    alive = np.ones(n, dtype=bool)
    heap: list[tuple[int, int]] = []
    first = 1  # open: endpoint; ring: the pinned start
    last = n if ring else n - 1
    for i in range(first, last):
        heapq.heappush(heap, (_area2(xs, ys, prv[i], i, nxt[i]), i))
    n_alive = n
    floor = 0
    while heap and n_alive > min_keep:
        a2, i = heapq.heappop(heap)
        if not alive[i]:
            continue
        cur = _area2(xs, ys, prv[i], i, nxt[i])
        if cur != a2:  # stale entry: re-queue at the fresh area
            heapq.heappush(heap, (cur, i))
            continue
        floor = max(floor, cur)  # the monotone accumulation rule
        eff[i] = floor
        alive[i] = False
        n_alive -= 1
        p, q = prv[i], nxt[i]
        nxt[p] = q
        prv[q] = p
        for j in (p, q):
            keepable = alive[j] and j > 0 and (ring or j < n - 1)
            if keepable and n_alive > min_keep:
                heapq.heappush(
                    heap, (_area2(xs, ys, prv[j], j, nxt[j]), j))
    return eff


def attach_effective_areas(features):
    """One kernel pass per feature: adds ``eff: array<array<long>>``
    aligned slot-for-slot with ``parts`` (a ring's closing duplicate
    inherits the pinned start's INF2).  Points get all-INF2.  After
    this, EVERY tolerance/zoom slice is ``vw_slice`` — pure
    whole-stage-codegen array math, no Python.  mapInPandas, no
    shuffle; per-task state is one batch of features (the
    earcut/delaunay per-part kernel tier)."""
    from pyspark.sql import types as ST

    schema = ST.StructType(
        features.schema.fields
        + [ST.StructField(
            "eff", ST.ArrayType(ST.ArrayType(ST.LongType())))])

    def xy(v):
        # parts elements are struct<x,y> on the production feature
        # path (clip/geomops) and 2-arrays on the raw-ingest path
        if isinstance(v, dict):
            return int(v["x"]), int(v["y"])
        return int(v[0]), int(v[1])

    def fn(pdfs):
        for pdf in pdfs:
            effs = []
            for parts, gt in zip(pdf["parts"], pdf["geom_type"]):
                feat_eff = []
                for part in parts:
                    pts = [xy(v) for v in part]
                    n = len(pts)
                    xs = [v[0] for v in pts]
                    ys = [v[1] for v in pts]
                    if gt == 3 and n > 1 and pts[0] == pts[-1]:
                        e = effective_areas(xs[:-1], ys[:-1], ring=True)
                        feat_eff.append(e.tolist() + [int(e[0])])
                    elif gt == 3:
                        feat_eff.append(
                            effective_areas(xs, ys, ring=True).tolist())
                    elif gt == 2:
                        feat_eff.append(
                            effective_areas(xs, ys).tolist())
                    else:
                        feat_eff.append([INF2] * n)
                effs.append(feat_eff)
            pdf = pdf.copy()
            pdf["eff"] = effs
            yield pdf

    return features.mapInPandas(fn, schema)


def vw_slice(features, tol2: int):
    """Simplify AT a doubled-area tolerance from attached effective
    areas — zero Python, zero shuffle: per-vertex compare + filter in
    codegen, degenerate parts dropped (rings keep >= 4 slots incl.
    the closing dup, lines >= 2; both floors are guaranteed by the
    kernel's structural INF2 survivors, the filters are belt and
    braces), features with no surviving parts dropped, the ``eff``
    column retained so slices CHAIN (a coarser zoom slices the finer
    zoom's output — the masks nest)."""
    from pyspark.sql import functions as F

    sliced = F.zip_with(
        "parts", "eff",
        lambda part, ef: F.filter(
            F.zip_with(part, ef,
                       lambda v, e: F.when(e >= F.lit(tol2), v)),
            lambda v: v.isNotNull()))
    floor = F.when(F.col("geom_type") == 3, F.lit(4)) \
        .when(F.col("geom_type") == 2, F.lit(2)).otherwise(F.lit(1))
    eff_sliced = F.transform(
        "eff", lambda ef: F.filter(ef, lambda e: e >= F.lit(tol2)))
    out = (features
           .withColumn("_np", sliced)
           .withColumn("eff", eff_sliced)
           .withColumn("parts",
                       F.filter("_np", lambda p: F.size(p) >= floor))
           .withColumn("eff",
                       F.filter("eff", lambda p: F.size(p) >= floor))
           .drop("_np"))
    return out.where((F.col("geom_type") == 1)
                     | (F.size("parts") > 0))


def pyramid_tiles(features, min_zoom: int, max_zoom: int,
                  extent: int = 4096, layer: str = "features",
                  wbits: int = 16):
    """The composed VW pyramid product: world features (fid, gj_type,
    parts — the shared ingest layout) -> ONE effective-area pass ->
    per-zoom one-screen-pixel slice -> the shared world-features
    ingest tail (bbox fan-out -> localize -> clip -> vectorized
    encode) at every zoom.  The thinning ladder costs one Python pass
    total; each zoom's slice is codegen (the slicing law) and its
    encode is the same tail every other ingest runs.  At tol2 = 0 the
    slice is the identity (eff >= 0 always holds), which pins this
    composition byte-identical to the un-simplified tail in tests.

    Output: MVT tile rows (z, x, y, tile_bytes, ...) for zooms
    min_zoom..max_zoom, coarser zooms carrying fewer vertices."""
    from pyspark.sql import functions as F

    from . import geojson

    gt = (F.when(F.col("gj_type").startswith("Poly"), F.lit(3))
          .when(F.col("gj_type").startswith("MultiPoly"), F.lit(3))
          .when(F.col("gj_type").contains("Line"), F.lit(2))
          .otherwise(F.lit(1)))
    eff = attach_effective_areas(
        features.withColumn("geom_type", gt)) \
        .localCheckpoint(eager=True)
    ebits = extent.bit_length() - 1
    outs = []
    for z in range(min_zoom, max_zoom + 1):
        px = 1 << max(wbits - 8 - z, 0)
        # slice in FULL-resolution world units (tolerances are world
        # areas), then scale to the tail's zoom-z coordinate space
        # (world == extent * 2^z there) — pure column math
        shift = wbits - ebits - z
        sl = vw_slice(eff, 2 * px * px).select(
            "fid", "gj_type",
            F.transform(
                "parts",
                lambda p: F.transform(
                    p, lambda v: F.array(
                        F.shiftright(F.element_at(v, 1), shift),
                        F.shiftright(F.element_at(v, 2), shift)))
            ).alias("parts"))
        outs.append(geojson.world_features_to_tiles(
            sl, z, extent, layer=layer))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
