"""Dissolve-by-attribute — polygon union per (tile, layer[, props])
group at raster resolution, composed from the repo's exact kernels.

The GIS dissolve (merge all polygons sharing an attribute into one
multipolygon, interior boundaries erased) is the standard prep step
before low-zoom rendering: a z4 tile does not need 3,000 county
features where one state outline draws the same pixels. Exact
vector-domain polygon union is a Vatti/Weiler-Atherton kernel with
degenerate-case explosion; at tile resolution the union only has to be
right per PIXEL, so this operator goes through the two kernels this
repo already proves exact:

    rasterize_tile (nonzero rule)  ->  vectorize_mask

For validly-wound MVT polygons (CW outers, CCW holes — what lint.py
gates upstream) each feature's winding contribution is 0/1 everywhere,
so the GLOBAL nonzero fill equals the per-feature painter's union
(the scalar reference rasterizer in tests/scalar_reference.py, pinned
in tests/test_raster.py) — one crossing pass over all rings, no
pairwise geometry.

Laws (all inherited from the vectorize round-trip theorem
``rasterize(vectorize(M)) == M`` and pinned in tests/test_dissolve.py):
- conservation: rasterize(dissolve(X)) == rasterize(X), pixel-exact;
- idempotence:  dissolve(dissolve(X)) == dissolve(X), RING-exact;
- validity: output rings are simple, outers CW / holes CCW — they
  re-enter the encode path lint-clean;
- area: sum of output ring areas == covered-pixel count x cell area.

Resolution: boundaries snap to the ``extent/size`` grid (default
4096/256 = 16 tile units — half a line width at typical styles). Raise
``size`` for finer boundaries; cost is the mask, O(size^2) per group.

Spark shape: ONE groupBy shuffle on the caller's keys — the same
(z,x,y,layer_name) partitioning the encode consumes. Per-task state is
one size^2 uint8 mask + one group's rings: bounded, independent of how
many features dissolve away. At 100 TB the operator SHRINKS data
(output is one feature per group, O(boundary) vertices), so it sits
before the encode exactly where thinning does.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..mvt import geometry as G
from .raster import rasterize_tile, vectorize_mask

__all__ = ["dissolve_group_parts", "dissolve_tiles"]


def dissolve_group_parts(parts_per_feature: list[list[np.ndarray]],
                         size: int, extent: int) -> list[np.ndarray]:
    """Core: one group's polygon part lists -> merged boundary rings
    of the pixel-union (outers CW, holes CCW, coords back in tile
    units)."""
    rings = [np.asarray(r, dtype=np.int64).reshape(-1, 2)
             for parts in parts_per_feature for r in parts if len(r) >= 3]
    if not rings:
        return []
    roff = np.zeros(len(rings) + 1, np.int64)
    np.cumsum([len(r) for r in rings], out=roff[1:])
    px = np.concatenate([r[:, 0] for r in rings]).astype(np.float64)
    py = np.concatenate([r[:, 1] for r in rings]).astype(np.float64)
    gtypes = np.full(len(rings), G.GEOM_POLYGON, np.int64)
    mask = rasterize_tile(px, py, roff, gtypes, size, extent)
    scale = extent // size
    return [np.asarray(ring, dtype=np.int64)
            for ring in vectorize_mask(mask, scale=scale)]


def dissolve_tiles(features: DataFrame,
                   size: int = 256,
                   extent: int = 4096,
                   keys: Sequence[str] = ("z", "x", "y", "layer_name"),
                   accumulate: dict | None = None,
                   ) -> DataFrame:
    """Dissolve polygon features per group into one multipolygon
    feature at raster resolution.

    Input/output: the pre-encode features table
    (z,x,y,layer_name,feature_ordinal,feature_id,geom_type,parts).
    Non-polygon rows pass through untouched. Each polygon group
    becomes ONE feature whose parts are the union's boundary rings,
    carrying min(feature_ordinal) / min non-null feature_id. Property
    columns named in ``keys`` survive and scope the dissolve
    (features with different attributes never merge); ``accumulate``
    maps other columns to sum/min/max/count (tippecanoe
    --accumulate-attribute: dissolve 3,000 counties into a state and
    keep the population sum)."""
    from .linemerge import _accumulated, _check_accumulate

    if extent % size:
        raise ValueError(f"extent {extent} must be a multiple of "
                         f"size {size} (integer grid snap)")
    keys = list(keys)
    cols = list(features.columns)
    acc = _check_accumulate(accumulate, cols, keys)
    polys = features.filter(F.col("geom_type") == G.GEOM_POLYGON)
    rest = features.filter(F.col("geom_type") != G.GEOM_POLYGON)
    out_schema = features.schema

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("feature_ordinal", kind="stable")
        per_feat = [[np.array([[pt["x"], pt["y"]] for pt in part],
                              dtype=np.int64).reshape(-1, 2)
                     for part in row_parts]
                    for row_parts in pdf["parts"]]
        rings = dissolve_group_parts(per_feat, size, extent)
        if not rings:
            return pd.DataFrame(columns=cols).astype(
                {c: pdf[c].dtype for c in cols if c in pdf})
        ids = pdf["feature_id"]
        row = {k: pdf.iloc[0][k] for k in keys}
        row["feature_ordinal"] = pdf["feature_ordinal"].min()
        row["feature_id"] = int(ids.dropna().min()) \
            if ids.notna().any() else None
        row["geom_type"] = G.GEOM_POLYGON
        row["parts"] = [[{"x": int(x), "y": int(y)} for x, y in ring]
                        for ring in rings]
        row.update(_accumulated(pdf, acc))
        for c in cols:
            if c not in row:
                row[c] = pdf.iloc[0][c]
        return pd.DataFrame([row], columns=cols)

    dissolved = polys.groupBy(*keys).applyInPandas(fn, schema=out_schema)
    return dissolved.unionByName(rest)
