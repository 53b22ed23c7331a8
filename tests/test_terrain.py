"""RTIN terrain meshes (engine/terrain.py): exact reconstruction at
threshold 0, the pointwise deviation bound on fuzz (exact rational
comparison — no floats), monotone mesh size, full coverage, flat
collapse, smooth-surface coarsening, Spark==scalar per tile, and the
loud incomplete-grid contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import terrain as T
import scalar_reference as SR


def test_flat_collapses_to_two_triangles():
    for size in (5, 9, 33):
        flat = np.full((size, size), 7, np.int64)
        v, t = T.rtin_mesh(flat, 0)
        assert t.shape[0] == 2 and v.shape[0] == 4
        n, d = SR.max_deviation_x2(v, t, flat * 2)
        assert n == 0


def test_threshold_zero_is_exact_and_full():
    rng = np.random.default_rng(2)
    h = rng.integers(0, 1000, (17, 17)).astype(np.int64)
    v, t = T.rtin_mesh(h, 0)
    assert t.shape[0] == 2 * 16 * 16          # every leaf emitted
    n, d = SR.max_deviation_x2(v, t, h * 2)
    assert n == 0
    # vertex indices valid, heights doubled
    assert v[:, 2].max() == 2 * h.max()
    assert t.max() < v.shape[0]


@pytest.mark.parametrize("seed", range(5))
def test_deviation_bound_and_monotone_fuzz(seed):
    """At every threshold the emitted mesh interpolates every grid
    point within max_error doubled units (exact rational compare),
    and larger thresholds never yield more triangles."""
    rng = np.random.default_rng(seed)
    k = int(rng.integers(3, 6))
    size = (1 << k) + 1
    h = rng.integers(0, 1000, (size, size)).astype(np.int64)
    h2 = h * 2
    err = T.compute_errors(h2)
    prev = None
    for me in (0, 100, 500, 2000, 10**7):
        v, t = T.extract_mesh(h2, err, me)
        n, d = SR.max_deviation_x2(v, t, h2)   # raises if not covering
        assert n <= me * d, (me, n, d)
        if prev is not None:
            assert t.shape[0] <= prev
        prev = t.shape[0]


def test_smooth_surface_coarsens_gradually():
    """A paraboloid (real-terrain-like curvature) sheds most of its
    triangles well before the collapse-to-2 regime."""
    size = 33
    ys, xs = np.mgrid[0:size, 0:size]
    h = ((xs - 16) ** 2 + (ys - 16) ** 2).astype(np.int64)
    full = T.rtin_mesh(h, 0)[1].shape[0]
    mid = T.rtin_mesh(h, 32)[1].shape[0]
    fine = T.rtin_mesh(h, 64)[1].shape[0]
    assert 2 < fine < mid < full / 2     # 158 < 891 < 1024 measured
    v, t = T.rtin_mesh(h, 32)
    n, d = SR.max_deviation_x2(v, t, h * 2)
    assert n <= 32 * d


def test_size_validation():
    with pytest.raises(ValueError, match="2\\^k"):
        T.rtin_mesh(np.zeros((10, 10), np.int64))
    with pytest.raises(ValueError, match="2\\^k"):
        T.rtin_mesh(np.zeros((2, 2), np.int64))


# ------------------------------------------------------------- Spark

def _pixels_df(spark, tiles, size, hfun):
    rows = []
    for (z, x, y) in tiles:
        for py in range(size):
            for px in range(size):
                rows.append((z, x, y, px, py, hfun(z, x, y, px, py)))
    return spark.createDataFrame(
        rows, "z long, x long, y long, px int, py int, value long")


def test_spark_matches_scalar_per_tile(spark):
    size = 17

    def hfun(z, x, y, px, py):
        return (px * 37 + py * 91 + x * 1000 + y * 500) % 700

    tiles = [(4, 0, 0), (4, 1, 0), (4, 0, 1)]
    pix = _pixels_df(spark, tiles, size, hfun)
    out = {(r.z, r.x, r.y): r
           for r in T.terrain_meshes(pix, size, max_error=40).collect()}
    assert set(out) == set(tiles)
    for (z, x, y) in tiles:
        h = np.array([[hfun(z, x, y, px, py) for px in range(size)]
                      for py in range(size)], np.int64)
        v, t = T.rtin_mesh(h, 40)
        r = out[(z, x, y)]
        assert r.n_verts == v.shape[0] and r.n_tris == t.shape[0]
        assert list(r.verts) == v.ravel().tolist()
        assert list(r.tris) == t.ravel().tolist()


def test_incomplete_tile_fails_loudly(spark):
    size = 9
    pix = _pixels_df(spark, [(4, 0, 0)], size,
                     lambda *a: 1).where("px > 0")
    with pytest.raises(Exception, match="pixels"):
        T.terrain_meshes(pix, size).collect()
