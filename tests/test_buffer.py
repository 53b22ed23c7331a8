"""Buffer operator (engine/buffer.py): exact-Euclidean morphology vs a
brute-force per-pixel oracle, the dissolve-style conservation law
through the Spark surface, and PostGIS-aligned type semantics."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from vtzero_spark.engine import buffer as B
from vtzero_spark.engine import dissolve
from vtzero_spark.engine.raster import rasterize_tile
from scalar_reference import rasterize_scalar
from vtzero_spark.mvt import geometry as G


def _brute_dilate(mask: np.ndarray, r: float) -> np.ndarray:
    """Per-pixel oracle: fg iff any input fg pixel center within r."""
    fr, fc = np.nonzero(mask)
    out = np.zeros_like(mask, dtype=np.uint8)
    if fr.size == 0:
        return out
    rr, cc = np.mgrid[0:mask.shape[0], 0:mask.shape[1]]
    d2 = (rr[..., None] - fr) ** 2 + (cc[..., None] - fc) ** 2
    return (d2.min(axis=2) <= r * r).astype(np.uint8)


def _rand_mask(rng: np.random.Generator, size: int,
               density: float) -> np.ndarray:
    return (rng.random((size, size)) < density).astype(np.uint8)


@pytest.mark.parametrize("radius", [0.0, 1.0, 2.5, 4.0, 7.3])
@pytest.mark.parametrize("density", [0.0, 0.01, 0.08, 0.6])
def test_dilate_matches_brute_force(radius, density):
    rng = np.random.default_rng(int(radius * 10) + int(density * 100))
    m = _rand_mask(rng, 40, density)
    np.testing.assert_array_equal(
        B.dilate_disc(m, radius), _brute_dilate(m, radius))


@pytest.mark.parametrize("radius", [1.0, 3.0, 5.5])
def test_erode_is_de_morgan_dual_of_dilate(radius):
    """erode(M) must equal the per-pixel 'no in-image bg within r'
    check — the outside-is-foreground convention."""
    rng = np.random.default_rng(7)
    m = _rand_mask(rng, 36, 0.7)
    want = (m.astype(bool)
            & ~_brute_dilate((1 - m).astype(np.uint8), radius)
            .astype(bool)).astype(np.uint8)
    np.testing.assert_array_equal(B.erode_disc(m, radius), want)


def test_radius_larger_than_image():
    m = np.zeros((16, 16), np.uint8)
    m[8, 8] = 1
    assert B.dilate_disc(m, 100.0).all()
    # one interior bg pixel kills everything within reach of it
    assert B.erode_disc(1 - m, 100.0).sum() == 0


def test_dilate_monotone_in_radius():
    rng = np.random.default_rng(3)
    m = _rand_mask(rng, 48, 0.02)
    prev = B.dilate_disc(m, 0.0)
    for r in (1.0, 2.0, 3.5, 6.0):
        cur = B.dilate_disc(m, r)
        assert (cur >= prev).all()
        prev = cur


def test_point_buffer_is_lattice_disc():
    """A single pixel dilated by R covers exactly the lattice points
    of the closed disc of radius R."""
    m = np.zeros((64, 64), np.uint8)
    m[32, 32] = 1
    for r in (1.0, 4.0, 9.5):
        got = int(B.dilate_disc(m, r).sum())
        want = sum(1 for dr in range(-int(r) - 1, int(r) + 2)
                   for dc in range(-int(r) - 1, int(r) + 2)
                   if dr * dr + dc * dc <= r * r)
        assert got == want


def test_erode_square_exact_count():
    """Euclidean erosion of an axis-aligned square is a square: the
    nearest complement pixel to any interior pixel is axis-aligned."""
    size, a, b = 64, 10, 49  # fg cols/rows [a, b] inclusive
    m = np.zeros((size, size), np.uint8)
    m[a:b + 1, a:b + 1] = 1
    for r in (1.0, 3.0, 7.5):
        per_axis = sum(1 for c in range(a, b + 1)
                       if c - (a - 1) > r and (b + 1) - c > r)
        assert int(B.erode_disc(m, r).sum()) == per_axis ** 2


def test_closing_contains_input():
    rng = np.random.default_rng(11)
    m = _rand_mask(rng, 40, 0.15)
    for r in (1.0, 2.5):
        closed = B.erode_disc(B.dilate_disc(m, r), r)
        assert (closed.astype(bool) >= m.astype(bool)).all()


# ---------------------------------------------------------------- groups


SIZE, EXTENT = 64, 4096


def _sq(x0, y0, w):
    return np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + w],
                     [x0, y0 + w], [x0, y0]], np.int64)


def test_zero_radius_equals_dissolve():
    parts = [[_sq(256, 256, 1024)], [_sq(768, 768, 1024)]]
    got = B.buffer_group_parts(parts, [G.GEOM_POLYGON] * 2, 0.0,
                               SIZE, EXTENT)
    want = dissolve.dissolve_group_parts(parts, SIZE, EXTENT)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)


def test_group_conservation_pixel_exact():
    """rasterize(buffer(X, r)) == buffer_mask(rasterize(X), r): the
    vectorize round-trip theorem carries morphology through the ring
    representation untouched."""
    parts = [[_sq(512, 512, 768)], [np.array([[2048, 512], [3500, 3000]],
                                             np.int64)],
             [np.array([[512, 3500]], np.int64)]]
    gts = [G.GEOM_POLYGON, G.GEOM_LINESTRING, G.GEOM_POINT]
    rings_in, flat_gts = [], []
    for gt, ps in zip(gts, parts):
        for p in ps:
            rings_in.append(p)
            flat_gts.append(gt)
    roff = np.zeros(len(rings_in) + 1, np.int64)
    np.cumsum([len(r) for r in rings_in], out=roff[1:])
    px = np.concatenate([r[:, 0] for r in rings_in]).astype(np.float64)
    py = np.concatenate([r[:, 1] for r in rings_in]).astype(np.float64)
    in_mask = rasterize_tile(px, py, roff,
                             np.asarray(flat_gts, np.int64), SIZE, EXTENT)
    for radius in (0.0, 128.0, 320.0):
        rings = B.buffer_group_parts(parts, gts, radius, SIZE, EXTENT)
        back = rasterize_scalar(
            [(G.GEOM_POLYGON, [[tuple(pt) for pt in ring]])
             for ring in rings], SIZE, EXTENT)
        want = B.buffer_mask(in_mask, radius / (EXTENT // SIZE))
        np.testing.assert_array_equal(back, want)


def test_negative_radius_drops_lines_and_points():
    parts = [[np.array([[0, 0], [4000, 4000]], np.int64)],
             [np.array([[2048, 2048]], np.int64)]]
    gts = [G.GEOM_LINESTRING, G.GEOM_POINT]
    assert B.buffer_group_parts(parts, gts, -64.0, SIZE, EXTENT) == []
    # ...but shrinks polygons
    rings = B.buffer_group_parts([[_sq(512, 512, 3072)]],
                                 [G.GEOM_POLYGON], -256.0, SIZE, EXTENT)
    assert rings
    area_in = dissolve.dissolve_group_parts(
        [[_sq(512, 512, 3072)]], SIZE, EXTENT)
    px_in = rasterize_scalar(
        [(G.GEOM_POLYGON, [[tuple(p) for p in r]]) for r in area_in],
        SIZE, EXTENT).sum()
    px_out = rasterize_scalar(
        [(G.GEOM_POLYGON, [[tuple(p) for p in r]]) for r in rings],
        SIZE, EXTENT).sum()
    assert 0 < px_out < px_in


# ---------------------------------------------------------------- Spark


def _features_df(spark):
    rows = [
        # group A: two squares + a line + a point, all one layer
        (4, 1, 1, "roads", 0, 10, G.GEOM_POLYGON,
         [[{"x": int(x), "y": int(y)} for x, y in _sq(256, 256, 1024)]]),
        (4, 1, 1, "roads", 1, 11, G.GEOM_LINESTRING,
         [[{"x": 2048, "y": 256}, {"x": 3840, "y": 2048}]]),
        (4, 1, 1, "roads", 2, None, G.GEOM_POINT,
         [[{"x": 512, "y": 3584}]]),
        # group B: separate layer, single polygon
        (4, 1, 1, "parks", 0, 20, G.GEOM_POLYGON,
         [[{"x": int(x), "y": int(y)} for x, y in _sq(1024, 1024, 2048)]]),
    ]
    schema = ("z int, x int, y int, layer_name string, "
              "feature_ordinal long, feature_id long, geom_type int, "
              "parts array<array<struct<x: long, y: long>>>")
    return spark.createDataFrame(rows, schema)


def test_buffer_tiles_spark_surface(spark):
    feats = _features_df(spark)
    out = B.buffer_tiles(feats, radius=192.0, size=SIZE,
                         extent=EXTENT).collect()
    assert len(out) == 2  # one merged polygon feature per group
    by_layer = {r["layer_name"]: r for r in out}
    assert set(by_layer) == {"roads", "parks"}
    for r in out:
        assert r["geom_type"] == G.GEOM_POLYGON
    assert by_layer["roads"]["feature_id"] == 10  # min non-null id
    assert by_layer["roads"]["feature_ordinal"] == 0

    # conservation per group, through the whole Spark surface
    rows = feats.filter(F.col("layer_name") == "roads") \
        .orderBy("feature_ordinal").collect()
    per_feat = [[np.array([[p["x"], p["y"]] for p in part], np.int64)
                 for part in r["parts"]] for r in rows]
    want = B.buffer_group_parts(per_feat,
                                [r["geom_type"] for r in rows],
                                192.0, SIZE, EXTENT)
    got = [np.array([[p["x"], p["y"]] for p in part], np.int64)
           for part in by_layer["roads"]["parts"]]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)


def test_buffer_tiles_negative_radius_annihilates_thin_group(spark):
    feats = _features_df(spark).filter(
        F.col("geom_type") != G.GEOM_POLYGON)
    assert B.buffer_tiles(feats, radius=-64.0, size=SIZE,
                          extent=EXTENT).count() == 0


def test_buffer_tiles_accumulate(spark):
    feats = _features_df(spark).withColumn(
        "pop", (F.col("feature_ordinal") + 1).cast("long"))
    out = B.buffer_tiles(feats, radius=100.0, size=SIZE, extent=EXTENT,
                         accumulate={"pop": "sum"}).collect()
    pops = {r["layer_name"]: r["pop"] for r in out}
    assert pops == {"roads": 6, "parks": 1}
