"""Vector -> raster tile rendering (engine/raster.py).

Correctness contract:
- the batch scanline kernel equals a per-pixel scalar winding oracle
  EXACTLY (same crossing convention, same float expression), fuzzed
  over self-intersecting rings, negative coords, both fill rules;
- for validly-wound MVT polygons (CW outer / CCW hole, spec 4.3.3.3)
  the kernel's global winding accumulation equals per-feature
  painter's union — the property that lets rasterization distribute
  as a monoid;
- the Spark two-stage operator (partial buffers -> merge -> PNG)
  matches the local kernel per tile and its bytes are independent of
  row/partition order.
"""

import numpy as np
import pytest

from vtzero_spark.engine import raster as R
from vtzero_spark.engine import png as PNG
from vtzero_spark.mvt import geometry as G
import scalar_reference as SR


def _flatten(feats):
    px, py, roff, gtr = [], [], [0], []
    for gt, parts in feats:
        for part in parts:
            for (x, y) in part:
                px.append(x)
                py.append(y)
            roff.append(len(px))
            gtr.append(gt)
    return (np.array(px, np.int64), np.array(py, np.int64),
            np.array(roff, np.int64), np.array(gtr, np.int64))


def _rand_feats(rng, extent):
    feats = []
    for _ in range(rng.integers(1, 5)):
        gt = int(rng.choice([G.GEOM_POLYGON, G.GEOM_LINESTRING, G.GEOM_POINT]))
        parts = []
        for _ in range(int(rng.integers(1, 3))):
            npts = int(rng.integers(1, 9)) if gt != G.GEOM_POLYGON \
                else int(rng.integers(3, 9))
            pts = [(int(rng.integers(-extent // 4, extent + extent // 4)),
                    int(rng.integers(-extent // 4, extent + extent // 4)))
                   for _ in range(npts)]
            if gt == G.GEOM_POLYGON:
                pts.append(pts[0])  # closed ring convention
            parts.append(pts)
        feats.append((gt, parts))
    return feats


def test_kernel_matches_scalar_oracle_fuzz():
    rng = np.random.default_rng(71)
    for _ in range(60):
        size = int(rng.choice([8, 16]))
        extent = int(rng.choice([256, 4096, 1000]))  # incl. non-multiple
        feats = _rand_feats(rng, extent)
        rule = str(rng.choice(["nonzero", "evenodd"]))
        want = SR.rasterize_scalar(feats, size, extent, rule)
        got = R.rasterize_tile(*_flatten(feats), size, extent, rule)
        assert np.array_equal(want, got)


def _rect(x0, y0, x1, y1, cw=True):
    """Closed rect ring; cw=True gives vtzero's positive-area outer
    winding in y-down coords (rect_ring order, geomops.py:43)."""
    r = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
    return r if cw else r[::-1]


def test_exact_pixel_count_aligned_rect():
    # rect spanning pixel columns/rows 2..5 inclusive at s=16
    img = R.rasterize_tile(
        *_flatten([(G.GEOM_POLYGON, [_rect(32, 32, 96, 96)])]), 16, 256)
    assert int(img.sum()) == 16  # 4x4 pixels
    assert img[2:6, 2:6].all() and not img[:2].any() and not img[6:].any()


def test_donut_hole_not_filled():
    outer = _rect(16, 16, 240, 240, cw=True)
    hole = _rect(80, 80, 176, 176, cw=False)
    img = R.rasterize_tile(
        *_flatten([(G.GEOM_POLYGON, [outer, hole])]), 16, 256)
    assert img[2, 2] == 1 and img[13, 13] == 1   # rim
    assert not img[6:10, 6:10].any()             # hole
    # and the scalar oracle agrees everywhere
    want = SR.rasterize_scalar([(G.GEOM_POLYGON, [outer, hole])], 16, 256)
    assert np.array_equal(want, img)


def test_global_winding_equals_painter_union_on_valid_geometry():
    """Two overlapping validly-wound features (one with a hole): the
    kernel's accumulated nonzero winding == OR of per-feature masks."""
    f1 = (G.GEOM_POLYGON, [_rect(16, 16, 160, 160, cw=True),
                           _rect(48, 48, 128, 128, cw=False)])
    f2 = (G.GEOM_POLYGON, [_rect(96, 96, 240, 240, cw=True)])
    both = R.rasterize_tile(*_flatten([f1, f2]), 16, 256)
    union = np.maximum(SR.rasterize_scalar([f1], 16, 256),
                       SR.rasterize_scalar([f2], 16, 256))
    assert np.array_equal(both, union)
    # f2 covers part of f1's hole; hole pixels outside f2 stay empty
    assert both[4, 4] == 0 and both[7, 7] == 1


def test_evenodd_differs_from_nonzero_on_overlap():
    feats = [(G.GEOM_POLYGON, [_rect(16, 16, 160, 160)]),
             (G.GEOM_POLYGON, [_rect(96, 96, 240, 240)])]
    nz = R.rasterize_tile(*_flatten(feats), 16, 256, "nonzero")
    eo = R.rasterize_tile(*_flatten(feats), 16, 256, "evenodd")
    assert nz[7, 7] == 1 and eo[7, 7] == 0       # double-covered pixel
    assert nz[2, 2] == eo[2, 2] == 1             # single-covered pixel


def test_line_mask_connected_no_gaps():
    rng = np.random.default_rng(5)
    for _ in range(20):
        p0 = (int(rng.integers(0, 256)), int(rng.integers(0, 256)))
        p1 = (int(rng.integers(0, 256)), int(rng.integers(0, 256)))
        img = R.rasterize_tile(
            *_flatten([(G.GEOM_LINESTRING, [[p0, p1]])]), 16, 256)
        rows = np.flatnonzero(img.any(axis=1))
        cols = np.flatnonzero(img.any(axis=0))
        if rows.size:
            assert np.array_equal(rows, np.arange(rows[0], rows[-1] + 1))
        if cols.size:
            assert np.array_equal(cols, np.arange(cols[0], cols[-1] + 1))


def test_points_mark_containing_pixel():
    img = R.rasterize_tile(
        *_flatten([(G.GEOM_POINT, [[(0, 0), (255, 255), (17, 240)]])]),
        16, 256)
    assert img[0, 0] == 1 and img[15, 15] == 1 and img[15, 1] == 1
    assert int(img.sum()) == 3


# ------------------------------------------------------------- Spark stage


def _mixed_features_df(spark):
    rows = [
        # tile (4, 1, 2): two rects (one spans both), a line, a point
        (4, 1, 2, G.GEOM_POLYGON, [[(256, 256), (1024, 256), (1024, 1024),
                                    (256, 1024), (256, 256)]]),
        (4, 1, 2, G.GEOM_POLYGON, [[(512, 512), (3584, 512), (3584, 3584),
                                    (512, 3584), (512, 512)],
                                   [(1024, 1024), (1024, 2048),
                                    (2048, 2048), (2048, 1024),
                                    (1024, 1024)]]),
        (4, 1, 2, G.GEOM_LINESTRING, [[(0, 0), (4095, 4095)],
                                      [(4095, 0), (0, 4095)]]),
        (4, 1, 2, G.GEOM_POINT, [[(100, 3000)]]),
        # tile (4, 3, 0): line only
        (4, 3, 0, G.GEOM_LINESTRING, [[(0, 2048), (4095, 2048)]]),
    ]
    return spark.createDataFrame(
        [(z, x, y, gt, [[{"x": px, "y": py} for (px, py) in part]
                        for part in parts])
         for z, x, y, gt, parts in rows],
        "z int, x long, y long, geom_type int, "
        "parts array<array<struct<x: long, y: long>>>"), rows


def test_render_tiles_matches_local_kernel(spark):
    df, rows = _mixed_features_df(spark)
    out = {(r.z, r.x, r.y): r
           for r in R.render_tiles(df, size=64, extent=4096).collect()}
    assert set(out) == {(4, 1, 2), (4, 3, 0)}
    for key in out:
        feats = [(gt, parts) for z, x, y, gt, parts in rows
                 if (z, x, y) == key]
        want = R.rasterize_tile(*_flatten(feats), 64, 4096)
        r = out[key]
        arr, ctype = PNG.decode(bytes(r.png))
        assert ctype == 0 and arr.shape == (64, 64, 1)
        got = (arr[..., 0] > 0).astype(np.uint8)
        assert np.array_equal(want, got)
        assert r.n_pixels == int(want.sum())
        assert r.width == r.height == 64
    assert out[(4, 1, 2)].n_features == 4
    assert out[(4, 3, 0)].n_features == 1


def test_render_tiles_partition_order_invariant(spark):
    df, _ = _mixed_features_df(spark)
    a = {(r.z, r.x, r.y): bytes(r.png)
         for r in R.render_tiles(df.repartition(1), size=64,
                                 extent=4096).collect()}
    b = {(r.z, r.x, r.y): bytes(r.png)
         for r in R.render_tiles(df.repartition(7), size=64,
                                 extent=4096).collect()}
    assert a == b


def test_render_composes_with_assign_and_clip(spark, sf_dir):
    from vtzero_spark.engine import tiling, geomops, synth, clip

    img = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(img, zoom=synth.ZOOM, extent=4096,
                                   buffer=64)
    feats = clip.clip_features(
        geomops.rect_footprint_features(assigned), extent=4096, buffer=64)
    tiles = R.render_tiles(feats, size=64, extent=4096).collect()
    assert len(tiles) == (1 << synth.ZOOM) ** 2
    assert all(t.n_pixels > 0 for t in tiles)
    # every image yields >= 1 surviving feature (rects are in-world;
    # buffered duplicates can only add)
    assert sum(t.n_features for t in tiles) >= img.count()
    for t in tiles[:3]:
        arr, _ = PNG.decode(bytes(t.png))
        assert int((arr[..., 0] > 0).sum()) == t.n_pixels


# -------------------------------------------------------- raster -> vector


def test_vectorize_solid_rect_matches_rect_ring_order():
    mask = np.zeros((16, 16), np.uint8)
    mask[2:6, 3:8] = 1
    rings = R.vectorize_mask(mask, scale=16)
    assert rings == [[(48, 32), (128, 32), (128, 96), (48, 96), (48, 32)]]


def test_vectorize_donut_hole_winding():
    mask = np.zeros((16, 16), np.uint8)
    mask[2:10, 2:10] = 1
    mask[4:8, 4:8] = 0
    rings = R.vectorize_mask(mask)
    assert len(rings) == 2

    def shoelace2(ring):
        return sum(x0 * y1 - x1 * y0
                   for (x0, y0), (x1, y1) in zip(ring, ring[1:]))

    areas = sorted(shoelace2(r) for r in rings)
    # y-down CW outer has positive shoelace in this convention's mirror;
    # the two rings must have opposite orientation and the outer the
    # bigger magnitude
    assert areas[0] < 0 < areas[1]
    assert abs(areas[0]) != abs(areas[1])


def test_vectorize_rasterize_roundtrip_fuzz():
    rng = np.random.default_rng(11)
    for _ in range(40):
        size = int(rng.choice([8, 16, 24]))
        mask = (rng.random((size, size))
                < rng.uniform(0.05, 0.9)).astype(np.uint8)
        rings = R.vectorize_mask(mask, scale=16)
        if not rings:
            assert mask.sum() == 0
            continue
        got = R.rasterize_tile(
            *_flatten([(G.GEOM_POLYGON, rings)]), size, size * 16)
        assert np.array_equal(got, mask)


def test_vectorize_checkerboard_saddles_stay_simple():
    """Worst-case saddle density: every interior vertex is a saddle.
    Each covered pixel must come out as its own simple ring and the
    round trip must still be exact."""
    size = 8
    mask = (np.indices((size, size)).sum(0) % 2).astype(np.uint8)
    rings = R.vectorize_mask(mask)
    assert len(rings) == int(mask.sum()) - 13  # merged-at-border count pin
    got = R.rasterize_tile(
        *_flatten([(G.GEOM_POLYGON, rings)]), size, size)
    assert np.array_equal(got, mask)


def test_contour_tiles_roundtrip_byte_identical(spark):
    """render -> contour -> render reproduces the PNG bytes exactly —
    the distributed form of the round-trip theorem."""
    df, _ = _mixed_features_df(spark)
    tiles1 = R.render_tiles(df, size=64, extent=4096)
    feats2 = R.contour_tiles(tiles1, size=64, extent=4096)
    tiles2 = R.render_tiles(feats2, size=64, extent=4096)
    a = {(r.z, r.x, r.y): bytes(r.png) for r in tiles1.collect()}
    b = {(r.z, r.x, r.y): bytes(r.png) for r in tiles2.collect()}
    assert a == b


def test_render_real_reference_tile_golden():
    """Rasterize every layer of the real 12-layer Mapbox Streets tile
    (the reference repo's own fixture) at 256px and pin the coverage:
    golden pixel counts for the load-bearing layers, and the
    vectorize->rasterize round trip exact on ALL layers' masks —
    real-world geometry, not just synthetic rects."""
    from vtzero_spark.mvt import tile as T

    data = open("/root/reference/test/data/"
                "mapbox-streets-v6-14-8714-8017.mvt", "rb").read()
    golden = {"landuse": 4121, "waterway": 1957, "barrier_line": 16193,
              "building": 5982, "road": 7423}
    got_px = {}
    for ly in T.parse_tile(data):
        px, py, roff, gtr = [], [], [0], []
        for f in ly.features:
            parts, _ = G.decode_geometry(f.geom_type, f.geometry)
            for part in parts:
                for (x, y) in part:
                    px.append(int(x))
                    py.append(int(y))
                roff.append(len(px))
                gtr.append(f.geom_type)
        if not px:
            continue
        img = R.rasterize_tile(
            np.array(px, np.int64), np.array(py, np.int64),
            np.array(roff, np.int64), np.array(gtr, np.int64),
            256, ly.extent)
        got_px[ly.name] = int(img.sum())
        rings = R.vectorize_mask(img, scale=ly.extent // 256)
        if rings:
            back = R.rasterize_tile(
                *_flatten([(G.GEOM_POLYGON, rings)]), 256, ly.extent)
            assert np.array_equal(back, img), ly.name
    for name, want in golden.items():
        assert got_px[name] == want, (name, got_px[name], want)


def test_render_supersampled_antialiasing(spark):
    """supersample=4: each output pixel is the exact integer box mean
    of its 16 subpixels; interiors saturate at 255, a half-covered
    column reads the expected fraction, and n_pixels counts any
    nonzero coverage."""
    # rect covering pixel cols 2..5 fully and half of col 6 at s=16:
    # x 32..104 -> subpixel cols 8..25 of 64 at ss=4 (s_sub = 4)
    df = spark.createDataFrame(
        [(0, 0, 0, G.GEOM_POLYGON,
          [[{"x": 32, "y": 32}, {"x": 104, "y": 32}, {"x": 104, "y": 96},
            {"x": 32, "y": 96}, {"x": 32, "y": 32}]])],
        "z int, x long, y long, geom_type int, "
        "parts array<array<struct<x: long, y: long>>>")
    rows = R.render_tiles(df, size=16, extent=256, supersample=4).collect()
    assert len(rows) == 1
    arr, _ = PNG.decode(bytes(rows[0].png))
    img = arr[..., 0]
    assert img[3, 3] == 255          # fully covered interior
    assert img[3, 6] == 128          # half-covered column: 8/16 -> 128
    assert img[3, 7] == 0
    assert rows[0].n_pixels == int((img > 0).sum())
    # binary path unchanged at ss=1
    rows1 = R.render_tiles(df, size=16, extent=256).collect()
    arr1, _ = PNG.decode(bytes(rows1[0].png))
    assert set(np.unique(arr1)) <= {0, 255}
