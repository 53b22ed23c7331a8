"""Tile-boundary clipping + Douglas–Peucker simplification.

Kernel tests run the batched numpy kernels against straightforward
scalar reference implementations (clip_parts_scalar /
simplify_parts_scalar) on seeded random geometry; Spark tests drive
the mapInArrow operators end-to-end and through the encoders, so the
degenerate-output contracts (no zero-length segments, closed rings,
min point counts) are enforced by the same code vtzero's builder
enforces them with (mvt/geometry.py encode_polygon/encode_linestring,
reference builder.hpp:850-852, 951-1141).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import clip as C
from vtzero_spark.engine import simplify as S
from vtzero_spark.engine import assemble, geomops, lint, synth, tiling
from vtzero_spark.mvt import geometry as G
import scalar_reference as SR


def _rand_ring(rng, span=600, lo=-200):
    cx, cy = rng.integers(lo, lo + span, 2)
    npts = rng.integers(3, 9)
    ang = np.sort(rng.uniform(0, 2 * np.pi, npts))
    rad = rng.integers(20, 300, npts)
    xs = (cx + rad * np.cos(ang)).astype(int)
    ys = (cy + rad * np.sin(ang)).astype(int)
    r = list(dict.fromkeys((int(a), int(b)) for a, b in zip(xs, ys)))
    if len(r) < 3:
        return None
    return r + [r[0]]


def _rings_flat(rings):
    opened = [r[:-1] for r in rings]
    lens = np.array([len(r) for r in opened], dtype=np.int64)
    off = np.zeros(lens.size + 1, np.int64)
    np.cumsum(lens, out=off[1:])
    px = np.array([p[0] for r in opened for p in r], dtype=np.float64)
    py = np.array([p[1] for r in opened for p in r], dtype=np.float64)
    return px, py, off


def _lines_flat(lines):
    lens = np.array([len(l) for l in lines], dtype=np.int64)
    off = np.zeros(lens.size + 1, np.int64)
    np.cumsum(lens, out=off[1:])
    px = np.array([p[0] for l in lines for p in l], dtype=np.float64)
    py = np.array([p[1] for l in lines for p in l], dtype=np.float64)
    return px, py, off


# ------------------------------------------------------------- kernels


def test_ring_kernel_matches_scalar_oracle():
    rng = np.random.default_rng(7)
    bounds = (0, 0, 400, 400)
    checked = 0
    for _ in range(250):
        rings = [r for r in (_rand_ring(rng)
                             for _ in range(rng.integers(1, 4))) if r]
        if not rings:
            continue
        oracle = SR.clip_parts_scalar(rings, G.GEOM_POLYGON, *bounds)
        px, py, off = _rings_flat(rings)
        qx, qy, qoff = C.clip_rings(px, py, off, *bounds)
        ix = C._round_half_up(qx).astype(np.float64)
        iy = C._round_half_up(qy).astype(np.float64)
        ix, iy, qoff = C._dedupe_parts(ix, iy, qoff, cyclic=True)
        got = []
        for r in range(qoff.size - 1):
            s, e = qoff[r], qoff[r + 1]
            if e - s >= 3:
                pts = [(int(a), int(b)) for a, b in zip(ix[s:e], iy[s:e])]
                got.append(pts + [pts[0]])
        assert got == oracle
        checked += 1
    assert checked > 200


def test_line_kernel_matches_scalar_oracle():
    rng = np.random.default_rng(11)
    bounds = (0, 0, 400, 400)
    for _ in range(250):
        lines = []
        for _ in range(rng.integers(1, 4)):
            m = rng.integers(2, 10)
            xs = rng.integers(-300, 700, m)
            ys = rng.integers(-300, 700, m)
            pts = [(int(xs[0]), int(ys[0]))]
            for a, b in zip(xs[1:], ys[1:]):
                if (int(a), int(b)) != pts[-1]:
                    pts.append((int(a), int(b)))
            if len(pts) >= 2:
                lines.append(pts)
        if not lines:
            continue
        oracle = SR.clip_parts_scalar(lines, G.GEOM_LINESTRING, *bounds)
        px, py, off = _lines_flat(lines)
        qx, qy, poff, _ = C.clip_lines(px, py, off, *bounds)
        ix = C._round_half_up(qx).astype(np.float64)
        iy = C._round_half_up(qy).astype(np.float64)
        ix, iy, poff = C._dedupe_parts(ix, iy, poff, cyclic=False)
        got = []
        for p in range(poff.size - 1):
            s, e = poff[p], poff[p + 1]
            if e - s >= 2:
                got.append([(int(a), int(b))
                            for a, b in zip(ix[s:e], iy[s:e])])
        assert got == oracle


def test_clip_partition_conserves_area():
    """Clipping a polygon by the four quadrants of a region that
    contains it partitions its area exactly (pre-rounding floats):
    sum of clipped shoelace areas == original shoelace area."""
    rng = np.random.default_rng(19)
    quads = [(-512, -512, 0, 0), (0, -512, 512, 0),
             (-512, 0, 0, 512), (0, 0, 512, 512)]

    def shoelace(px, py):
        return 0.5 * float(
            (px * np.roll(py, -1) - np.roll(px, -1) * py).sum())

    for _ in range(100):
        # centers in [-200, 200), radius < 300: the ring stays inside
        # the ±512 region the four quadrants partition
        ring = _rand_ring(rng, span=400, lo=-200)
        if ring is None:
            continue
        px, py, off = _rings_flat([ring])
        # make it convex-ish irrelevant: shoelace handles any simple
        # polygon; our generator sorts by angle so the ring is simple
        total = shoelace(px, py)
        got = 0.0
        for b in quads:
            qx, qy, qoff = C.clip_rings(px.copy(), py.copy(), off.copy(), *b)
            for r in range(qoff.size - 1):
                s, e = qoff[r], qoff[r + 1]
                if e - s >= 3:
                    got += shoelace(qx[s:e], qy[s:e])
        assert got == pytest.approx(total, rel=1e-9, abs=1e-6)


def test_clip_partition_conserves_length():
    """Total clipped polyline length across a partition of the plane
    equals the original length (pre-rounding floats)."""
    rng = np.random.default_rng(23)
    quads = [(-512, -512, 0, 0), (0, -512, 512, 0),
             (-512, 0, 0, 512), (0, 0, 512, 512)]
    for _ in range(100):
        m = rng.integers(2, 12)
        xs = rng.integers(-500, 501, m).astype(float)
        ys = rng.integers(-500, 501, m).astype(float)
        keep = np.ones(m, dtype=bool)
        keep[1:] = (np.diff(xs) != 0) | (np.diff(ys) != 0)
        xs, ys = xs[keep], ys[keep]
        if xs.size < 2:
            continue
        total = float(np.hypot(np.diff(xs), np.diff(ys)).sum())
        off = np.array([0, xs.size], dtype=np.int64)
        got = 0.0
        for b in quads:
            qx, qy, poff, _ = C.clip_lines(xs, ys, off, *b)
            for p in range(poff.size - 1):
                s, e = poff[p], poff[p + 1]
                if e - s >= 2:
                    got += float(np.hypot(np.diff(qx[s:e]),
                                          np.diff(qy[s:e])).sum())
        assert got == pytest.approx(total, rel=1e-9, abs=1e-6)


def test_clip_fully_outside_and_inside():
    ring = [(10, 10), (20, 10), (20, 20), (10, 20), (10, 10)]
    # fully inside: unchanged
    assert SR.clip_parts_scalar([ring], G.GEOM_POLYGON, 0, 0, 100, 100) \
        == [ring]
    # fully outside: gone
    assert SR.clip_parts_scalar([ring], G.GEOM_POLYGON, 50, 50, 100, 100) \
        == []
    px, py, off = _rings_flat([ring])
    qx, qy, qoff = C.clip_rings(px, py, off, 50, 50, 100, 100)
    assert qx.size == 0 and list(qoff) == [0, 0]


def test_clip_donut_keeps_hole():
    outer = [(0, 0), (100, 0), (100, 100), (0, 100), (0, 0)]
    inner = [(25, 25), (25, 75), (75, 75), (75, 25), (25, 25)]  # CCW hole
    out = SR.clip_parts_scalar([outer, inner], G.GEOM_POLYGON,
                              -10, -10, 50, 110)
    assert len(out) == 2
    # winding preserved: outer positive, hole negative

    def area2(r):
        s = 0.0
        for i in range(len(r) - 1):
            s += r[i][0] * r[i + 1][1] - r[i + 1][0] * r[i][1]
        return s
    assert area2(out[0]) > 0 and area2(out[1]) < 0


# ------------------------------------------------------------ DP kernel


def test_dp_mask_matches_scalar_oracle():
    rng = np.random.default_rng(3)
    for _ in range(250):
        lines = []
        for _ in range(rng.integers(1, 5)):
            m = rng.integers(2, 30)
            xs = np.cumsum(rng.integers(-40, 41, m))
            ys = np.cumsum(rng.integers(-40, 41, m))
            pts = [(int(xs[0]), int(ys[0]))]
            for a, b in zip(xs[1:], ys[1:]):
                if (int(a), int(b)) != pts[-1]:
                    pts.append((int(a), int(b)))
            if len(pts) >= 2:
                lines.append(pts)
        if not lines:
            continue
        tol = float(rng.integers(0, 60))
        oracle = SR.simplify_parts_scalar(lines, G.GEOM_LINESTRING, tol)
        px, py, off = _lines_flat(lines)
        keep = S.dp_mask(px, py, off[:-1], off[1:] - 1, tol)
        got = []
        for i in range(off.size - 1):
            s, e = off[i], off[i + 1]
            pts = [lines[i][j] for j in range(e - s) if keep[s + j]]
            if len(pts) >= 2:
                got.append(pts)
        assert got == oracle


def test_dp_keeps_endpoints_and_is_conservative():
    # collinear interior points vanish at tol 0+, corners survive
    line = [(0, 0), (10, 0), (20, 0), (30, 0), (30, 10)]
    out = SR.simplify_parts_scalar([line], G.GEOM_LINESTRING, 0.5)
    assert out == [[(0, 0), (30, 0), (30, 10)]]
    # tol 0 keeps every non-collinear vertex
    zig = [(0, 0), (10, 5), (20, 0), (30, 5)]
    assert SR.simplify_parts_scalar([zig], G.GEOM_LINESTRING, 0.0) == [zig]


def test_dp_idempotent():
    rng = np.random.default_rng(29)
    for _ in range(50):
        m = rng.integers(4, 40)
        pts = list(zip(np.cumsum(rng.integers(-30, 31, m)).tolist(),
                       np.cumsum(rng.integers(-30, 31, m)).tolist()))
        pts = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
        if len(pts) < 2:
            continue
        once = SR.simplify_parts_scalar([pts], G.GEOM_LINESTRING, 10.0)
        if not once:
            continue
        twice = SR.simplify_parts_scalar(once, G.GEOM_LINESTRING, 10.0)
        assert twice == once


def test_tolerance_for_zoom_ladder():
    assert S.tolerance_for_zoom(4, 4) == 1.0
    assert S.tolerance_for_zoom(0, 4) == 16.0
    assert S.tolerance_for_zoom(2, 4, base=2.0) == 8.0


# ----------------------------------------------------------- Spark ops


@pytest.fixture(scope="module")
def assigned(spark, sf_dir):
    img = synth.images(spark, sf_dir)
    return tiling.assign_tiles(img, buffer=256) \
        .withColumn("layer_name", F.lit("l")).cache()


def _parts_py(rows):
    return {
        r["feature_id"]: [[(p["x"], p["y"]) for p in part]
                          for part in r["parts"]]
        for r in rows
    }


def test_clip_features_matches_scalar_on_spark(spark, assigned):
    feats = geomops.rect_footprint_features(assigned) \
        .where(F.col("x") + F.col("y") == 2)
    clipped = C.clip_features(feats, extent=4096, buffer=256)
    inp = _parts_py(feats.collect())
    got = _parts_py(clipped.collect())
    n_checked = 0
    for fid, parts in inp.items():
        want = SR.clip_parts_scalar(parts, G.GEOM_POLYGON,
                                   -256, -256, 4096 + 256, 4096 + 256)
        want = [[tuple(p) for p in r] for r in want]
        assert got.get(fid, []) == want
        n_checked += 1
    assert n_checked > 50
    # every surviving coordinate is inside the buffered rect
    mx = clipped.selectExpr(
        "max(aggregate(flatten(transform(parts, r -> transform(r, "
        "p -> greatest(abs(p.x - 2048), abs(p.y - 2048))))), 0L, "
        "(a, b) -> greatest(a, b))) AS m").collect()[0]["m"]
    assert mx <= 2048 + 256


def test_clip_features_lines_split_on_spark(spark, assigned):
    feats = SR.path_features(assigned).where(
        (F.col("x") == 1) & (F.col("y") == 1))
    clipped = C.clip_features(feats, extent=4096, buffer=0)
    inp = _parts_py(feats.collect())
    got = _parts_py(clipped.collect())
    for fid, parts in inp.items():
        want = SR.clip_parts_scalar(parts, G.GEOM_LINESTRING,
                                   0, 0, 4096, 4096)
        want = [[tuple(p) for p in l] for l in want]
        assert got.get(fid, []) == want


def test_clip_then_encode_roundtrips(spark, assigned):
    """Clipped polygons go straight through the strict vtzero encoder
    (closed rings, no zero-length segments) and decode back to the
    same parts."""
    feats = geomops.rect_footprint_features(assigned).limit(500)
    clipped = C.clip_features(feats, extent=4096, buffer=256)
    rows = clipped.collect()
    assert rows
    for r in rows:
        parts = [np.array([[p["x"], p["y"]] for p in part], dtype=np.int64)
                 for part in r["parts"]]
        cmds = G.encode_geometry(G.GEOM_POLYGON, parts)
        dec, _ = G.decode_geometry(G.GEOM_POLYGON, cmds)
        assert len(dec) == len(parts)
        for d, w in zip(dec, parts):
            assert np.array_equal(d, w)


def test_simplify_features_matches_scalar_on_spark(spark, assigned):
    feats = SR.path_features(assigned).where(
        (F.col("x") == 2) & (F.col("y") == 1))
    simp = S.simplify_features(feats, 2.0)
    inp = _parts_py(feats.collect())
    got = _parts_py(simp.collect())
    for fid, parts in inp.items():
        want = SR.simplify_parts_scalar(parts, G.GEOM_LINESTRING, 2.0)
        want = [[tuple(p) for p in l] for l in want]
        assert got.get(fid, []) == want


def test_simplify_rings_on_spark(spark, assigned):
    feats = geomops.rect_footprint_features(assigned).where(
        (F.col("x") == 2) & (F.col("y") == 2))
    simp = S.simplify_features(feats, 1.0)
    inp = _parts_py(feats.collect())
    got = _parts_py(simp.collect())
    for fid, parts in inp.items():
        want = SR.simplify_parts_scalar(parts, G.GEOM_POLYGON, 1.0)
        want = [[tuple(p) for p in r] for r in want]
        assert got.get(fid, []) == want
    # axis-aligned rectangles have no redundant vertices: survive intact
    assert got == {k: v for k, v in inp.items() if k in got}
    assert len(got) == len(inp)


def test_clip_simplify_encode_lint_clean(spark, assigned):
    """The full engine composition: assign (buffered) -> clip to the
    unbuffered extent -> simplify for a low zoom -> encode -> lint.
    The resulting tiles parse clean under the vtzero-check analog
    (no zero-length segments, closed rings, coords within extent)."""
    feats = geomops.rect_footprint_features(assigned)
    feats = C.clip_features(feats, extent=4096, buffer=0)
    feats = S.simplify_features(
        feats, S.tolerance_for_zoom(2, 4, base=0.5))
    layers = assemble.encode_layers(
        feats.withColumn("feature_ordinal", F.col("feature_id")))
    tiles = assemble.encode_tiles(layers)
    findings = lint.tile_lint(tiles)
    worst = lint.return_codes(findings, tiles) \
        .agg(F.max("return_code").alias("m")).collect()[0]["m"]
    assert worst == 0
