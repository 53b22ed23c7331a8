"""Marching-squares contours (engine/contour.py): hand-built cell
cases through the block kernel, closed-cycle/orientation law over real
density fields, DuckDB twin parity, saddle determinism, tile encode
round-trip, plan audit."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from vtzero_spark.engine import contour, heatmap, synth

RADIUS = 4
ZOOM = synth.ZOOM
PSHIFT = 16 - ZOOM - 8  # world 2^16, zoom 4, 256-px tiles -> 4
S = 1 << PSHIFT


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return synth.images(spark, sf_dir).orderBy("iid").limit(300) \
        .select("iid", "wx", "wy", "w").localCheckpoint(eager=True)


def _segs(rows, levels):
    """A hand-built sparse (px, py, density) grid through the block
    kernel (_ms_dense): one dense window with a zero margin, so every
    cell the grid touches lies inside it."""
    lv = contour._check_levels(levels)
    bx = min(r[0] for r in rows) - 1
    by = min(r[1] for r in rows) - 1
    D = np.zeros((max(r[1] for r in rows) - by + 2,
                  max(r[0] for r in rows) - bx + 2), np.int64)
    for px, py, d in rows:
        D[py - by, px - bx] = d
    return contour._ms_dense(D, bx, by, lv, S, S // 2).to_dict("records")


def _cycles(rows):
    """Chain directed segments start->end; every segment must land in
    a closed cycle (the marching-squares closure law for levels >= 1
    over a finite-support field). Returns the list of cycles as
    vertex lists."""
    nxt = {}
    for r in rows:
        a, b = (r["x0"], r["y0"]), (r["x1"], r["y1"])
        assert a not in nxt, f"two segments leave {a}"
        nxt[a] = b
    cycles, seen = [], set()
    for start in list(nxt):
        if start in seen:
            continue
        cyc, p = [start], start
        seen.add(start)
        while True:
            assert p in nxt, f"open chain at {p}"
            p = nxt[p]
            if p == start:
                break
            assert p not in seen, f"vertex {p} visited twice"
            seen.add(p)
            cyc.append(p)
        cycles.append(cyc)
    return cycles


def _shoelace2(cyc):
    a = 0
    for (x0, y0), (x1, y1) in zip(cyc, cyc[1:] + cyc[:1]):
        a += x0 * y1 - x1 * y0
    return a


def test_single_peak_is_a_closed_diamond():
    rows = _segs([(10, 10, 100)], [40])
    assert len(rows) == 4
    (cyc,) = _cycles(rows)
    assert len(cyc) == 4
    # 10*16+8 = 168; crossings at 40/100 of a pixel from the peak
    assert set(cyc) == {(168, 158), (158, 168), (168, 177), (177, 168)}
    # inside-on-left around a maximum, y-down: negative shoelace
    assert _shoelace2(cyc) < 0


def test_level_above_peak_is_empty_and_level_zero_rejected():
    assert len(_segs([(10, 10, 100)], [101])) == 0
    with pytest.raises(ValueError, match="levels"):
        _segs([(10, 10, 100)], [0])
    with pytest.raises(ValueError, match="duplicate"):
        _segs([(10, 10, 100)], [5, 5])


def test_saddle_center_rule_both_regimes():
    # TL+BR inside (case 5). center >= 4T connects the diagonal
    # (2 segments chaining TL-band-BR), center < 4T separates.
    hi = _segs([(0, 0, 90), (1, 1, 90), (1, 0, 30), (0, 1, 30)], [50])
    lo = _segs([(0, 0, 60), (1, 1, 60), (1, 0, 1), (0, 1, 1)], [50])
    for rows, want_case in ((hi, 21), (lo, 5)):
        cell = [r for r in rows if (r["cx"], r["cy"]) == (0, 0)]
        assert len(cell) == 2  # both regimes emit two segments
    # regimes differ in HOW edges pair up within the saddle cell
    pair = lambda rows: sorted(
        ((r["x0"], r["y0"]), (r["x1"], r["y1"]))
        for r in rows if (r["cx"], r["cy"]) == (0, 0))
    assert pair(hi) != pair(lo)
    # and each full field still closes into cycles
    _cycles(hi), _cycles(lo)


def test_edge_vertices_shared_between_neighbor_cells():
    # a 2-cell-wide blob: the edge between cells (9,9) and (10,9)
    # must carry the identical interpolated vertex from both sides
    rows = _segs([(10, 10, 80), (11, 10, 80)], [30])
    (cyc,) = _cycles(rows)
    assert _shoelace2(cyc) < 0


def _brute_segments(grid: dict, levels, npx):
    """Independent per-cell reference: dense dict field, scalar
    Python, same public SEG_TABLE, arithmetic written from the
    docstring (// floor on the guaranteed-nonnegative quotient)."""
    out = set()
    cells = set()
    for (px, py) in grid:
        for i in (0, 1):
            for j in (0, 1):
                cells.add((px - i, py - j))
    for T in levels:
        for (cx, cy) in cells:
            d = {(i, j): grid.get((cx + i, cy + j), 0)
                 for i in (0, 1) for j in (0, 1)}
            d00, d10 = d[(0, 0)], d[(1, 0)]
            d01, d11 = d[(0, 1)], d[(1, 1)]
            case = ((d00 >= T) + 2 * (d10 >= T) + 4 * (d11 >= T)
                    + 8 * (d01 >= T))
            ext = case + (16 if case in (5, 10)
                          and d00 + d10 + d01 + d11 >= 4 * T else 0)
            if ext not in contour.SEG_TABLE:
                continue
            pos = lambda c: c * S + S // 2
            itp = lambda da, db: ((T - da) * S) // (db - da)
            ept = {0: lambda: (pos(cx) + itp(d00, d10), pos(cy)),
                   1: lambda: (pos(cx + 1), pos(cy) + itp(d10, d11)),
                   2: lambda: (pos(cx) + itp(d01, d11), pos(cy + 1)),
                   3: lambda: (pos(cx), pos(cy) + itp(d00, d01))}
            for seg, (a, b) in enumerate(contour.SEG_TABLE[ext]):
                pa, pb = ept[a](), ept[b]()
                if pa != pb:
                    out.add((T, cx, cy, seg, *pa, *pb))
    return out


def test_real_field_matches_brute_force_and_closes(spark, points):
    """contour_segments reproduces the per-cell brute force over the
    heatmap grid EXACTLY — same integer interpolation, same saddle
    rule, same zero-length drop — at the default 256-px blocks and at
    block_bits=4, which puts cells on block edges and spreads kernel
    disks over several blocks."""
    pix = heatmap.heatmap_pixels(points, radius=RADIUS)
    grid = {(r["px"], r["py"]): r["density"] for r in pix.collect()}
    levels = [10, 200, 2000]
    want = _brute_segments(grid, levels, 4096)
    got = {tuple(r) for r in contour.contour_segments(
        points, levels, radius=RADIUS).collect()}
    assert got == want
    assert got  # non-trivial field
    got4 = {tuple(r) for r in contour._segments_direct(
        points, levels, PSHIFT, RADIUS, 4096, block_bits=4).collect()}
    assert got4 == want
    for T in levels:
        cycles = _cycles([
            {"x0": x0, "y0": y0, "x1": x1, "y1": y1}
            for (t, _, _, _, x0, y0, x1, y1) in got if t == T])
        assert all(_shoelace2(c) != 0 for c in cycles)


def test_duckdb_twin_matches(spark, sf_dir, points):
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{sf_dir}/lineitem.parquet')")
    levels = [10, 500]
    sql = (f"WITH {synth.images_sql()}, "
           + contour.contour_segments_sql(
               "images", levels, radius=RADIUS, weight_col="w")
           + "SELECT * FROM cs_segments ORDER BY level, cx, cy, seg")
    want = [tuple(r) for r in con.sql(sql).fetchall()]
    got = [tuple(r) for r in
           contour.contour_segments(synth.images(spark, sf_dir),
                                    levels, radius=RADIUS,
                                    weight_col="w")
           .orderBy("level", "cx", "cy", "seg").collect()]
    assert got == want
    assert got


def test_contour_tiles_round_trip(spark, points):
    from vtzero_spark.mvt.tile import parse_tile

    peak = heatmap.heatmap_pixels(points, radius=RADIUS) \
        .agg(F.max("density")).collect()[0][0]
    levels = [10, max(11, peak // 2)]  # both guaranteed non-empty
    tiles = contour.contour_tiles(points, levels, radius=RADIUS,
                                  buffer=64).collect()
    assert tiles
    seg = contour.contour_segments(points, levels,
                                   radius=RADIUS).collect()
    names_seen = set()
    total_feats = 0
    for t in tiles:
        for layer in parse_tile(bytes(t["tile_bytes"])):
            assert layer.name in {f"contour_{T}" for T in levels}
            names_seen.add(layer.name)
            assert layer.extent == 4096
            total_feats += len(layer.features)
    assert names_seen == {f"contour_{T}" for T in levels}
    # merged: far fewer features than raw segments
    assert 0 < total_feats < len(seg)
    # deterministic bytes across two independent runs
    again = contour.contour_tiles(points, levels, radius=RADIUS,
                                  buffer=64).collect()
    key = lambda rows: sorted((r["z"], r["x"], r["y"],
                               bytes(r["tile_bytes"])) for r in rows)
    assert key(tiles) == key(again)


def test_plan_is_jvm_only_and_join_free(spark, points):
    """Join-free: ONE point-sized exchange, then the fused block task
    (kernel accumulation + numpy marching squares) as the one Python
    node."""
    dplan = contour.contour_segments(points, [10]) \
        ._jdf.queryExecution().executedPlan().toString()
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct", "Join"):
        assert bad not in dplan
    assert dplan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in dplan


def test_polylines_unit_segment_multiset_matches_segments(spark, points):
    """The chained tier is the segment tier, regrouped: exploding every
    contour_polylines chain back into directed unit segments must give
    EXACTLY contour_segments' (level, x0, y0, x1, y1) multiset — so
    nothing downstream of the block task can tell the tiers apart
    except by row count."""
    levels = [10, 40]
    segs = contour.contour_segments(points, levels,
                                    radius=RADIUS).collect()
    want = sorted((r["level"], r["x0"], r["y0"], r["x1"], r["y1"])
                  for r in segs)
    chains = contour.contour_polylines(points, levels,
                                       radius=RADIUS).collect()
    got = []
    for r in chains:
        xs, ys = r["xs"], r["ys"]
        assert len(xs) == len(ys) >= 2
        for i in range(len(xs) - 1):
            got.append((r["level"], xs[i], ys[i], xs[i + 1], ys[i + 1]))
    assert sorted(got) == want
    # genuinely chained: far fewer rows than segments
    assert 0 < len(chains) < len(segs) / 3
    # fid law: each chain's fid is one of the unchained per-segment fids
    span = (1 << (16 - PSHIFT)) + 2
    lvidx = {t: i for i, t in enumerate(levels)}
    seg_fids = {(((lvidx[r["level"]] * span + r["cy"] + 1) * span
                  + r["cx"] + 1) * 2 + r["seg"]) for r in segs}
    assert {r["fid"] for r in chains} <= seg_fids


def _unchained_tiles(points, levels):
    """contour_segments tiled one feature per 2-point segment, with
    the (level-index, cell, seg) fid contour_tiles' chains take the
    min of: the per-segment form the chained tiles must equal."""
    from vtzero_spark.engine.geojson import world_features_to_tiles

    seg = contour.contour_segments(points, levels, radius=RADIUS)
    span = (1 << (16 - PSHIFT)) + 2
    li = F.lit(0)
    for i, t in enumerate(levels[1:], start=1):
        li = F.when(F.col("level") == t, F.lit(i)).otherwise(li)
    fid = (((li.cast("long") * span + F.col("cy") + 1) * span
            + F.col("cx") + 1) * 2 + F.col("seg"))
    feats = seg.select(
        fid.alias("fid"),
        F.lit("LineString").alias("gj_type"),
        F.array(F.array(F.array("x0", "y0"),
                        F.array("x1", "y1"))).alias("parts"),
        F.concat(F.lit("contour_"), F.col("level")).alias("_layer"))
    return world_features_to_tiles(feats, ZOOM, 4096, buffer=64,
                                   layer_col="_layer",
                                   coalesce_lines=True)


def test_chained_tiles_match_unchained(spark, points):
    """contour_tiles (chained in the block task) and the per-segment
    tiling of contour_segments agree tile by tile: same (z, x, y) set,
    same layers, same decoded undirected unit-segment multiset.
    Feature ids are deterministic within each form but may differ at
    buffer edges (a chain straddling a tile's buffer window carries
    its whole-chain min fid; the per-segment form mins over only
    in-window segments), so the pin is on geometry, with ids checked
    for determinism separately in test_contour_tiles_round_trip."""
    from vtzero_spark.mvt import tile as T
    from vtzero_spark.mvt.geometry import decode_geometry

    levels = [10, 40]

    def tilemap(rows):
        out = {}
        for r in rows:
            layers = {}
            for ly in T.parse_tile(bytes(r["tile_bytes"])):
                segs, fids = [], []
                for f in ly.features:
                    fids.append(f.id)
                    parts, _ = decode_geometry(f.geom_type, f.geometry)
                    for part in parts:
                        for a, b in zip(part[:-1], part[1:]):
                            s = (tuple(a), tuple(b))
                            segs.append(s if s[0] <= s[1]
                                        else (s[1], s[0]))
                layers[ly.name] = (len(fids), sorted(segs))
            out[(r["z"], r["x"], r["y"])] = layers
        return out

    a = tilemap(contour.contour_tiles(points, levels, radius=RADIUS,
                                      buffer=64).collect())
    b = tilemap(_unchained_tiles(points, levels).collect())
    assert a.keys() == b.keys() and a
    for k in a:
        assert a[k].keys() == b[k].keys(), k
        for name in a[k]:
            assert a[k][name][0] == b[k][name][0], (k, name, "nfeat")
            assert a[k][name][1] == b[k][name][1], (k, name, "segs")
