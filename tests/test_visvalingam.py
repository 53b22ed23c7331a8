"""Visvalingam–Whyatt — effective-area simplification.

Laws pinned here:
- kernel == the naive from-the-paper reference (recompute the global
  min each pass) on LCG fuzz, lines AND pinned-start rings, across
  six tolerances including 0 and past-everything;
- the SLICING law: eff >= tol2 IS the per-tolerance run, and masks
  NEST across tolerances (one kernel pass serves the whole zoom
  ladder);
- collinear interiors eliminate at area 0; endpoints / ring starts
  never eliminate; structural floors (2 line, 3 ring) hold at
  any tolerance;
- the Spark pair: attach_effective_areas (one mapInPandas, no
  shuffle) + vw_slice (pure codegen) equals the serial kernel
  part-for-part and vertex-for-vertex on mixed line/polygon/point
  features with closing-dup rings, slices CHAIN (coarse slice of a
  fine slice == direct coarse slice), and the plan shows no
  exchange.
"""

import numpy as np
from pyspark.sql import functions as F

from vtzero_spark.engine import visvalingam as VW
import scalar_reference as SR


def _lcg_pts(n, span=300, seed=7):
    x, m = seed, (1 << 31) - 1
    out = []
    for _ in range(n):
        x = (x * 48271) % m
        a = x % span
        x = (x * 48271) % m
        out.append((a, x % span))
    return out


def test_kernel_matches_reference_fuzz():
    rng = np.random.RandomState(3)
    for trial in range(250):
        n = rng.randint(2, 40)
        xs = rng.randint(0, 300, n).astype(np.int64)
        ys = rng.randint(0, 300, n).astype(np.int64)
        ring = bool(rng.randint(2))
        if ring and n < 3:
            continue
        for tol2 in (0, 1, 5, 50, 500, 10 ** 9):
            a = SR.vw_keep(xs, ys, tol2, ring=ring)
            b = SR.vw_reference(xs, ys, tol2, ring=ring)
            assert (a == b).all(), (trial, n, ring, tol2)


def test_slicing_law_and_nesting():
    rng = np.random.RandomState(9)
    for ring in (False, True):
        xs = rng.randint(0, 2000, 80).astype(np.int64)
        ys = rng.randint(0, 2000, 80).astype(np.int64)
        eff = VW.effective_areas(xs, ys, ring=ring)
        prev = None
        for t in (0, 10, 100, 10 ** 4, 10 ** 7, 10 ** 12):
            m = eff >= t
            assert (m == SR.vw_reference(xs, ys, t, ring=ring)).all()
            if prev is not None:
                assert (m <= prev).all()  # masks nest
            prev = m
        # structural floor at any tolerance
        assert m.sum() >= (3 if ring else 2)
        if ring:
            assert m[0]  # the pinned start
        else:
            assert m[0] and m[-1]


def test_collinear_interior_eliminates_at_zero():
    xs = np.array([0, 10, 20, 30], dtype=np.int64)
    ys = np.zeros(4, dtype=np.int64)
    eff = VW.effective_areas(xs, ys)
    assert eff[0] == eff[3] == VW.INF2
    assert eff[1] == eff[2] == 0
    assert SR.vw_keep(xs, ys, 1).tolist() == [True, False, False, True]


def _mixed_features(spark):
    line = _lcg_pts(25, seed=5)
    ring = _lcg_pts(12, span=400, seed=13)
    ring_closed = [[x, y] for x, y in ring] + [[ring[0][0], ring[0][1]]]
    rows = [
        (1, 2, [[[x, y] for x, y in line]]),                     # line
        (2, 3, [ring_closed]),                                   # ring
        (3, 2, [[[x, y] for x, y in _lcg_pts(2, seed=21)]]),     # seg
        (4, 1, [[[7, 9]]]),                                      # point
    ]
    return rows, spark.createDataFrame(
        rows, "fid long, geom_type int, parts array<array<array<long>>>")


def test_spark_attach_and_slice_match_serial(spark):
    rows, df = _mixed_features(spark)
    eff_df = VW.attach_effective_areas(df).localCheckpoint()
    for tol2 in (0, 40, 4000, 10 ** 8):
        got = {r.fid: [[tuple(v) for v in p] for p in r.parts]
               for r in VW.vw_slice(eff_df, tol2).collect()}
        for fid, gt, parts in rows:
            want = []
            for part in parts:
                if gt == 3:
                    xs = [v[0] for v in part[:-1]]
                    ys = [v[1] for v in part[:-1]]
                    keep = SR.vw_keep(xs, ys, tol2, ring=True)
                    new = [tuple(part[i]) for i in range(len(xs))
                           if keep[i]] + [tuple(part[0])]
                    if len(new) >= 4:
                        want.append(new)
                elif gt == 2:
                    xs = [v[0] for v in part]
                    ys = [v[1] for v in part]
                    keep = SR.vw_keep(xs, ys, tol2)
                    new = [tuple(part[i]) for i in range(len(xs))
                           if keep[i]]
                    if len(new) >= 2:
                        want.append(new)
                else:
                    want.append([tuple(v) for v in part])
            if want:
                assert got[fid] == want, (fid, tol2)
            else:
                assert fid not in got


def test_slices_chain_and_plan_has_no_exchange(spark):
    _, df = _mixed_features(spark)
    eff_df = VW.attach_effective_areas(df).localCheckpoint()
    fine = VW.vw_slice(eff_df, 40)
    coarse_of_fine = VW.vw_slice(fine, 4000)
    direct = VW.vw_slice(eff_df, 4000)
    a = {r.fid: r.parts for r in coarse_of_fine.collect()}
    b = {r.fid: r.parts for r in direct.collect()}
    assert a == b  # nesting makes slices composable
    plan = direct._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # the slice is pure codegen math


def _track_features(spark, n_users=6, n_pts=120):
    rows = []
    x, m = 23, (1 << 31) - 1
    for u in range(1, n_users + 1):
        px, py = 30000, 30000
        pts = []
        for _ in range(n_pts):
            x = (x * 48271) % m
            px = (px + x % 1200 - 600) % 65536
            x = (x * 48271) % m
            py = (py + x % 1200 - 600) % 65536
            pts.append([px, py])
        rows.append((u, "LineString", [pts]))
    return spark.createDataFrame(
        rows, "fid long, gj_type string, parts array<array<array<long>>>")


def test_pyramid_tiles_thins_and_identity_at_tol_zero(spark):
    """The composed product: per-zoom vertex totals (decoded from the
    tiles) never increase as zoom coarsens, every tile parses, and
    the tol2=0 slice is BYTE-IDENTICAL to the plain ingest tail (the
    slicing law's identity case, proved through the codec)."""
    from vtzero_spark.engine import geojson as GJ
    from vtzero_spark.mvt import geometry as G
    from vtzero_spark.mvt import tile as T

    feats = _track_features(spark)
    tiles = VW.pyramid_tiles(feats, 0, 4, layer="tracks").collect()
    assert tiles
    nver = {}
    for r in tiles:
        buf = bytes(r["tile_bytes"])
        layers = T.parse_tile(buf)
        assert [l.name for l in layers] == ["tracks"]
        for f in layers[0].features:
            parts, _ = G.decode_geometry(
                f.geom_type, f.geometry, f.geometry_nbytes)
            nver[r["z"]] = nver.get(r["z"], 0) \
                + sum(len(p) for p in parts)
    zs = sorted(nver)
    assert zs == [0, 1, 2, 3, 4]
    for a, b in zip(zs, zs[1:]):
        assert nver[a] <= nver[b]
    assert nver[0] < nver[4]  # the ladder really thins

    # identity law at tol2 = 0, byte-for-byte through the codec
    eff = VW.attach_effective_areas(
        feats.withColumn("geom_type", F.lit(2)))
    ident = VW.vw_slice(eff, 0).select("fid", "gj_type", "parts")
    a = {(r.z, r.x, r.y): bytes(r.tile_bytes)
         for r in GJ.world_features_to_tiles(
             ident, 4, 4096, layer="tracks").collect()}
    b = {(r.z, r.x, r.y): bytes(r.tile_bytes)
         for r in GJ.world_features_to_tiles(
             feats, 4, 4096, layer="tracks").collect()}
    assert a == b and a
