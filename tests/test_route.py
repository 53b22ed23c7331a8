"""Network shortest paths (engine/route.py): scalar Dijkstra parity
on the full uncontracted graph (proves chain contraction + skip
shortcuts + junction detection lossless), tier identity (driver
Dijkstra vs distributed frontier loop), the relaxation fixpoint law
asserted ON the output (the optimality certificate for nonnegative
weights), source seeding, unreachable contract, and handcrafted
junction/mid-chain cases.
"""

from __future__ import annotations

import collections
import heapq

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import drivertier
from vtzero_spark.engine import route as R
from vtzero_spark.engine import snap as S


# ---------------------------------------------------------- reference

def dijkstra_full(seg_rows, transfer_eps, sources):
    """Scalar Dijkstra over the UNCONTRACTED graph: every segment a
    weight-5 edge; per unordered road pair, ONE footbridge at the
    min-(L1, src nid, dst nid) vertex pair within eps (the operator's
    deterministic bridge rule, mirrored exactly)."""
    def nid(p):
        return (p[0] << 20) | p[1]

    adj = collections.defaultdict(list)
    coords = set()
    byroad = collections.defaultdict(set)
    for r in seg_rows:
        a, b = (r.ax, r.ay), (r.bx, r.by)
        adj[a].append((b, 5))
        adj[b].append((a, 5))
        coords.update((a, b))
        byroad[r.road_id].update((a, b))
    rids = sorted(byroad)
    for i, ra in enumerate(rids):
        for rb in rids[i + 1:]:
            best = None
            for pa in byroad[ra]:
                for pb in byroad[rb]:
                    dx, dy = pa[0] - pb[0], pa[1] - pb[1]
                    if dx * dx + dy * dy <= transfer_eps ** 2:
                        key = (abs(dx) + abs(dy), nid(pa), nid(pb))
                        if best is None or key < best:
                            best = key
                            bpa, bpb = pa, pb
            if best is not None:
                adj[bpa].append((bpb, best[0]))
                adj[bpb].append((bpa, best[0]))
    INF = float("inf")
    dist = {c: INF for c in coords}
    pq = []
    for s in sources:
        dist[s] = 0
        heapq.heappush(pq, (0, s))
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist[u]:
            continue
        for v, w in adj[u]:
            if d + w < dist[v]:
                dist[v] = d + w
                heapq.heappush(pq, (d + w, v))
    return {c: (-1 if dist[c] == float("inf") else int(dist[c]))
            for c in coords}


def _segs_df(spark, rows):
    return spark.createDataFrame(
        rows, "road_id long, seg long, ax long, ay long, bx long, by long")


# ------------------------------------------------------- synthesized

@pytest.mark.parametrize("eps", [0, 160])
def test_matches_dijkstra_on_road_network(spark, sf_dir, eps):
    segs = S.roads(spark, sf_dir)
    src = R.route_sources(spark, sf_dir, 4)
    got = {(r.vx, r.vy): r.dist
           for r in R.sssp(spark, segs, src, transfer_eps=eps).collect()}
    want = dijkstra_full(segs.collect(), eps,
                         [(r.vx, r.vy) for r in src.collect()])
    assert got == want
    assert sum(1 for d in got.values() if d >= 0) > 4  # non-vacuous


def _spy_tiers(monkeypatch) -> list[bool]:
    """Record, per drivertier.collect_within call, whether it kept
    the rows on the driver (True) or went distributed (False)."""
    tiers: list[bool] = []
    real = drivertier.collect_within

    def spy(df, cap):
        out = real(df, cap)
        tiers.append(out is not None)
        return out

    monkeypatch.setattr(drivertier, "collect_within", spy)
    return tiers


def test_merge_tiers_label_identical(spark, sf_dir, monkeypatch):
    segs = S.roads(spark, sf_dir)
    src = R.route_sources(spark, sf_dir, 2)
    a = {(r.vx, r.vy): r.dist
         for r in R.sssp(spark, segs, src, transfer_eps=160).collect()}
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", 0)
    tiers = _spy_tiers(monkeypatch)
    b = {(r.vx, r.vy): r.dist
         for r in R.sssp(spark, segs, src, transfer_eps=160).collect()}
    assert tiers == [True, False]  # junction census; distributed merge
    assert a == b


def test_interp_tiers_label_identical(spark, sf_dir, monkeypatch):
    """The r6 driver-interpolation tier (numpy gather + segmented min
    when the Dijkstra labels are already driver-side) must equal the
    broadcast-join interpolation row for row.  SERIAL_ROWS sits
    between the contracted-edge count and the chain row count, so the
    Dijkstra merge stays on the driver and the interpolation goes
    distributed."""
    segs = S.roads(spark, sf_dir)
    src = R.route_sources(spark, sf_dir, 2)
    a = {(r.vx, r.vy): r.dist
         for r in R.sssp(spark, segs, src, transfer_eps=160).collect()}
    src_nids = [(r.vx << R._SHIFT) + r.vy for r in src.collect()]
    edges, _skips, chain = R.contracted_graph(
        segs, 160, extra_junctions=src_nids)
    n_edges, n_chain = edges.count(), chain.count()
    assert n_edges < n_chain  # the strict gap the tier split needs
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", n_edges)
    tiers = _spy_tiers(monkeypatch)
    b = {(r.vx, r.vy): r.dist
         for r in R.sssp(spark, segs, src, transfer_eps=160).collect()}
    # junction census; driver Dijkstra; distributed interpolation
    assert tiers == [True, True, False]
    assert a == b


def test_fixpoint_law_on_output(spark, sf_dir):
    """Optimality certificate: on the returned labeling no original
    edge is relaxable — |dist(a) - dist(b)| <= w for every segment
    and transfer with both ends reachable, and reachability agrees
    across every edge. With dist(source) = 0 and every label realized
    by an actual path, this pins the labels to the true distances
    without any reference implementation."""
    segs = S.roads(spark, sf_dir)
    src = R.route_sources(spark, sf_dir, 4)
    out = R.sssp(spark, segs, src, transfer_eps=160)
    da = out.select(F.col("vx").alias("ax"), F.col("vy").alias("ay"),
                    F.col("dist").alias("_da"))
    db = out.select(F.col("vx").alias("bx"), F.col("vy").alias("by"),
                    F.col("dist").alias("_db"))
    j = segs.join(da, ["ax", "ay"]).join(db, ["bx", "by"])
    viol = j.where(
        ((F.col("_da") >= 0) != (F.col("_db") >= 0))
        | ((F.col("_da") >= 0) & (F.col("_db") >= 0)
           & (F.abs(F.col("_da") - F.col("_db")) > 5)))
    assert viol.count() == 0
    # transfers relax too
    verts = R.road_vertices(segs)
    tr = R.transfer_edges(verts, 160)
    dn = out.select(
        (F.shiftleft(F.col("vx"), 20) + F.col("vy")).alias("n"),
        F.col("dist").alias("d"))
    tj = (tr.join(dn.select(F.col("n").alias("src"),
                            F.col("d").alias("_ds")), "src")
          .join(dn.select(F.col("n").alias("dst"),
                          F.col("d").alias("_dd")), "dst"))
    tviol = tj.where(
        ((F.col("_ds") >= 0) != (F.col("_dd") >= 0))
        | ((F.col("_ds") >= 0) & (F.col("_dd") >= 0)
           & (F.abs(F.col("_ds") - F.col("_dd")) > F.col("w"))))
    assert tviol.count() == 0
    # sources label 0
    sd = {(r.vx, r.vy): r.dist for r in out.collect()}
    for r in R.route_sources(spark, sf_dir, 4).collect():
        assert sd[(r.vx, r.vy)] == 0


# ------------------------------------------------------- handcrafted

def test_two_roads_share_a_junction(spark):
    # road 0: (0,0)->(5,0)->(10,0); road 1 starts at road 0's
    # midpoint and walks (3,4) norm-5 steps — the shared coordinate
    # is one topological node, no transfer needed (eps=0)
    rows = [
        (0, 0, 0, 0, 5, 0), (0, 1, 5, 0, 10, 0),
        (1, 0, 5, 0, 8, 4), (1, 1, 8, 4, 11, 8),
    ]
    segs = _segs_df(spark, rows)
    src = spark.createDataFrame([(0, 0)], "vx long, vy long")
    got = {(r.vx, r.vy): r.dist
           for r in R.sssp(spark, segs, src, transfer_eps=0).collect()}
    assert got == {(0, 0): 0, (5, 0): 5, (10, 0): 10,
                   (8, 4): 10, (11, 8): 15}


def test_junction_census_cap_fails_loudly(spark, monkeypatch):
    """The junction census is a bounded driver collect: past
    _JUNCTION_CAP it raises instead of collecting.  The two roads
    share exactly one repeated coordinate, so a cap of 1 passes and
    a cap of 0 must raise."""
    rows = [
        (0, 0, 0, 0, 5, 0), (0, 1, 5, 0, 10, 0),
        (1, 0, 5, 0, 8, 4), (1, 1, 8, 4, 11, 8),
    ]
    segs = _segs_df(spark, rows)
    monkeypatch.setattr(R, "_JUNCTION_CAP", 1)
    R.contracted_graph(segs, transfer_eps=0)
    monkeypatch.setattr(R, "_JUNCTION_CAP", 0)
    with pytest.raises(ValueError,
                       match="junction census exceeds 0 nodes"):
        R.contracted_graph(segs, transfer_eps=0)


def test_mid_chain_source_seeds_both_directions(spark):
    rows = [(0, i, i * 5, 0, (i + 1) * 5, 0) for i in range(8)]
    segs = _segs_df(spark, rows)
    src = spark.createDataFrame([(15, 0)], "vx long, vy long")
    got = {(r.vx, r.vy): r.dist
           for r in R.sssp(spark, segs, src, transfer_eps=0).collect()}
    for i in range(9):
        assert got[(i * 5, 0)] == abs(i - 3) * 5


def test_disconnected_road_is_unreachable(spark):
    rows = [(0, 0, 0, 0, 5, 0), (7, 0, 40000, 40000, 40005, 40000)]
    segs = _segs_df(spark, rows)
    src = spark.createDataFrame([(0, 0)], "vx long, vy long")
    got = {(r.vx, r.vy): r.dist
           for r in R.sssp(spark, segs, src, transfer_eps=16).collect()}
    assert got[(40000, 40000)] == -1 and got[(40005, 40000)] == -1
    assert got[(5, 0)] == 5


def test_transfer_bridges_roads_at_l1_weight(spark):
    # two parallel roads 7 apart: transfer (0,0)->(0,7) L1 weight 7
    rows = [(0, 0, 0, 0, 5, 0), (1, 0, 0, 7, 5, 7)]
    segs = _segs_df(spark, rows)
    src = spark.createDataFrame([(0, 0)], "vx long, vy long")
    got = {(r.vx, r.vy): r.dist
           for r in R.sssp(spark, segs, src, transfer_eps=8).collect()}
    assert got[(0, 7)] == 7
    assert got[(5, 7)] == min(7 + 5, 5 + 7)
    # eps below the gap: unreachable
    got2 = {(r.vx, r.vy): r.dist
            for r in R.sssp(spark, segs, src, transfer_eps=6).collect()}
    assert got2[(0, 7)] == -1


def test_eps_validation(spark):
    segs = _segs_df(spark, [(0, 0, 0, 0, 5, 0)])
    with pytest.raises(ValueError, match="transfer_eps"):
        R.transfer_edges(R.road_vertices(segs), -1)


# -------------------------------------------------------- isochrones

def test_segment_bands_match_dijkstra(spark, sf_dir):
    segs = S.roads(spark, sf_dir)
    src = R.route_sources(spark, sf_dir, 4)
    bw, nb = 300, 6
    got = {(r.road_id, r.seg): r.band
           for r in R.segment_bands(spark, segs, src, band_width=bw,
                                    n_bands=nb,
                                    transfer_eps=160).collect()}
    d = dijkstra_full(segs.collect(), 160,
                      [(r.vx, r.vy) for r in src.collect()])
    want = {}
    for r in segs.collect():
        da, db = d[(r.ax, r.ay)], d[(r.bx, r.by)]
        # endpoints share every segment edge: both labeled or neither
        assert (da >= 0) == (db >= 0)
        if da >= 0:
            band = min(da, db) // bw
            if band < nb:
                want[(r.road_id, r.seg)] = band
    assert got == want
    assert len(want) > 0


def test_isochrone_tiles_decode_to_band_layers(spark, sf_dir):
    from vtzero_spark.engine import assemble

    segs = S.roads(spark, sf_dir)
    src = R.route_sources(spark, sf_dir, 4)
    tiles = R.isochrone_tiles(spark, segs, src, band_width=300,
                              n_bands=6, transfer_eps=160)
    dec = assemble.decode_tiles(tiles)
    rows = dec.groupBy("layer_name").count().collect()
    names = {r.layer_name for r in rows}
    assert names and names <= {f"iso_{k}" for k in range(6)}
    assert "iso_0" in names          # the source band always renders
    assert dec.where(F.col("decode_status") != "ok").count() == 0
