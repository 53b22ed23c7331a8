"""Per-tile linestring merge (engine/linemerge.py): ST_LineMerge
semantics — degree-2 chaining, junction/dangle termination, cycle
closure — plus conservation and maximality laws and the Spark surface."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vtzero_spark.engine import linemerge as LM
import scalar_reference as SR


def _p(*coords):
    return np.array(coords, dtype=np.int64).reshape(-1, 2)


def _merged(parts):
    return LM._materialize(parts, LM.merge_group_parts(parts))


def _segset(chains):
    """Undirected segment multiset of a list of (n,2) arrays."""
    out = []
    for c in chains:
        for a, b in zip(c[:-1], c[1:]):
            s = (tuple(a), tuple(b))
            out.append(s if s[0] <= s[1] else (s[1], s[0]))
    return sorted(out)


def test_simple_chain_merges():
    parts = [_p(0, 0, 10, 0), _p(10, 0, 20, 5), _p(20, 5, 30, 5)]
    out = _merged(parts)
    assert len(out) == 1
    assert out[0].tolist() == [[0, 0], [10, 0], [20, 5], [30, 5]]


def test_orientation_flips():
    # middle part points the wrong way; merge must reverse it
    parts = [_p(0, 0, 10, 0), _p(20, 5, 10, 0), _p(20, 5, 30, 5)]
    out = _merged(parts)
    assert len(out) == 1
    assert out[0].tolist() == [[0, 0], [10, 0], [20, 5], [30, 5]]


def test_junction_terminates():
    # Y: three parts meeting at (10,0) — degree 3, nothing merges
    parts = [_p(0, 0, 10, 0), _p(10, 0, 20, 10), _p(10, 0, 20, -10)]
    out = _merged(parts)
    assert len(out) == 3
    assert _segset(out) == _segset(parts)


def test_chain_through_then_junction():
    # A-B merge, then a 3-way node stops the chain; spurs stay single
    parts = [_p(0, 0, 5, 0), _p(5, 0, 10, 0),
             _p(10, 0, 20, 10), _p(10, 0, 20, -10)]
    out = _merged(parts)
    lens = sorted(len(c) for c in out)
    assert lens == [2, 2, 3]
    assert _segset(out) == _segset(parts)


def test_cycle_closes():
    parts = [_p(0, 0, 10, 0), _p(10, 0, 5, 8), _p(5, 8, 0, 0)]
    out = _merged(parts)
    assert len(out) == 1
    c = out[0]
    assert len(c) == 4 and c[0].tolist() == c[-1].tolist()
    assert _segset(out) == _segset(parts)


def test_closed_part_never_merges():
    ring = _p(0, 0, 10, 0, 5, 8, 0, 0)
    tail = _p(0, 0, -10, 0)  # touches the ring's endpoint
    out = _merged([ring, tail])
    assert len(out) == 2
    assert _segset(out) == _segset([ring, tail])


def test_degenerate_part_passthrough():
    out = _merged([_p(3, 4), _p(0, 0, 1, 1)])
    assert len(out) == 2


def test_deterministic_emission_order():
    parts = [_p(100, 0, 110, 0),               # isolated
             _p(0, 0, 10, 0), _p(10, 0, 20, 0)]  # chain
    chains = LM.merge_group_parts(parts)
    # ordered by smallest contained part index: isolated part 0 first
    assert [min(abs(s) for s in ch) for ch in chains] == [1, 2]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(-50, 50), min_size=2, max_size=30),
       st.randoms(use_true_random=False))
def test_random_monotone_path_reconstructs(ys, rng):
    """A strictly-x-monotone path (all vertices distinct, interior
    degrees exactly 2) split into its segments, shuffled, randomly
    reversed, must merge back into exactly ONE chain with the original
    segment multiset."""
    pts = np.array([[i * 7, y] for i, y in enumerate(ys)], dtype=np.int64)
    parts = [pts[i:i + 2].copy() for i in range(len(pts) - 1)]
    for i, p in enumerate(parts):
        if rng.random() < 0.5:
            parts[i] = p[::-1].copy()
    rng.shuffle(parts)
    out = _merged(parts)
    assert len(out) == 1
    assert _segset(out) == _segset([pts])
    # maximal: endpoints of the chain are the path's endpoints
    ends = {tuple(out[0][0]), tuple(out[0][-1])}
    assert ends == {tuple(pts[0]), tuple(pts[-1])}


def test_spark_surface(spark):
    rows = []
    # tile (1,2,3) roads: chain of two + one polygon passthrough
    rows.append((1, 2, 3, "roads", 0, 11, 2,
                 [[{"x": 0, "y": 0}, {"x": 5, "y": 0}]]))
    rows.append((1, 2, 3, "roads", 1, None, 2,
                 [[{"x": 5, "y": 0}, {"x": 9, "y": 4}]]))
    rows.append((1, 2, 3, "roads", 2, 44, 3,
                 [[{"x": 0, "y": 0}, {"x": 4, "y": 0}, {"x": 4, "y": 4},
                   {"x": 0, "y": 0}]]))
    # other tile: same layer, must not merge across tiles
    rows.append((1, 2, 4, "roads", 0, 7, 2,
                 [[{"x": 9, "y": 4}, {"x": 12, "y": 4}]]))
    schema = ("z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, geom_type int, "
              "parts array<array<struct<x: long, y: long>>>")
    feats = spark.createDataFrame(rows, schema)
    out = SR.merge_lines(feats).toPandas()
    lines = out[out.geom_type == 2].sort_values(["z", "x", "y"])
    assert len(lines) == 2
    merged = lines.iloc[0]
    assert (merged.z, merged.x, merged.y) == (1, 2, 3)
    assert merged.feature_id == 11 and merged.feature_ordinal == 0
    assert [[(p["x"], p["y"]) for p in part] for part in merged.parts] == \
        [[(0, 0), (5, 0), (9, 4)]]
    # lone segment in the other tile unchanged
    assert lines.iloc[1].feature_id == 7
    # polygon passthrough untouched
    polys = out[out.geom_type == 3]
    assert len(polys) == 1 and polys.iloc[0].feature_id == 44


def test_spark_props_in_keys_block_cross_attribute_merge(spark):
    rows = [
        (1, 0, 0, "roads", 0, 1, 2,
         [[{"x": 0, "y": 0}, {"x": 5, "y": 0}]], "street"),
        (1, 0, 0, "roads", 1, 2, 2,
         [[{"x": 5, "y": 0}, {"x": 9, "y": 0}]], "path"),
        (1, 0, 0, "roads", 2, 3, 2,
         [[{"x": 9, "y": 0}, {"x": 14, "y": 0}]], "path"),
    ]
    schema = ("z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, geom_type int, "
              "parts array<array<struct<x: long, y: long>>>, cls string")
    feats = spark.createDataFrame(rows, schema)
    out = SR.merge_lines(
        feats, keys=("z", "x", "y", "layer_name", "cls")).toPandas()
    assert len(out) == 2
    by_cls = out.set_index("cls")
    assert len(by_cls.loc["street"]["parts"]) == 1
    path_parts = by_cls.loc["path"]["parts"]
    assert [[(p["x"], p["y"]) for p in part] for part in path_parts] == \
        [[(5, 0), (9, 0), (14, 0)]]


def test_merge_then_encode_fewer_bytes(spark):
    """Merging before the encode shrinks tile bytes and preserves the
    decoded segment multiset — the operator's production law."""
    from vtzero_spark.engine import assemble, geomops
    from vtzero_spark.mvt import tile as T
    from vtzero_spark.mvt.geometry import decode_geometry

    n = 40
    rows = [(0, 0, 0, "roads", i, i + 1, 2,
             [[{"x": 10 * i, "y": (7 * i * i) % 97},
               {"x": 10 * (i + 1), "y": (7 * (i + 1) * (i + 1)) % 97}]])
            for i in range(n)]
    schema = ("z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, geom_type int, "
              "parts array<array<struct<x: long, y: long>>>")
    feats = spark.createDataFrame(rows, schema)

    def tile_bytes(df):
        enc = assemble.encode_geom_tiles(geomops.cmds_from_parts(df))
        return bytes(enc.toPandas().iloc[0]["tile_bytes"])

    raw = tile_bytes(feats)
    merged = tile_bytes(SR.merge_lines(feats))
    assert len(merged) < len(raw)

    def segs(buf):
        out = []
        for ly in T.parse_tile(buf):
            for f in ly.features:
                parts_rt, _ = decode_geometry(f.geom_type, f.geometry)
                for part in parts_rt:
                    for a, b in zip(part[:-1], part[1:]):
                        s = (tuple(a), tuple(b))
                        out.append(s if s[0] <= s[1] else (s[1], s[0]))
        return sorted(out)

    assert segs(merged) == segs(raw)


def test_geojson_to_tiles_coalesce_option(spark):
    """tippecanoe --coalesce through the composed ingest: chained
    segments come out as ONE feature per tile, same segment multiset,
    smaller tile; default path unchanged."""
    import json

    from vtzero_spark.engine import geojson as GJ
    from vtzero_spark.mvt import tile as T
    from vtzero_spark.mvt.geometry import decode_geometry

    # a 6-segment staircase path inside the single z0 tile, pre-split
    pts = [(100 + 300 * i, (137 * i * i) % 2000) for i in range(7)]
    lines = [json.dumps({
        "type": "Feature", "id": i, "properties": {},
        "geometry": {"type": "LineString",
                     "coordinates": [list(pts[i]), list(pts[i + 1])]}})
        for i in range(6)]
    df = spark.createDataFrame([(l,) for l in lines], "geojson string")

    plain = GJ.geojson_to_tiles(df, zoom=0, extent=4096)
    merged = GJ.geojson_to_tiles(df, zoom=0, extent=4096,
                                 coalesce_lines=True)
    pb = bytes(plain.toPandas().iloc[0]["tile_bytes"])
    mb = bytes(merged.toPandas().iloc[0]["tile_bytes"])
    assert len(mb) < len(pb)

    def feats_segs(buf):
        nf, segs = 0, []
        for ly in T.parse_tile(buf):
            for f in ly.features:
                nf += 1
                parts, _ = decode_geometry(f.geom_type, f.geometry)
                for part in parts:
                    for a, b in zip(part[:-1], part[1:]):
                        s = (tuple(a), tuple(b))
                        segs.append(s if s[0] <= s[1] else (s[1], s[0]))
        return nf, sorted(segs)

    nf_p, segs_p = feats_segs(pb)
    nf_m, segs_m = feats_segs(mb)
    assert nf_p == 6 and nf_m == 1
    assert segs_p == segs_m


def test_accumulate_attributes(spark):
    """tippecanoe --accumulate-attribute: merged features carry
    sum/min/max/count of their inputs' columns."""
    import pytest

    rows = [
        (1, 0, 0, "roads", 0, 1, 2,
         [[{"x": 0, "y": 0}, {"x": 5, "y": 0}]], 10, 3),
        (1, 0, 0, "roads", 1, 2, 2,
         [[{"x": 5, "y": 0}, {"x": 9, "y": 0}]], 32, 7),
    ]
    schema = ("z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, geom_type int, "
              "parts array<array<struct<x: long, y: long>>>, "
              "weight long, rank long")
    feats = spark.createDataFrame(rows, schema)
    out = SR.merge_lines(
        feats, accumulate={"weight": "sum", "rank": "max"}).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["weight"] == 42 and out.iloc[0]["rank"] == 7

    with pytest.raises(ValueError):
        SR.merge_lines(feats, accumulate={"weight": "avg"})
    with pytest.raises(ValueError):
        SR.merge_lines(feats, accumulate={"nope": "sum"})
    with pytest.raises(ValueError):
        SR.merge_lines(feats, accumulate={"parts": "count"})


def test_merge_lines_cmds_matches_unfused(spark):
    """The r6 fused merge+cmds kernel must equal
    cmds_from_parts(merge_lines(X)) row for row — geometry ints
    included — on a mixed corpus (chains, a cycle, a polygon and a
    point passthrough, two layers)."""
    from vtzero_spark.engine.geomops import cmds_from_parts

    def ls(*pts):
        return [[{"x": int(a), "y": int(b)} for a, b in pts]]

    rows = [
        (1, 0, 0, "roads", 0, 1, 2, ls((0, 0), (5, 0))),
        (1, 0, 0, "roads", 1, 2, 2, ls((5, 0), (9, 4))),
        (1, 0, 0, "roads", 2, 3, 2, ls((20, 0), (25, 0))),
        # cycle
        (1, 0, 0, "loop", 3, 4, 2, ls((0, 0), (4, 0))),
        (1, 0, 0, "loop", 4, 5, 2, ls((4, 0), (4, 4))),
        (1, 0, 0, "loop", 5, 6, 2, ls((4, 4), (0, 0))),
        # polygon + point passthrough in the same tile group
        (1, 0, 0, "roads", 6, 7, 3,
         ls((0, 0), (10, 0), (10, 10), (0, 10), (0, 0))),
        (1, 0, 0, "roads", 7, 8, 1, ls((3, 3))),
        # second tile
        (1, 1, 0, "roads", 8, 9, 2, ls((1, 1), (2, 2))),
    ]
    schema = ("z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, geom_type int, "
              "parts array<array<struct<x: long, y: long>>>")
    feats = spark.createDataFrame(rows, schema)
    want = cmds_from_parts(SR.merge_lines(feats)).toPandas()
    got = LM.merge_lines_cmds(feats).toPandas()
    key = ["z", "x", "y", "layer_name", "feature_ordinal"]
    want = want.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)
    assert list(want.columns) == list(got.columns)
    for c in want.columns:
        if c == "geometry":
            assert all(list(a) == list(b)
                       for a, b in zip(want[c], got[c]))
        else:
            assert want[c].tolist() == got[c].tolist()


_COORD = st.one_of(st.integers(0, 6), st.integers(0, 6), st.none())
_POINT = st.one_of(
    st.fixed_dictionaries({"x": _COORD, "y": _COORD}),
    st.fixed_dictionaries({"x": st.integers(0, 6),
                           "y": st.integers(0, 6)}),
    st.none())
_PART = st.one_of(st.lists(_POINT, max_size=4), st.none())
_FEATURE = st.tuples(st.integers(0, 1),                  # tile x
                     st.sampled_from(["a", "b"]),        # layer
                     st.one_of(st.integers(1, 9), st.none()),  # id
                     st.integers(0, 5),                  # geom_type
                     st.one_of(st.lists(_PART, max_size=3), st.none()))


def _outcome(df):
    """Sorted result rows, or the Python exception class the worker
    raised (Spark wraps it; its traceback text names the class)."""
    import re

    try:
        rows = df.collect()
    except Exception as e:  # noqa: BLE001 — classified below
        names = re.findall(r"^(?:[\w.]+\.)?(\w+(?:Error|Exception)): ",
                           str(e), re.M)
        return ("raised", names[-1] if names else type(e).__name__)
    return ("rows", sorted(
        (r.z, r.x, r.y, r.layer_name, r.feature_ordinal, r.feature_id,
         r.geom_type, tuple(r.geometry or ())) for r in rows))


@settings(max_examples=20, deadline=None)
@given(feats=st.lists(_FEATURE, min_size=1, max_size=5))
def test_fused_and_unfused_agree_on_any_input(spark, feats):
    """merge_lines_cmds and cmds_from_parts(merge_lines(...)) give the
    same rows or raise the same exception class on ANY input: an
    out-of-domain geom_type (0, 4, 5) encodes as an empty geometry on
    both, and a null part, point or coordinate is a GeometryError on
    both."""
    from vtzero_spark.engine.geomops import cmds_from_parts

    rows = [(1, tx, 0, layer, i, fid, gt, parts)
            for i, (tx, layer, fid, gt, parts) in enumerate(feats)]
    schema = ("z long, x long, y long, layer_name string, "
              "feature_ordinal long, feature_id long, geom_type int, "
              "parts array<array<struct<x: long, y: long>>>")
    df = spark.createDataFrame(rows, schema)
    fused = _outcome(LM.merge_lines_cmds(df))
    unfused = _outcome(cmds_from_parts(SR.merge_lines(df)))
    assert fused == unfused
