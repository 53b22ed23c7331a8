"""knn_join against a numpy brute force with the same total order,
(dist_sq, point_id), on both ring tiers: broadcast rings (a query set
up to knn.BCAST_QUERIES) and co-partitioned points with shuffled
rings (forced here by setting BCAST_QUERIES to 0)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from vtzero_spark.engine import knn

_PTS = "image_id long, wx long, wy long"
_QS = "qid long, qx long, qy long"


def _brute(pts, qs, k):
    """Each query's first k points by (dist_sq, point_id)."""
    ids = np.array([p[0] for p in pts], dtype=np.int64)
    xy = np.array([p[1:] for p in pts], dtype=np.int64).reshape(-1, 2)
    rows = []
    for qid, qx, qy in qs:
        d = (xy[:, 0] - qx) ** 2 + (xy[:, 1] - qy) ** 2
        for rank, i in enumerate(np.lexsort((ids, d))[:k], 1):
            rows.append((qid, int(ids[i]), int(d[i]), rank))
    return sorted(rows)


def _knn(spark, pts, qs, **kw):
    out = knn.knn_join(spark, spark.createDataFrame(pts, _PTS),
                       spark.createDataFrame(qs, _QS), **kw)
    return sorted(map(tuple, out.collect()))


@pytest.fixture(params=["broadcast", "shuffle"])
def tier(request, monkeypatch):
    if request.param == "shuffle":
        monkeypatch.setattr(knn, "BCAST_QUERIES", 0)
    return request.param


@st.composite
def _cases(draw):
    """Points drawn partly from a few shared spots (duplicate points,
    distance ties at rank k), coordinates biased to the world's edges,
    and sometimes fewer points than k (then a world bound ends the
    loop and every query gets all points)."""
    cell = draw(st.sampled_from([4, 8]))
    world = cell * draw(st.integers(1, 5))
    coord = st.sampled_from([0, world - 1]) | st.integers(0, world - 1)
    spot = st.tuples(coord, coord)
    spots = draw(st.lists(spot, min_size=1, max_size=4))
    xy = draw(st.lists(st.sampled_from(spots) | spot, min_size=1, max_size=24))
    qs = draw(st.lists(spot, min_size=1, max_size=4))
    k = draw(st.integers(1, 6))
    bounded = k > len(xy) or draw(st.booleans())
    return dict(
        pts=[(100 + 7 * i, x, y) for i, (x, y) in enumerate(xy)],
        qs=[(qid, x, y) for qid, (x, y) in enumerate(qs)],
        k=k, cell=cell, world=world if bounded else None,
        start_radius=draw(st.none() | st.integers(1, 3)))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(case=_cases())
@example(case=dict(  # four equidistant points tie at rank k=2
    pts=[(4, 2, 0), (3, 0, 2), (2, 4, 2), (1, 2, 4), (5, 2, 2)],
    qs=[(0, 2, 2), (1, 0, 0)], k=2, cell=4, world=8, start_radius=1))
@example(case=dict(  # fewer points than k, queries in the world's corners
    pts=[(1, 0, 0), (2, 15, 15), (3, 15, 15)],
    qs=[(0, 0, 0), (1, 15, 15), (2, 0, 15)], k=5, cell=4, world=16,
    start_radius=None))
def test_knn_matches_brute_force(spark, tier, case):
    want = _brute(case["pts"], case["qs"], case["k"])
    got = _knn(spark, case["pts"], case["qs"], k=case["k"], cell=case["cell"],
               world=case["world"], start_radius=case["start_radius"])
    assert got == want


def test_knn_sparse_runs_many_rounds(spark, tier):
    """start_radius=1 on sparse points: the answers lie many rings out,
    so several rounds carry a top k forward before every query ends."""
    pts = [(1, 50, 10), (2, 60, 60), (3, 63, 0), (4, 10, 50), (5, 62, 63)]
    qs = [(0, 0, 0), (1, 63, 63), (2, 30, 33)]
    got = _knn(spark, pts, qs, k=2, cell=4, world=64, start_radius=1)
    assert knn.knn_join.last_rounds >= 3
    assert got == _brute(pts, qs, 2)


def test_knn_result_needs_no_shuffle(spark):
    """The returned frame is the last round's checkpointed top k: the
    caller's action reads it without a re-rank or any Exchange."""
    pts = spark.createDataFrame([(i, 3 * i, 5 * i % 40) for i in range(40)], _PTS)
    qs = spark.createDataFrame([(0, 1, 1), (1, 30, 20)], _QS)
    out = knn.knn_join(spark, pts, qs, k=3, cell=8, world=128)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert out.count() == 6
