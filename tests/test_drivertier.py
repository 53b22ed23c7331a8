"""engine/drivertier.py: the bounded collect's contract, the overlap
helper's failure semantics, and a source scan that keeps every other
engine module on these two primitives."""

from __future__ import annotations

import re
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from vtzero_spark.engine import drivertier

ENGINE = Path(drivertier.__file__).parent


# --------------------------------------------------- collect_within

def test_exactly_cap_rows_returns_frame(spark):
    got = drivertier.collect_within(spark.range(7), 7)
    assert got is not None
    assert sorted(got["id"].tolist()) == list(range(7))


def test_cap_plus_one_rows_goes_distributed(spark):
    assert drivertier.collect_within(spark.range(8), 7) is None


def test_empty_input_returns_empty_frame(spark):
    got = drivertier.collect_within(spark.range(0), 7)
    assert got is not None
    assert len(got) == 0 and list(got.columns) == ["id"]


def test_zero_cap_on_rows_goes_distributed(spark):
    assert drivertier.collect_within(spark.range(1), 0) is None


# ----------------------------------------------------------- beside

def test_beside_returns_both_results(spark):
    assert drivertier.beside(spark.range(5).count,
                             spark.range(3).count) == (5, 3)


def test_beside_reraises_side_failure(spark):
    def side():
        raise KeyError("side failed")

    with pytest.raises(KeyError, match="side failed"):
        drivertier.beside(spark.range(5).count, side)


def test_beside_main_failure_cancels_side_at_once(spark):
    """A main failure surfaces at once, not after the side action's
    60 s UDF sleep, and the side's job is cancelled."""
    tracker = spark.sparkContext.statusTracker()

    @F.udf("long")
    def slow(x):
        import time

        time.sleep(60)
        return x

    raised = []

    def main():
        deadline = time.monotonic() + 60
        while not tracker.getActiveJobsIds():  # the side job started
            assert time.monotonic() < deadline, "side job never started"
            time.sleep(0.05)
        raised.append(time.monotonic())
        raise RuntimeError("main failed")

    side = spark.range(1, numPartitions=1).select(slow("id")).collect
    with pytest.raises(RuntimeError, match="main failed"):
        drivertier.beside(main, side)
    assert time.monotonic() - raised[0] < 5
    deadline = time.monotonic() + 10
    while tracker.getActiveJobsIds():
        assert time.monotonic() < deadline, "side job still active"
        time.sleep(0.1)


# ------------------------------------------------------ source scan

_CAPPED_COLLECT = re.compile(r"\.limit\((?:[^()]|\([^()]*\))*\+\s*1\s*\)")
_THREAD_POOL = re.compile(
    r"^\s*(?:from|import)\s+concurrent\.futures\b|ThreadPoolExecutor",
    re.M)


def test_engine_switches_use_the_driver_tier_primitives():
    """Every "collect cap + 1 rows, else go distributed" switch goes
    through drivertier.collect_within, and every overlapped action
    through drivertier.beside: no other engine module hand-rolls a
    capped collect or a thread pool."""
    offenders = [
        str(p.relative_to(ENGINE)) for p in sorted(ENGINE.rglob("*.py"))
        if p.name != "drivertier.py"
        and (_CAPPED_COLLECT.search(p.read_text())
             or _THREAD_POOL.search(p.read_text()))]
    assert offenders == []
    # the patterns do find the forms they forbid
    assert _CAPPED_COLLECT.search("df.limit(len(x) +\n 1).toPandas()")
    assert _THREAD_POOL.search("    from concurrent.futures import x")
