"""Greedy label placement — the mapbox-gl collision pass as the
shared lex-first-MIS wavefront over box-overlap conflict pairs.

Laws pinned here:
- the distributed placement reproduces the SEQUENTIAL priority sweep
  exactly — every (placed, blocker) label — on LCG fuzz with mixed
  box sizes, including edge-contact collisions (closed interval) and
  one-unit separations (no collision);
- a stack of co-located labels places exactly the min-id one;
- the cascade chain (each label overlaps only its neighbor) places
  alternating labels — blocked labels do NOT block;
- the cell cull is complete for mixed box sizes (a giant box next to
  tiny ones still collides across cells);
- DuckDB oracle parity via the SAME shared wavefront CTE;
- no cartesian in the conflict-join plan.
"""

import duckdb
import pandas as pd
import pytest

from vtzero_spark.engine import drivertier
from vtzero_spark.engine import placement as pl


def serial_place(labels):
    """The sequential priority sweep: visit in id order, place unless
    a PLACED earlier box overlaps (closed interval)."""
    placed = []
    out = {}
    for pid, x, y, w, h in sorted(labels):
        blocker = None
        for qid, qx, qy, qw, qh in placed:
            if (abs(2 * x - 2 * qx) <= w + qw
                    and abs(2 * y - 2 * qy) <= h + qh):
                blocker = qid
                break
        if blocker is None:
            placed.append((pid, x, y, w, h))
            out[pid] = (True, pid)
        else:
            out[pid] = (False, blocker)
    return out


def _lab(df):
    return {r.pid: (r.placed, r.blocker) for r in df.collect()}


def _lcg_labels(n, span=3000, wmax=220, seed=9):
    rows = []
    x, m = seed, (1 << 31) - 1
    for i in range(1, n + 1):
        vals = []
        for _ in range(4):
            x = (x * 48271) % m
            vals.append(x)
        rows.append((i, vals[0] % span, vals[1] % span,
                     1 + vals[2] % wmax, 1 + vals[3] % wmax))
    return rows


def test_matches_serial_sweep_mixed_sizes(spark, monkeypatch):
    rows = _lcg_labels(350)
    df = spark.createDataFrame(rows, "pid long, px long, py long, w long, h long")
    ref = serial_place(rows)
    got = _lab(pl.place_labels(df))
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", 0)
    got0 = _lab(pl.place_labels(df))  # pure distributed
    assert got0 == got
    assert len(got) == len(rows)
    assert {p: pl_ for p, (pl_, _) in got.items()} \
        == {p: pl_ for p, (pl_, _) in ref.items()}
    # blockers agree where blocked (serial reports FIRST=min placed id
    # because placed accumulates in id order)
    assert got == ref


def test_edge_contact_collides_one_unit_gap_does_not(spark):
    # boxes of width 4 centered 4 apart touch edges -> collide;
    # 5 apart -> free.  (closed-interval law, exact integers)
    df = spark.createDataFrame(
        [(1, 0, 0, 4, 4), (2, 4, 0, 4, 4), (3, 9, 0, 4, 4)],
        "pid long, px long, py long, w long, h long")
    got = _lab(pl.place_labels(df))
    assert got == {1: (True, 1), 2: (False, 1), 3: (True, 3)}


def test_stack_places_min_id_only(spark, monkeypatch):
    df = spark.createDataFrame([(i, 50, 50, 10, 10) for i in range(1, 33)],
                               "pid long, px long, py long, w long, h long")
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", 0)
    got = _lab(pl.place_labels(df, max_rounds=2))
    assert got[1] == (True, 1)
    assert all(v == (False, 1) for p, v in got.items() if p > 1)


def test_cascade_blocked_labels_do_not_block(spark):
    # chain: label k overlaps only k-1 and k+1.  1 places, 2 blocked
    # by 1, 3 places (2 never blocks), 4 blocked by 3 ...
    n = 12
    df = spark.createDataFrame(
        [(k, 10 * k, 0, 11, 3) for k in range(1, n + 1)],
        "pid long, px long, py long, w long, h long")
    got = _lab(pl.place_labels(df))
    for k in range(1, n + 1):
        if k % 2:
            assert got[k] == (True, k)
        else:
            assert got[k] == (False, k - 1)


def test_giant_box_collides_across_cells(spark):
    # one huge box among tiny ones: the cell side tracks the MAX
    # extent, so the tiny far-away-in-tiny-cells labels still meet
    # the giant in the 3x3 probe
    rows = [(1, 500, 500, 900, 900)] + \
        [(i, 100 * (i - 1), 450, 8, 8) for i in range(2, 12)]
    df = spark.createDataFrame(rows, "pid long, px long, py long, w long, h long")
    got = _lab(pl.place_labels(df))
    assert got == serial_place(rows)
    # the giant placed; every tiny box inside its span is blocked by 1
    assert got[1] == (True, 1)
    blocked = [p for p, (ok, _) in got.items() if not ok]
    assert blocked and all(got[p][1] == 1 for p in blocked)


def test_empty_and_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "pid long, px long, py long, w long, h long")
    assert pl.place_labels(empty).count() == 0
    bad = spark.createDataFrame([(1, 0, 0, 0, 5)],
                                "pid long, px long, py long, w long, h long")
    with pytest.raises(ValueError, match="positive"):
        pl.place_labels(bad)


def test_duckdb_oracle_parity(spark):
    rows = _lcg_labels(200, span=1500, wmax=150, seed=3)
    df = spark.createDataFrame(rows, "pid long, px long, py long, w long, h long")
    sdf = pl.place_labels(df).toPandas()
    con = duckdb.connect()
    con.execute("CREATE TABLE lbl(pid BIGINT, px BIGINT, py BIGINT, "
                "w BIGINT, h BIGINT)")
    con.executemany("INSERT INTO lbl VALUES (?,?,?,?,?)", rows)
    q = ("WITH RECURSIVE labels AS (SELECT * FROM lbl),"
         + pl.place_labels_sql("labels"))
    odf = con.execute(q).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values("pid").reset_index(drop=True)
    b = odf[cols].sort_values("pid").reset_index(drop=True)
    assert len(a) == len(b) == len(rows)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_no_cartesian_plan(spark, monkeypatch):
    """The distributed tier (100 labels would take the driver tier)
    builds its collision pairs with a join that is neither cartesian
    nor nested-loop, and the placement plan has neither either."""
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", 0)
    built = []
    pairs_of = pl.collision_pairs
    monkeypatch.setattr(pl, "collision_pairs",
                        lambda lab: built.append(pairs_of(lab)) or built[-1])
    rows = _lcg_labels(100)
    df = spark.createDataFrame(rows, "pid long, px long, py long, w long, h long")
    out = pl.place_labels(df)
    assert len(built) == 1
    pairs_plan = built[0]._jdf.queryExecution().executedPlan().toString()
    for plan in (out._jdf.queryExecution().executedPlan().toString(),
                 pairs_plan):
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in pairs_plan


def test_full_range_priority_ids(spark, monkeypatch):
    """Ids near int64 max (the marker-job priority packing
    (capacity - mass) << 32 | id) must sweep correctly — a sentinel-
    based masked-min would misclassify them as absent."""
    base = (1 << 62) + (1 << 61)
    rows = [(base + i, 100 + 30 * i, 100, 50, 20) for i in range(6)]
    df = spark.createDataFrame(rows, "pid long, px long, py long, "
                               "w long, h long")
    got = {r["pid"]: (r["placed"], r["blocker"])
           for r in pl.place_labels(df).collect()}
    # overlapping neighbors alternate: 0 placed, 1 blocked by 0, ...
    assert got[base] == (True, base)
    assert got[base + 1] == (False, base)
    assert got[base + 2] == (True, base + 2)
    # the distributed tier agrees
    monkeypatch.setattr(drivertier, "SERIAL_ROWS", 0)
    got0 = {r["pid"]: (r["placed"], r["blocker"])
            for r in pl.place_labels(df).collect()}
    assert got == got0
