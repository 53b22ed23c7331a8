"""Regression tests for round-1 advisor findings (ADVICE.md r01):

1. geometry_stats must not crash on null feature_id (feature id is
   optional in the MVT spec / vtzero feature.hpp has_id()) — the
   vectorized fast path used to astype(int64) and TypeError on NaN.
2. sessionize_stream must sort a user's events ACROSS Arrow chunks,
   not per-chunk, or sessions split wrongly when a user spans batches.
3. The batch tile encoder (assemble._encode_chunk) must not
   IndexError when the trailing feature(s) of a layer carry empty
   geometry (an old reduceat offset == len).
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from vtzero_spark.engine import assemble, geomops
from vtzero_spark.mvt import geometry as G


def test_geometry_stats_null_feature_id(spark):
    # >=4 identically-shaped point features with NO id: previously the
    # uniform-batch fast path crashed the task with TypeError
    rows = []
    for i in range(6):
        cmds = G.encode_point(np.array([[10 + i, 20 + i]])).tolist()
        rows.append((0, 0, 0, "noid", None, int(G.GEOM_POINT), cmds))
    feats = spark.createDataFrame(
        rows, "z long, x long, y long, layer_name string, "
              "feature_id long, geom_type int, geometry array<long>")
    out = geomops.geometry_stats(feats).toPandas()
    assert len(out) == 6
    assert (out["decode_status"] == "ok").all()
    assert out["feature_id"].isna().all()
    assert (out["n_points"] == 1).all()
    # mixed null/non-null ids in one uniform batch also survives
    rows2 = rows + [(0, 0, 0, "noid", 99, int(G.GEOM_POINT),
                     G.encode_point(np.array([[1, 2]])).tolist())]
    feats2 = spark.createDataFrame(
        rows2, feats.schema)
    out2 = geomops.geometry_stats(feats2).toPandas()
    assert len(out2) == 7
    assert out2["feature_id"].notna().sum() == 1


def test_sessionize_stream_sorts_across_chunks(spark, tmp_path):
    """One user, events interleaved between two far-apart time clusters
    in FILE order, forced through tiny Arrow batches: only a global
    (concat-then-sort) pass yields the correct 2-session split."""
    from vtzero_spark.engine import sessions

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    eid = 0
    # interleave: cluster A at +0..+19 min, cluster B at +600..+619 min
    for i in range(20):
        rows.append((1, eid, base + datetime.timedelta(minutes=i), 1.0))
        eid += 1
        rows.append((1, eid, base + datetime.timedelta(minutes=600 + i), 1.0))
        eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value"])
    events = spark.createDataFrame(pdf)
    src = str(tmp_path / "ev_in")
    events.coalesce(1).write.parquet(src)

    batch = sessions.sessionize(spark.read.parquet(src)).toPandas()
    assert len(batch) == 2  # two clusters -> two sessions

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        sdf = spark.readStream.schema(
            spark.read.parquet(src).schema).parquet(src)
        q = (sessions.sessionize_stream(sdf)
             .writeStream.format("memory").queryName("regr_sessions")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            got = spark.table("regr_sessions").toPandas()
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    # exactly the closed (first) session, with all 20 cluster-A events
    assert len(got) == 1
    assert int(got["n_events"].iloc[0]) == 20
    want = batch[batch["session_id"] == 0].iloc[0]
    assert int(got["first_ts"].iloc[0]) == int(want["first_ts"])
    assert int(got["last_ts"].iloc[0]) == int(want["last_ts"])


def test_sessionize_native_gap_boundary(spark):
    """Pin the session_window boundary semantics against the analytic
    form: an event exactly gap seconds after the previous one stays in
    the session (split on strictly >), including with fractional
    sub-second timestamps."""
    from vtzero_spark.engine import sessions

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (1, 0, base, 1.0),
        (1, 1, base + datetime.timedelta(seconds=1800), 1.0),   # same
        (1, 2, base + datetime.timedelta(seconds=3601), 1.0),   # new
        # fractional: tsec diff is 1801 (split) though raw diff < 1801
        (2, 3, base + datetime.timedelta(seconds=0, milliseconds=900), 1.0),
        (2, 4, base + datetime.timedelta(seconds=1801, milliseconds=100), 1.0),
    ]
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value"]))
    a = sessions.sessionize(ev).orderBy("user_id", "session_id").toPandas()
    b = sessions.sessionize_native(ev).orderBy("user_id", "session_id").toPandas()
    assert a[["user_id", "session_id", "n_events", "first_ts", "last_ts"]] \
        .equals(b[["user_id", "session_id", "n_events", "first_ts", "last_ts"]])
    u1 = a[a.user_id == 1]
    assert u1["n_events"].tolist() == [2, 1]
    u2 = a[a.user_id == 2]
    assert u2["n_events"].tolist() == [1, 1]


def test_geomstream_trailing_empty_geometry():
    # feature 0: real point; features 1+2: empty command streams at the
    # END of the layer -> offsets == len(geometry values); previously
    # IndexError, now encodes with a zero-length geometry field
    import pyarrow as pa

    g0 = G.encode_point(np.array([[5, 7]])).astype(np.int64)

    def layer(geoms):
        n = len(geoms)
        tbl = pa.table({
            "z": [0] * n, "x": [0] * n, "y": [0] * n, "layer_name": ["t"] * n,
            "feature_ordinal": list(range(n)), "feature_id": [1, 2, 3][:n],
            "geom_type": pa.array([G.GEOM_POINT] * n, pa.int32()),
            "geometry": pa.array(geoms, pa.list_(pa.int64())),
        })
        [row] = assemble._encode_chunk(tbl, None, per_layer=True).to_pylist()
        return row["layer_bytes"], row["num_features"]

    lb, nf = layer([g0.tolist(), [], []])
    assert nf == 3 and isinstance(lb, (bytes, bytearray))
    # the non-empty feature's bytes are intact; the empty ones carry a
    # zero-length geometry field, which a strict reader rejects exactly
    # like the reference does (missing geometry, spec 4.2) — error
    # semantics live in the DATA, not in a task crash
    import pytest
    from vtzero_spark.mvt import tile as T
    from vtzero_spark.mvt.errors import FormatError
    views = [v for f, w, v in T.scan_fields(bytes(lb))
             if f == T.LAYER_FEATURES]
    assert len(views) == 3
    f0 = T.parse_feature(views[0])
    assert f0.id == 1 and list(f0.geometry) == list(g0)
    with pytest.raises(FormatError):
        T.parse_feature(views[1])
    # all-empty layer also survives (geometry values fully empty)
    lb2, nf2 = layer([[]])
    assert nf2 == 1
