"""Regression tests for round-1 advisor findings (ADVICE.md r01):

1. geometry_stats must not crash on null feature_id (feature id is
   optional in the MVT spec / vtzero feature.hpp has_id()) — the
   vectorized fast path used to astype(int64) and TypeError on NaN.
2. The batch tile encoder (assemble._encode_chunk) must not
   IndexError when the trailing feature(s) of a layer carry empty
   geometry (an old reduceat offset == len).
3. sessionize splits sessions on a gap strictly greater than the
   limit, measured on whole seconds, as its DuckDB oracle does.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

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


def test_sessionize_gap_boundary(spark):
    """An event exactly gap seconds after the previous one stays in the
    session (split on strictly >), and fractional sub-second
    timestamps compare by their floored seconds; the DuckDB oracle
    (sessionize_sql) returns the same rows."""
    import duckdb

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
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value"])
    a = sessions.sessionize(spark.createDataFrame(pdf)) \
        .orderBy("user_id", "session_id").toPandas()
    con = duckdb.connect()
    con.register("events", pdf)
    b = con.execute(sessions.sessionize_sql()).df() \
        .sort_values(["user_id", "session_id"]).reset_index(drop=True)
    cols = ["user_id", "session_id", "n_events", "first_ts", "last_ts",
            "value_cents"]
    pd.testing.assert_frame_equal(a[cols], b[cols], check_dtype=False)
    u1 = a[a.user_id == 1]
    assert u1["n_events"].tolist() == [2, 1]
    u2 = a[a.user_id == 2]
    assert u2["n_events"].tolist() == [1, 1]
