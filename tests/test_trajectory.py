"""Trajectory track statistics + exact centroid: DuckDB parity, the
one-shuffle plan shape, the chunk-merge (hot-user mitigation) law, and
the DuckDB-parity pins for the two round-5 session-12 retired window
slots (roundtrip_counts, ngram_jaccard)."""

import re

import pandas as pd


from pyspark.sql import Window
from pyspark.sql import functions as F

from vtzero_spark.engine import synth, tiling, trajectory


def _duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _parity(spark, sf_dir, name):
    import __spark_entry__ as em

    sdf = em.queries()[name](spark, sf_dir).toPandas()
    odf = _duck(sf_dir).execute(em.oracle_sql()[name]).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_trajectory_matches_duckdb_oracle(spark, sf_dir):
    _parity(spark, sf_dir, "trajectory")


def test_centroid_matches_duckdb_oracle(spark, sf_dir):
    """Decoded shoelace centroid numerators == closed form of the
    planted donuts (outer 3wh(2*loc+edge) minus the hole's term)."""
    _parity(spark, sf_dir, "centroid")


def test_track_stats_single_exchange(spark, sf_dir):
    """The window's user_id exchange is REUSED by the final groupBy —
    exactly one hashpartitioning exchange in the executed plan."""
    ev = synth.load(spark, sf_dir, "events")
    df = trajectory.track_stats(trajectory.event_points(ev))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan


def test_track_stats_chunk_merge_law(spark, sf_dir):
    """The hot-user mitigation documented in trajectory.py: splitting a
    track into time chunks, running track_stats per chunk, and merging
    chunk results with the one stitching leg reproduces the whole-track
    stats exactly. This is what makes a pathological user's window
    task range-chunkable at 100 TB (every metric is a monoid plus one
    boundary leg)."""
    ev = synth.load(spark, sf_dir, "events")
    pts = trajectory.event_points(ev)
    whole = trajectory.track_stats(pts).toPandas() \
        .sort_values("user_id").reset_index(drop=True)

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    n = Window.partitionBy("user_id")
    chunked = pts.withColumn("_rn", F.row_number().over(w)) \
        .withColumn("_half", (F.col("_rn") > F.count("*").over(n) / 2)
                    .cast("int"))
    parts = trajectory.track_stats(
        chunked.withColumn("user_id",
                           F.col("user_id") * 2 + F.col("_half"))
    ).toPandas()
    parts["real_uid"] = parts["user_id"] // 2
    parts["half"] = parts["user_id"] % 2

    merged_rows = []
    for uid, grp in parts.groupby("real_uid"):
        grp = grp.sort_values("half").reset_index(drop=True)
        if len(grp) == 1:
            row = grp.iloc[0].to_dict()
            merged_rows.append({**row, "user_id": uid})
            continue
        a, b = grp.iloc[0], grp.iloc[1]
        # the stitching leg joins chunk 0's LAST point to chunk 1's
        # FIRST point; recover them from net displacement endpoints
        # by re-deriving: first/last are not in the output, so fetch
        # them directly from the chunked points
        merged_rows.append({"user_id": uid,
                            "n_points": a.n_points + b.n_points,
                            "min_x": min(a.min_x, b.min_x),
                            "max_x": max(a.max_x, b.max_x),
                            "min_y": min(a.min_y, b.min_y),
                            "max_y": max(a.max_y, b.max_y),
                            "first_ts": min(a.first_ts, b.first_ts),
                            "last_ts": max(a.last_ts, b.last_ts)})
    merged = pd.DataFrame(merged_rows).sort_values("user_id") \
        .reset_index(drop=True)

    # endpoint columns for the stitch leg, straight from the points
    endpoints = chunked.groupBy("user_id", "_half").agg(
        F.min(F.struct("ts", "event_id", "wx", "wy")).alias("f"),
        F.max(F.struct("ts", "event_id", "wx", "wy")).alias("l"),
    ).toPandas()
    ep = {(int(r["user_id"]), int(r["_half"])):
          (r["f"], r["l"]) for _, r in endpoints.iterrows()}

    for i, row in merged.iterrows():
        uid = int(row.user_id)
        sub = parts[parts.real_uid == uid].sort_values("half")
        if len(sub) == 1:
            continue
        a, b = sub.iloc[0], sub.iloc[1]
        la = ep[(uid, 0)][1]          # chunk 0 last point
        fb = ep[(uid, 1)][0]          # chunk 1 first point
        dx, dy = fb["wx"] - la["wx"], fb["wy"] - la["wy"]
        stitch_l1 = abs(dx) + abs(dy)
        stitch_d2 = dx * dx + dy * dy
        merged.loc[i, "path_l1"] = a.path_l1 + b.path_l1 + stitch_l1
        merged.loc[i, "path_d2"] = a.path_d2 + b.path_d2 + stitch_d2
        merged.loc[i, "max_leg_d2"] = max(a.max_leg_d2, b.max_leg_d2,
                                          stitch_d2)
        fa = ep[(uid, 0)][0]          # whole-track first point
        lb = ep[(uid, 1)][1]          # whole-track last point
        ndx, ndy = lb["wx"] - fa["wx"], lb["wy"] - fa["wy"]
        merged.loc[i, "net_d2"] = ndx * ndx + ndy * ndy

    cols = ["user_id", "n_points", "path_l1", "path_d2", "max_leg_d2",
            "min_x", "max_x", "min_y", "max_y", "first_ts", "last_ts",
            "net_d2"]
    multi = merged[merged.n_points > 1]
    pd.testing.assert_frame_equal(
        whole[whole.user_id.isin(multi.user_id)][cols]
        .reset_index(drop=True),
        multi[cols].reset_index(drop=True), check_dtype=False)


def test_track_tiles_in_tile_exactness(spark):
    """A track planted fully inside one tile decodes back to exactly
    its vertex sequence (order, count, coordinate sums), with
    feature_id == user_id."""
    import datetime as dt

    from vtzero_spark.engine import geomops

    base = dt.datetime(2024, 1, 1)
    rows = [(7, i, base + dt.timedelta(minutes=i), 100 + 37 * i,
             200 + 11 * i) for i in range(6)]
    pts = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, wx long, wy long")
    from vtzero_spark.engine import geojson as gj
    tiles = gj.world_features_to_tiles(trajectory.tracks(pts),
                                       zoom=4, extent=4096)
    stats = geomops.tile_geometry_stats(tiles).toPandas()
    assert (stats["decode_status"] == "ok").all()
    assert len(stats) == 1
    r = stats.iloc[0]
    assert r["feature_id"] == 7 and r["geom_type"] == 2
    assert r["n_parts"] == 1 and r["n_points"] == 6
    assert r["sum_x"] == sum(100 + 37 * i for i in range(6))
    assert r["sum_y"] == sum(200 + 11 * i for i in range(6))


def test_track_tiles_world_run(spark, sf_dir):
    """track_tiles over the events corpus: every tile decodes clean,
    every multi-point user's track shows up, single-point users drop,
    and each feature's tile really is the tile its decoded points sit
    in (clip at buffer=0 keeps tile-local coords in [0, extent])."""
    from vtzero_spark.engine import geomops

    ev = synth.load(spark, sf_dir, "events")
    tiles = trajectory.track_tiles(ev)
    stats = geomops.tile_geometry_stats(tiles).toPandas()
    assert (stats["decode_status"] == "ok").all()
    assert (stats["geom_type"] == 2).all()
    got_users = set(stats["feature_id"].astype(int))
    counts = trajectory.event_points(ev).groupBy("user_id").count() \
        .toPandas()
    want_users = set(counts[counts["count"] >= 2]["user_id"].astype(int))
    assert got_users == want_users


def test_track_stops_matches_duckdb(spark, sf_dir):
    """Stay-point detection parity: identical run-split windows in
    both engines, exact integers throughout."""
    r2, dur = 1_500_000, 600
    pts = trajectory.event_points(synth.load(spark, sf_dir, "events"))
    sdf = trajectory.track_stops(pts, r2=r2, min_duration_s=dur) \
        .toPandas()
    pre = trajectory.event_points_sql("events")
    odf = _duck(sf_dir).execute(
        f"WITH pts AS ({pre}) "
        + trajectory.track_stops_sql("pts", r2=r2, min_duration_s=dur)
    ).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_track_stops_planted(spark):
    """A planted dwell: 4 tight points over 40 min between two far
    jumps -> exactly one stop with those 4 points; shortening the
    duration floor below the dwell keeps it, raising it kills it."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 0, base, 0, 0),                                  # far start
        (1, 1, base + dt.timedelta(minutes=60), 5000, 5000),   # jump
        (1, 2, base + dt.timedelta(minutes=75), 5003, 5004),   # dwell
        (1, 3, base + dt.timedelta(minutes=90), 5001, 5002),
        (1, 4, base + dt.timedelta(minutes=100), 5004, 5000),
        (1, 5, base + dt.timedelta(minutes=160), 9000, 100),   # jump
    ]
    pts = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, wx long, wy long")
    got = trajectory.track_stops(pts, r2=100, min_duration_s=1500) \
        .toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert r["n_points"] == 4 and r["last_ts"] - r["first_ts"] == 2400
    assert r["sum_x"] == 5000 + 5003 + 5001 + 5004
    assert r["sum_y"] == 5000 + 5004 + 5002 + 5000
    none = trajectory.track_stops(pts, r2=100, min_duration_s=3000)
    assert none.count() == 0


def test_tile_flows_matches_duckdb(spark, sf_dir):
    """OD flow matrix parity: identical lag-window + boundary-crossing
    filter + distinct-user counts in both engines."""
    pts = trajectory.event_points(synth.load(spark, sf_dir, "events"))
    sdf = trajectory.tile_flows(pts).toPandas()
    pre = trajectory.event_points_sql("events")
    odf = _duck(sf_dir).execute(
        f"WITH pts AS ({pre}) "
        + trajectory.tile_flows_sql("pts", zoom=synth.ZOOM,
                                    world=synth.WORLD)
    ).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_tile_flows_planted(spark):
    """Two users shuttling between two known tiles: flows count each
    crossing leg directionally; the within-tile leg never counts."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # tile width at zoom 4 over the 65536 world = 4096
    rows = [
        (1, 0, base, 100, 100),                              # tile (0,0)
        (1, 1, base + dt.timedelta(minutes=1), 5000, 100),   # -> (1,0)
        (1, 2, base + dt.timedelta(minutes=2), 5100, 200),   # stay (1,0)
        (1, 3, base + dt.timedelta(minutes=3), 100, 100),    # -> (0,0)
        (2, 0, base, 200, 300),                              # (0,0)
        (2, 1, base + dt.timedelta(minutes=1), 5000, 4200),  # -> (1,1)
    ]
    pts = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, wx long, wy long")
    got = trajectory.tile_flows(pts).toPandas() \
        .sort_values(["fx", "fy", "tx", "ty"]).reset_index(drop=True)
    want = pd.DataFrame([
        {"z": 4, "fx": 0, "fy": 0, "tx": 1, "ty": 0,
         "n_legs": 1, "n_users": 1},
        {"z": 4, "fx": 0, "fy": 0, "tx": 1, "ty": 1,
         "n_legs": 1, "n_users": 1},
        {"z": 4, "fx": 1, "fy": 0, "tx": 0, "ty": 0,
         "n_legs": 1, "n_users": 1},
    ])
    pd.testing.assert_frame_equal(got[want.columns], want,
                                  check_dtype=False)


def test_roundtrip_counts_oracle_pin(spark, sf_dir):
    """roundtrip_counts left the 50-entry window in round-5 session 12
    (the decoded coordinate-sum law is pinned by donut_roundtrip /
    centroid through the same stats machinery); this keeps the
    standalone point-decode query DuckDB-parity-tested."""
    import __spark_entry__ as em

    sdf = em.q_roundtrip_counts(spark, sf_dir).toPandas()
    images = synth.images_sql("images")
    assigned = tiling.assign_tiles_sql("images", em.ZOOM, em.EXTENT,
                                       em.BUFFER)
    odf = _duck(sf_dir).execute(f"""
WITH {images}, assigned AS ({assigned})
SELECT z, x, y, layer_name, count(*) AS n_features,
       CAST(sum(loc_x) AS BIGINT) AS sum_x,
       CAST(sum(loc_y) AS BIGINT) AS sum_y
FROM assigned GROUP BY z, x, y, layer_name
""").df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_ngram_jaccard_oracle_pin(spark, sf_dir):
    """ngram_jaccard left the window in round-5 session 12 (it stays
    the MinHash recall baseline in test_scale_sketches.py and keeps
    its HEADLINE timing via bench.BENCH_ONLY); this keeps the
    standalone query DuckDB-parity-tested."""
    import __spark_entry__ as em
    from vtzero_spark.engine import textops

    sdf = em.q_ngram_jaccard(spark, sf_dir).toPandas()
    odf = _duck(sf_dir).execute(textops.ngram_jaccard_adjacent_sql()).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
