"""Sessionization over the events table (oracle-matched).

The reference has no event-time or state concept (SURVEY §2.10); this
is engine-side surface. Semantics: per user, events sorted by
(ts, event_id) split into sessions at gaps > ``gap_minutes``; a
session reports its event count, first/last timestamps (epoch seconds)
and value sum.

Two window functions (lag + running sum of gap flags) — pure Catalyst,
one shuffle on user_id."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: lag + cumulative gap-flag sum windows."""
    gap = gap_minutes * 60
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = events.withColumn("_prev", F.lag(F.unix_timestamp("ts")).over(w))
    e = e.withColumn(
        "_new",
        F.when(F.col("_prev").isNull()
               | (F.unix_timestamp("ts") - F.col("_prev") > gap), 1).otherwise(0))
    e = e.withColumn("session_id", F.sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
    return e.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_timestamp("ts")).alias("first_ts"),
        F.max(F.unix_timestamp("ts")).alias("last_ts"),
        F.sum("value").alias("value_sum"),
        # integer-exact mirror for the oracle hash (floor-to-cents)
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def sessionize_sql(gap_minutes: int = 30) -> str:
    gap = gap_minutes * 60
    return f"""
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value,
         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR tsec - prev > {gap} THEN 1 ELSE 0 END AS newf
  FROM e
),
g AS (
  SELECT *, SUM(newf) OVER (PARTITION BY user_id ORDER BY tsec, event_id
            ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM f
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       CAST(min(tsec) AS BIGINT) AS first_ts,
       CAST(max(tsec) AS BIGINT) AS last_ts,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM g GROUP BY user_id, session_id
"""
