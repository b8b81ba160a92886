"""Windows / intervals over events: merge, gaps, sessions, asof.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from chrono_scraper_spark.operators import intervals as IV
from chrono_scraper_spark.operators.asof import asof_join

from ._shared import _t


def _event_intervals(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("start"),
        (F.unix_timestamp("ts")
         + (F.col("value") * 10).cast("long") + 1).alias("end"))

_SQL_EVENT_INTERVALS = """
intervals AS (
  SELECT user_id,
    CAST(floor(epoch(ts)) AS BIGINT) AS start,
    CAST(floor(epoch(ts)) AS BIGINT)
      + CAST(floor(value * 10) AS BIGINT) + 1 AS "end"
  FROM events
)"""

def q_interval_merge(spark, sf_dir):
    return IV.merge_intervals(_event_intervals(spark, sf_dir), "user_id")

SQL_INTERVAL_MERGE = f"""WITH {_SQL_EVENT_INTERVALS},
marked AS (
  SELECT user_id, start, "end",
    CASE WHEN max("end") OVER (PARTITION BY user_id ORDER BY start, "end"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR start > max("end") OVER (PARTITION BY user_id ORDER BY start, "end"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      THEN 1 ELSE 0 END AS new_island
  FROM intervals
),
islands AS (
  SELECT user_id, start, "end",
    sum(new_island) OVER (PARTITION BY user_id ORDER BY start, "end"
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
)
SELECT user_id, min(start) AS start, max("end") AS "end"
FROM islands GROUP BY user_id, island"""

def q_gap_detect(spark, sf_dir):
    return IV.detect_gaps(_event_intervals(spark, sf_dir), "user_id",
                          min_gap=3600)

SQL_GAP_DETECT = f"""WITH {_SQL_EVENT_INTERVALS},
marked AS (
  SELECT user_id, start, "end",
    CASE WHEN max("end") OVER (PARTITION BY user_id ORDER BY start, "end"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR start > max("end") OVER (PARTITION BY user_id ORDER BY start, "end"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      THEN 1 ELSE 0 END AS new_island
  FROM intervals
),
islands AS (
  SELECT user_id, start, "end",
    sum(new_island) OVER (PARTITION BY user_id ORDER BY start, "end"
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
merged AS (
  SELECT user_id, min(start) AS start, max("end") AS "end"
  FROM islands GROUP BY user_id, island
)
SELECT user_id, "end" AS gap_start,
  lead(start) OVER (PARTITION BY user_id ORDER BY start) AS gap_end,
  CAST(lead(start) OVER (PARTITION BY user_id ORDER BY start) AS DOUBLE)
    - CAST("end" AS DOUBLE) AS gap_size
FROM merged
QUALIFY gap_end IS NOT NULL AND gap_size >= 3600"""

def q_sliding_window_count(spark, sf_dir):
    """P6 sliding-window rate limiter analog: events per user in the
    preceding hour (rate_limiter.py:89-175)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "epoch_s", F.unix_timestamp("ts"))
    w = (Window.partitionBy("user_id").orderBy("epoch_s")
         .rangeBetween(-3600, 0))
    return ev.select("event_id",
                     F.count(F.lit(1)).over(w).alias("n_in_window"))

SQL_SLIDING_WINDOW_COUNT = """
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
  FROM events
)
SELECT event_id,
  count(*) OVER (PARTITION BY user_id ORDER BY epoch_s
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    AS n_in_window
FROM e"""

def q_events_tumbling(spark, sf_dir):
    """T1 micro-batch analog: 1-hour tumbling-window rollup per event type
    (the Structured Streaming windowed agg run in batch mode)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(18,4)"))
                         .cast("double"), 4).alias("sum_value"))
            .select(F.col("w.start").cast("timestamp").alias("window_start"),
                    "event_type", "n", "sum_value"))

SQL_EVENTS_TUMBLING = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n,
  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2"""

def q_events_sessionize(spark, sf_dir):
    """T-family extension: gap-based sessionization via Spark's native
    ``session_window`` (30-min inactivity gap per user) — the same operator
    Structured Streaming uses for stateful session aggregation, run here in
    batch. Spark semantics (probed): events merge when the gap is ≤ 30 min;
    ``end`` = last event + gap. Oracle: classic lag/gap-islands CTE."""
    ev = _t(spark, sf_dir, "events")
    out = (ev.withColumn("ts", F.col("ts").cast("timestamp"))
           .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                    "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.min("event_id").alias("first_event_id"),
                F.max("event_id").alias("last_event_id")))
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events", "first_event_id", "last_event_id")

SQL_EVENTS_SESSIONIZE = """
WITH o AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, event_id,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
  min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  count(*) AS n_events,
  min(event_id) AS first_event_id,
  max(event_id) AS last_event_id
FROM s GROUP BY user_id, sid"""

def q_asof_join(spark, sf_dir):
    """J8 as-of join (operators/asof.py — union+window, one shuffle, no
    range explosion): each event joined to the latest at-or-before
    snapshot event of the same user (snapshots = event_id % 20 == 0,
    deduped per (user_id, ts) keeping max event_id). Oracle is DuckDB's
    NATIVE ASOF JOIN — a fully independent implementation."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts") \
        .orderBy(F.col("snap_event_id").desc())
    snaps = (ev.filter(F.col("event_id") % 20 == 0)
             .select("user_id", "ts",
                     F.col("event_id").alias("snap_event_id"),
                     F.col("value").alias("snap_value"))
             .withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1).drop("__rn"))
    left = ev.filter(F.col("event_id") % 20 != 0) \
        .select("event_id", "user_id", "ts")
    out = asof_join(left, snaps, on=["user_id"])
    return out.select(
        "event_id", "user_id",
        F.col("asof_snap_event_id").alias("snap_event_id"),
        F.col("asof_snap_value").alias("snap_value"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("asof_ts").cast("timestamp")))
        .alias("staleness_us"))

SQL_ASOF_JOIN = """
WITH snaps AS (
  SELECT user_id, ts, snap_event_id, snap_value FROM (
    SELECT user_id, ts, event_id AS snap_event_id, value AS snap_value,
      row_number() OVER (PARTITION BY user_id, ts
                         ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 20 = 0)
  WHERE rn = 1
),
l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 20 != 0)
SELECT l.event_id, l.user_id, s.snap_event_id, s.snap_value,
  epoch_us(l.ts) - epoch_us(s.ts) AS staleness_us
FROM l ASOF LEFT JOIN snaps s
  ON l.user_id = s.user_id AND l.ts >= s.ts"""
