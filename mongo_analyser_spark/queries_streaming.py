"""Batch twins of the streaming operators (SURVEY §2.9 [EXT]) registered
against the DuckDB oracle. Each callable uses the SAME windowing builder
the Structured Streaming path uses (streaming/windows.py) — F.window /
F.session_window evaluate identically in batch mode, so a hash-match here
certifies the streaming query's event-time semantics too (the streaming
tests then assert stream output == batch output on the same files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_analyser_spark.queries import DUCK_TS_FMT, register
from mongo_analyser_spark.sources.parquet import load_table
from mongo_analyser_spark.streaming.windows import (
    dedup_first_per_key,
    session_stats,
    sliding_counts,
    tumbling_counts,
    with_late_data_policy,
)

WIN_DUCK_FMT = "%Y-%m-%d %H:%M:%S"


@register(
    "tumbling_hourly_events",
    f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{WIN_DUCK_FMT}') AS window_start,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '{WIN_DUCK_FMT}') AS window_end,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1
""",
)
def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows: count + value sum."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev, "ts", "1 hour", value_col="value")


@register(
    "sliding_window_events",
    f"""
SELECT strftime(w.ws, '{WIN_DUCK_FMT}') AS window_start,
       strftime(w.ws + INTERVAL '1 hour', '{WIN_DUCK_FMT}') AS window_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM events e, LATERAL (
  SELECT unnest(generate_series(
    time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL '30 minutes',
    time_bucket(INTERVAL '30 minutes', e.ts),
    INTERVAL '30 minutes')) AS ws
) w
GROUP BY 1, 2 ORDER BY 1
""",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes (each event in 2 windows).
    The oracle expands each event into its containing windows with a
    LATERAL generate_series — exactly what Spark's window expansion does."""
    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev, "ts", "1 hour", "30 minutes")


@register(
    "session_window_users",
    f"""
WITH marks AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) <= INTERVAL '30 minutes'
         THEN 0 ELSE 1 END AS new_s
  FROM events
), grp AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id,
       strftime(MIN(ts), '{DUCK_TS_FMT}') AS session_start,
       strftime(MAX(ts) + INTERVAL '30 minutes', '{DUCK_TS_FMT}') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM grp GROUP BY user_id, sid ORDER BY user_id, session_start
""",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap. The
    oracle is the classic gaps-and-islands rewrite; Spark uses the native
    merging-session aggregate — both define a session as
    [first_ts, last_ts + gap)."""
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, "ts", "30 minutes", ["user_id"])


@register(
    "late_data_drop_events",
    f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       strftime(MIN(ts), '{DUCK_TS_FMT}') AS min_ts,
       strftime(MAX(ts), '{DUCK_TS_FMT}') AS max_ts
FROM events
WHERE ts >= (SELECT MAX(ts) - INTERVAL '1 day' FROM events)
GROUP BY event_type ORDER BY event_type
""",
)
def q_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data policy, batch twin: rows older than
    (high-water mark - 1 day) are dropped — what a stream with
    withWatermark(ts, '1 day') guarantees to have ingested."""
    from mongo_analyser_spark.streaming.windows import TS_FMT

    ev = load_table(spark, sf_dir, "events")
    kept = with_late_data_policy(ev, "ts", "1 day")
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.date_format(F.min("ts"), TS_FMT).alias("min_ts"),
            F.date_format(F.max("ts"), TS_FMT).alias("max_ts"),
        )
    )


@register(
    "user_totals_events",
    f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS total_value,
       strftime(MAX(ts), '{DUCK_TS_FMT}') AS last_ts
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def q_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState per-user profile operator
    (streaming/stateful.py) — what the stream converges to."""
    from mongo_analyser_spark.streaming.stateful import user_totals_batch
    from mongo_analyser_spark.streaming.windows import TS_FMT

    ev = load_table(spark, sf_dir, "events")
    return (
        user_totals_batch(ev)
        .select(
            "user_id",
            "n_events",
            "total_value",
            F.date_format("last_ts", TS_FMT).alias("last_ts"),
        )
    )


@register(
    "dedup_first_event_per_user_type",
    f"""
SELECT user_id, event_type, event_id, strftime(ts, '{DUCK_TS_FMT}') AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id, event_type
""",
)
def q_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup twin of dropDuplicatesWithinWatermark: first
    event per (user, type) under a total order."""
    from mongo_analyser_spark.streaming.windows import TS_FMT

    ev = load_table(spark, sf_dir, "events")
    return (
        dedup_first_per_key(ev, ["user_id", "event_type"], ["ts", "event_id"])
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", TS_FMT).alias("first_ts"),
        )
    )


@register(
    "interval_join_events",
    f"""
SELECT a.user_id,
  a.event_id AS click_id, b.event_id AS purchase_id,
  strftime(a.ts, '{DUCK_TS_FMT}') AS click_ts,
  strftime(b.ts, '{DUCK_TS_FMT}') AS purchase_ts,
  CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS lag_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
ORDER BY click_id, purchase_id
""",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin: every purchase by the
    same user within 6 hours of a click (the classic attribution
    query). Same builder as the streaming path
    (streaming/joins.interval_join); the lag is exact integer
    microseconds so the hash never touches float time arithmetic. The
    equi-conjunct on user_id anchors a hash join; the interval bound is
    a post-filter in batch and the state-eviction horizon in
    streaming."""
    from mongo_analyser_spark.streaming.joins import interval_join
    from mongo_analyser_spark.streaming.windows import TS_FMT

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    joined = interval_join(clicks, purchases, ["user_id"], upper="6 hours")
    return joined.select(
        F.col("l_user_id").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.date_format("l_ts", TS_FMT).alias("click_ts"),
        F.date_format("r_ts", TS_FMT).alias("purchase_ts"),
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("lag_us"),
    )


# re-run tail curation so the registry order is import-order-robust (this
# module may be the first package import; see queries.curate_tail)
from mongo_analyser_spark.queries import curate_tail as _curate_tail  # noqa: E402

_curate_tail()
