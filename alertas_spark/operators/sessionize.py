"""Event-stream batch operators: tumbling-window aggregation and sessionization.

The reference is batch-only (SURVEY §2.9); these operators give the rebuild the
time-series surface its ``events`` table implies.  The same semantics run under
Structured Streaming in :mod:`alertas_spark.streaming.events` (watermark + window);
batch and streaming results are asserted equal in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alertas_spark.functions.numeric import dsum, sql_dsum
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

SESSION_GAP_S = 1800  # 30 min inactivity closes a session
WINDOW = "5 minutes"


@declare(
    "events_tumbling_5min",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S')
               AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate via ``window()`` — shuffle on (bucket, type) with
    map-side partial agg; identical shape to the streaming version."""
    # timed-events domain: window() silently drops a NULL event time while
    # DuckDB's time_bucket groups it as a NULL bucket — pin the exclusion
    # explicitly on both sides (matches the streaming path, where the
    # watermark drops NULL event times)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), 4).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
                "event_type", "n_events", "total_value")
    )


@declare(
    "events_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_S} * 1000000
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           {sql_dsum('value', 4)} AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): lag → new-session flag → running sum =
    session id → per-session aggregate.  One shuffle on user_id; both window steps and
    the final aggregate reuse the same partitioning (no re-shuffle).  Microsecond
    arithmetic (``unix_micros``) keeps sub-second gaps exact."""
    # timed-events domain (see events_tumbling_5min): an event without a
    # time cannot join a session, and NULL window-ordering diverges anyway
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > SESSION_GAP_S * 1_000_000), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            dsum(F.col("value"), 4).alias("total_value"),
        )
    )
