"""Event-time windowing, batch twins of the streaming operators (SURVEY.md
§2.C "Streaming").

q_window_tumbling, q_window_session and q_stream_interval_join call the
streaming operators themselves (streaming/windows.py) on a batch frame,
so the DuckDB oracle checks the expressions the stream runs; on a batch
frame Catalyst drops the watermark (EliminateEventTimeWatermark). The
true streaming path (file source, watermarks, late data, output modes) is
engine-tested in tests/test_streaming.py. q_stream_dedup stays a batch
dropDuplicates: Spark rejects dropDuplicatesWithinWatermark on batch
frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.registry import query
from etl_open_source_spark.streaming.windows import (
    session_agg,
    stream_stream_interval_join,
    tumbling_agg,
)


@query(
    "q_window_tumbling",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(CASE WHEN ISFINITE(value) THEN value END AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
""",
    bench=True,
    tags=("stream",),
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed (tumbling) 1 h event-time windows: the streaming
    :func:`tumbling_agg` over the events table."""
    e = load_table(spark, sf_dir, "events")
    return tumbling_agg(e).orderBy("window_start", "event_type")


@query(
    "q_window_sliding",
    oracle="""
SELECT time_bucket(INTERVAL '15 minutes', ts) - s.i * INTERVAL '15 minutes' AS window_start,
       time_bucket(INTERVAL '15 minutes', ts) - s.i * INTERVAL '15 minutes' + INTERVAL '1 hour' AS window_end,
       COUNT(*) AS cnt
FROM events CROSS JOIN GENERATE_SERIES(0, 3) AS s(i)
GROUP BY 1, 2
ORDER BY window_start
""",
    tags=("stream",),
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 15 min slide): each event lands in 4
    overlapping windows — Spark's window() expands rows exactly like the
    oracle's explicit 0..3 offset join."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cnt",
        )
        .orderBy("window_start")
    )


@query(
    "q_window_session",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS last_event_ts,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN ISFINITE(value) THEN value END AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
    tags=("stream",),
)
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min inactivity): the streaming
    :func:`session_agg`. A session ends at last_event + gap, so
    last_event_ts = session_end - gap. The oracle derives the same
    sessions with the lag-gap-cumsum idiom."""
    gap = "30 minutes"
    e = load_table(spark, sf_dir, "events")
    return (
        session_agg(e, gap=gap)
        .select(
            "user_id",
            "session_start",
            (F.col("session_end") - F.expr(f"INTERVAL {gap}")).alias("last_event_ts"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q_stream_dedup",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
""",
    tags=("stream", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on event_id over a doubled input (union of the
    stream with itself). Not the streaming operator: streaming_dedup
    (streaming/windows.py) bounds its state with withWatermark +
    dropDuplicatesWithinWatermark, which Spark rejects on a batch frame
    ("not supported with batch DataFrames"), so this twin runs a plain
    dropDuplicates; the streaming form is engine-tested in
    tests/test_streaming.py."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    doubled = e.unionByName(e)
    return doubled.dropDuplicates(["event_id"])


@query(
    "q_stream_interval_join",
    oracle="""
SELECT p.event_id AS buy_id, c.event_id AS click_id,
       epoch_us(p.ts) // 1000 - epoch_us(c.ts) // 1000 AS gap_ms
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
""",
    tags=("stream", "join"),
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-attribution interval join: the streaming
    :func:`stream_stream_interval_join` over two filtered batch frames —
    each purchase matched to every click by the same user in the
    preceding 30 minutes. On streams the time bound is what lets
    Structured Streaming evict join state past watermark + interval.

    Shape: equi-join on user_id with the time bound as a residual — the
    corpus shuffles once per side on the join key; no theta join."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"), "user_id", F.col("ts").alias("pts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    return stream_stream_interval_join(
        p, c, on="user_id", left_ts="pts", right_ts="cts"
    ).select(
        "buy_id",
        "click_id",
        (
            F.expr("unix_micros(pts) div 1000")
            - F.expr("unix_micros(cts) div 1000")
        ).alias("gap_ms"),
    )
