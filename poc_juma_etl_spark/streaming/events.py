"""Structured Streaming over the events table.

The reference has no streaming at all (SURVEY.md §2.5); its nearest analog
is the recent-refresh micro-batch (reference utils.py:406-451). The engine
provides the real thing: the same event-time tumbling aggregation as the
batch query q_event_tumbling_hour, executed *incrementally* by Structured
Streaming — file source, 1-hour event-time windows, 2-hour watermark for
late data, availableNow trigger draining the backlog like a bounded stream.

The driver-gate entry runs the stream to completion and returns the final
result table, oracled against the same DuckDB SQL as the batch twin — the
strongest check streaming can get: incremental execution must converge to
the batch answer. On a real cluster the file source swaps for Kafka and the
memory sink for a parquet/Delta sink via foreachBatch; the plan in between
is unchanged (that symmetry is the point of Structured Streaming).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import stream_table
from ..plans.queries import dsum, register, ts_str

_MEMSINK_LOCK = threading.Lock()
_SINK_SEQ = [0]


def alloc_sink(prefix: str) -> str:
    """Process-unique memory-sink name (locked: concurrent gate threads must
    never race to the same queryName — r8 review found one module had grown
    its own unlocked counter)."""
    with _MEMSINK_LOCK:
        _SINK_SEQ[0] += 1
        return f"{prefix}_{_SINK_SEQ[0]}"


def drain_to_memory(df: DataFrame, prefix: str, output_mode: str) -> DataFrame:
    """Start ``df`` as a memory-sink streaming query, drain it to completion
    with availableNow, and return the sink contents as a batch DataFrame —
    the one drain idiom every bounded-stream gate in this package uses
    (previously copy-pasted per module; the drift that invited is why it is
    factored here)."""
    sink = alloc_sink(prefix)
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(sink)


def streaming_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the tumbling-window aggregation as a bounded stream; returns the
    completed result as a batch DataFrame."""
    # schema derives from the fixture's parquet footer (catalog.stream_table)
    # so ts encoding flips between testdata generations can't break the scan
    stream = stream_table(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            ts_str(F.col("w.start"), "window_start"), "event_type", "n_events", "total_value"
        )
    )
    return drain_to_memory(agg, "stream_tumbling_out", "complete")


@register(
    "q_stream_tumbling_hour",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
    doc="Structured Streaming twin of q_event_tumbling_hour: identical "
    "windows computed incrementally (watermark + availableNow) and oracled "
    "against the batch SQL — streaming must converge to the batch answer.",
)
def q_stream_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = streaming_tumbling_hour(spark, sf_dir)
    return out.orderBy("window_start", "event_type")


@register(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Streaming at-least-once dedup: the event stream unioned with itself "
    "(every record delivered twice — the Kafka redelivery model), then "
    "dropDuplicatesWithinWatermark(event_id) holds keys in state only for "
    "the 2h watermark horizon — bounded state at any scale, unlike an "
    "unbounded dropDuplicates. Converges to the batch aggregate over the "
    "duplicate-free table; doubled counts would flag instantly.",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    def src() -> DataFrame:
        return stream_table(spark, sf_dir, "events")

    deduped = (
        src()
        .unionByName(src())
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "value")
    )
    return (
        drain_to_memory(deduped, "stream_dedup_out", "append")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .orderBy("event_type")
    )


@register(
    "q_stream_sliding_2h",
    oracle="""
    WITH ev AS (
      SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR])
               AS window_start,
             event_type, value
      FROM events
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM ev
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="Streaming sliding-window aggregation: 2-hour windows advancing "
    "every hour, so each event lands in exactly two overlapping windows — "
    "the standard smoothing/trailing-rate shape tumbling windows cannot "
    "express. Watermark bounds state to the 2h lateness horizon; the "
    "oracle assigns each event its two window starts arithmetically and "
    "must agree with the incremental execution exactly.",
)
def q_stream_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_table(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            ts_str(F.col("w.start"), "window_start"), "event_type", "n_events", "total_value"
        )
    )
    return drain_to_memory(agg, "stream_sliding_out", "complete").orderBy(
        "window_start", "event_type"
    )


@register(
    "q_stream_session_window",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id <= 50
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="Streaming session windows: the native session_window aggregation "
    "(30-min gap) computed incrementally — state holds one open session per "
    "user, merged as events arrive and closed when the watermark passes the "
    "gap, the canonical stateful-streaming operator batch windows cannot "
    "express. Oracled against the batch lag-gap-cumsum sessionization "
    "(same SQL as q_session_window_builtin): incremental merge must "
    "converge to the batch answer exactly.",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            ts_str(F.col("sw.start"), "session_start"),
            "n_events",
        )
    )
    return drain_to_memory(agg, "stream_session_out", "complete").orderBy(
        "user_id", "session_start"
    )
