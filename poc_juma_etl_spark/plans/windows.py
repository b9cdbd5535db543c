"""Window-function surface (none exist in the reference — SURVEY.md §2.5;
provided by the engine because the reference's Gold consumers had them via
BigQuery SQL).

Determinism rules: every window ORDER BY ends in a unique key so frame
membership is engine-independent; windowed SUMs use the decimal cast (DuckDB
evaluates windowed aggregates with segment trees, Spark incrementally — the
float addition order differs, decimals don't care).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dec_to_double, register, ts_str


@register(
    "q_window_topk_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, revenue, rk FROM (
      SELECT p.p_brand, p.p_partkey,
             CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_brand
               ORDER BY CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) DESC,
                        p.p_partkey
             ) AS rk
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, p.p_partkey
    ) WHERE rk <= 3
    ORDER BY p_brand, rk
    """,
    doc="Top-K per group: row_number over (brand, revenue desc). The "
    "distributed top-K idiom — no driver-side sort, one shuffle on the "
    "partition key.",
)
def q_window_topk_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import dsum

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_part = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    w = W.partitionBy("p_brand").orderBy(F.desc("revenue"), "p_partkey")
    return (
        per_part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rk")
        .orderBy("p_brand", "rk")
    )


@register(
    "q_window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS STRING) AS DOUBLE) AS running_spend
    FROM orders
    WHERE o_custkey <= 100
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    doc="Running total per customer: cumulative frame ordered by a unique "
    "key; decimal sum keeps Spark's incremental evaluation and DuckDB's "
    "segment tree bitwise-equal.",
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        o.withColumn(
            "running_spend",
            dec_to_double(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(w)),
        )
        .select(
            "o_custkey", "o_orderkey", ts_str("o_orderdate", "o_orderdate"), "running_spend"
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


@register(
    "q_window_lag_delta",
    oracle="""
    SELECT user_id, event_id, value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
    WHERE user_id <= 50
    ORDER BY user_id, event_id
    """,
    doc="lag/lead: per-user event deltas. Per-row double subtraction is "
    "deterministic, no decimal needed.",
)
def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("delta", F.col("value") - F.lag("value").over(w))
        .withColumn("next_type", F.lead("event_type").over(w))
        .select("user_id", "event_id", "value", "delta", "next_type")
        .orderBy("user_id", "event_id")
    )


@register(
    "q_window_moving_avg",
    oracle="""
    SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS STRING) AS DOUBLE) / COUNT(value) OVER w AS moving_avg
    FROM events
    WHERE user_id <= 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    doc="Moving average over a 4-row sliding frame per user.",
)
def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return (
        ev.withColumn(
            "moving_avg",
            dec_to_double(F.sum(F.col("value").cast("decimal(25,6)")).over(w))
            / F.count("value").over(w),
        )
        .select("user_id", "event_id", ts_str("ts", "ts", frac=True), "moving_avg")
        .orderBy("user_id", "event_id")
    )


@register(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id <= 50
    ), sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    doc="Sessionization: lag-gap > 30 min starts a new session; cumulative "
    "sum of the flag numbers the sessions (the batch form of "
    "session_window; streaming variant in streaming/events.py).",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = (
        prev_ts.isNull()
        | (F.col("ts").cast("long") - prev_ts.cast("long") > 30 * 60)
    ).cast("long")
    return (
        ev.withColumn("session_id", F.sum(new_session).over(cum))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_id")
    )
