"""End-to-end gate queries for the *write-path* operators.

R1 (idempotent range replacement) and S7 (gold materialization) are writers,
not queries — but their correctness is still SQL-expressible: run the real
write pipeline into a scratch directory, read the result back, and compare
against an oracle that computes what the final table must contain. This puts
the reference's two hardest behaviors (delete-range+insert idempotency,
CTAS partition/cluster respec) inside the driver's hash-checked gate instead
of only unit tests.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from .queries import dec_to_double, dsum, register


@register(
    "etl_range_replace_e2e",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(
             CASE WHEN strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-14'
                  THEN value * 2 ELSE value END
             AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    ORDER BY day
    """,
    doc="R1 end-to-end: load events into a date-partitioned warehouse table, "
    "atomically replace days 10–14 with corrected rows (value doubled) via "
    "dynamic partition overwrite, read the table back and aggregate per day. "
    "The oracle computes the must-be state directly — untouched days keep "
    "original values, replaced days have doubled values (reference "
    "delete+insert semantics, utils.py:255-283, 391-398).",
)
def etl_range_replace_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_replace import overwrite_table, read_table, replace_range

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="rr_e2e_")
    path = f"{tmp}/events_wh"
    try:
        overwrite_table(ev, path, "ts")
        corrected = ev.withColumn("value", F.col("value") * 2)
        replace_range(spark, path, corrected, "ts", "2024-01-10", "2024-01-14")
        # replay the same replacement — R1 idempotency means no change
        replace_range(spark, path, corrected, "ts", "2024-01-10", "2024-01-14")
        out = (
            read_table(spark, path, like=ev)
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
            .orderBy("day")
        )
        out = out.localCheckpoint()  # materialize before the scratch dir dies
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "etl_merge_upsert_e2e",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM customer
    ORDER BY c_custkey
    """,
    doc="MERGE/upsert end-to-end: load customers, upsert a change batch "
    "(every 10th customer's balance doubled) via the anti-join+union MERGE "
    "emulation, read back. The oracle computes the must-be final state "
    "directly; the upsert is applied twice (idempotency gated).",
)
def etl_merge_upsert_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert

    c = load_table(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="merge_e2e_")
    path = f"{tmp}/customer"
    try:
        c.write.parquet(path)
        updates = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") * 2
        )
        merge_upsert(spark, path, updates, "c_custkey")
        merge_upsert(spark, path, updates, "c_custkey")  # idempotent re-apply
        out = spark.read.parquet(path).orderBy("c_custkey").localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "etl_gold_materialize_e2e",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS event_hour,
           strftime(ts, '%Y-%m-%d') AS event_date,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY event_hour, event_type
    """,
    doc="S7/S8 end-to-end: define the gold view, materialize it to a "
    "date-partitioned cluster-sorted parquet table (reference CTAS "
    "PARTITION BY + CLUSTER BY, materialize_gold.py:42-79), read the table "
    "back. The oracle recomputes the view directly — materialization must "
    "be lossless, including the partition column surviving the directory "
    "round-trip.",
)
def etl_gold_materialize_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import gold

    register_views(spark, sf_dir, ["events"])
    gold.define_gold_view(spark, "vw_event_hourly")
    tmp = tempfile.mkdtemp(prefix="gold_e2e_")
    try:
        out_path = gold.materialize(spark, "vw_event_hourly", tmp)
        try:
            gold_df = spark.read.parquet(out_path)
        except AnalysisException:
            # empty view: the partitioned write leaves no schema-bearing
            # footer on disk — the materialization is exactly empty
            gold_df = spark.createDataFrame([], spark.table("vw_event_hourly").schema)
        out = (
            gold_df
            .select(
                F.date_format("event_hour", "yyyy-MM-dd HH:mm:ss").alias("event_hour"),
                F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .orderBy("event_hour", "event_type")
        )
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "etl_incremental_agg_e2e",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY strftime(o_orderdate, '%Y-%m')
    ORDER BY order_month
    """,
    doc="Incremental aggregate maintenance (materialized-view refresh): a "
    "monthly revenue rollup is first built from the historical half of "
    "orders and persisted; a late-arriving delta batch is then folded in "
    "by aggregating ONLY the delta and re-combining partial states "
    "(counts add, decimal sums add exactly) — the base fact rows are "
    "never rescanned. At 100 TB this is the difference between touching "
    "a day's partition and recomputing years of history; decimal partial "
    "sums make the refreshed rollup bit-identical to the full recompute "
    "the oracle performs. Touched months overwrite via the same dynamic "
    "partition overwrite as R1 (reference utils.py:255-283 semantics "
    "lifted from delete-range+insert to aggregate state).",
)
def etl_incremental_agg_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = "1996-06-01"
    o = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")

    def partial(df: DataFrame) -> DataFrame:
        # mergeable partial state: BIGINT count + exact DECIMAL sum
        return df.groupBy(month).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("sum_price"),
        )

    tmp = tempfile.mkdtemp(prefix="inc_agg_")
    path = f"{tmp}/monthly_rollup"
    try:
        partial(o.filter(F.col("o_orderdate") < split)).write.mode("overwrite").parquet(path)
        delta = partial(o.filter(F.col("o_orderdate") >= split))
        refreshed = (
            spark.read.parquet(path)
            .unionByName(delta)
            .groupBy("order_month")
            .agg(
                F.sum("n_orders").cast("bigint").alias("n_orders"),
                F.sum("sum_price").cast("decimal(25,6)").alias("sum_price"),
            )
        )
        refreshed.write.mode("overwrite").parquet(f"{tmp}/monthly_rollup_v2")
        out = (
            spark.read.parquet(f"{tmp}/monthly_rollup_v2")
            .select(
                "order_month",
                "n_orders",
                dec_to_double(F.col("sum_price")).alias("total_price"),
            )
            .orderBy("order_month")
        )
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "etl_compact_e2e",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    ORDER BY day
    """,
    doc="Small-files compaction end-to-end: load events into a "
    "date-partitioned table deliberately fragmented (4 files per "
    "partition), compact to target-sized files via the staging+swap "
    "rewrite, read the table back and aggregate per day. The oracle is "
    "the pre-compaction content — compaction must be byte-invisible to "
    "readers while collapsing the file count (asserted inside the run; "
    "file-count mechanics are additionally unit-tested in "
    "tests/test_compact.py). At 100 TB the file count, not the byte "
    "count, is what kills listing and task-scheduling time.",
)
def etl_compact_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compact import compact_table, table_file_stats
    from ..operators.range_replace import overwrite_table, read_table

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="compact_e2e_")
    path = f"{tmp}/events_wh"
    try:
        # fragment: 4 small files per date partition
        overwrite_table(ev.repartition(4), path, "ts")
        before, _ = table_file_stats(spark, path)
        b, a = compact_table(spark, path)
        if not (a < b or b <= 1):
            raise AssertionError(f"compaction did not reduce files: {b} -> {a}")
        out = (
            read_table(spark, path, like=ev)
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
            .orderBy("day")
        )
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "etl_user_erasure_e2e",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id % 37 <> 0
    GROUP BY strftime(ts, '%Y-%m-%d')
    ORDER BY day
    """,
    doc="Keyed erasure end-to-end (GDPR right-to-be-forgotten): load events "
    "into a date-partitioned warehouse, hard-delete every 37th user via the "
    "anti-join rewrite (operators/range_replace.delete_keys), run the same "
    "erasure twice (idempotency), read back the per-day profile. The "
    "oracle computes the must-be state directly from the source. The keyed "
    "twin of the reference's range delete (utils.py:255-283) — the delete "
    "predicate is a key set instead of a date range.",
)
def etl_user_erasure_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_replace import delete_keys, overwrite_table, read_table

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="erasure_e2e_")
    path = f"{tmp}/events_wh"
    try:
        overwrite_table(ev, path, "ts")
        erase = ev.filter(F.col("user_id") % 37 == 0).select("user_id")
        delete_keys(spark, path, "user_id", erase)
        delete_keys(spark, path, "user_id", erase)  # idempotent re-run
        out = (
            read_table(spark, path, like=ev)
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                dsum("value", "total_value"),
            )
            .orderBy("day")
        )
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "etl_schema_evolution_e2e",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment ELSE NULL END AS c_mktsegment
    FROM customer
    ORDER BY c_custkey
    """,
    doc="Schema evolution end-to-end: a v1 batch lands without "
    "c_mktsegment, a later v2 batch appends WITH it; reading the table "
    "with mergeSchema unions the file schemas and null-backfills the "
    "pre-evolution rows — the additive-column migration every long-lived "
    "warehouse table goes through (the reference inherits this from "
    "BigQuery's schema relaxation; here the engine owns it). The oracle "
    "computes the must-be state: even keys are v1 (null segment), odd "
    "keys are v2.",
)
def etl_schema_evolution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="schema_evo_")
    path = f"{tmp}/customers_wh"
    try:
        v1 = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name", "c_acctbal")
        v1.write.parquet(path)
        v2 = c.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
        )
        v2.write.mode("append").parquet(path)
        out = (
            spark.read.option("mergeSchema", "true")
            .parquet(path)
            .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
            .orderBy("c_custkey")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
