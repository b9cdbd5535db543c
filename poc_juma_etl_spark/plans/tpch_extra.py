"""Additional TPC-H-flavored coverage (Q4/Q12/Q14/Q19 shapes adapted to the
fixture star schema), approximate sketches, and a bucketed co-located join.

The approximate operators (HLL distinct, quantile sketch) cannot hash the
raw estimates — different sketch implementations legitimately disagree —
so they check their error bounds in-plan against the exact answers and the
oracle expects those verdicts TRUE; tests/test_tpch_extra.py pins the
bounds too.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dec_to_double, dsum, register, scoped_dir, ts_str


@register(
    "q4_priority_with_late_lines",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape: order-priority counts for orders with at least one "
    "line shipped after the order date — EXISTS with a correlated "
    "inequality, planned as a left-semi join.",
)
def q4_priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l, (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi"
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_return_rate_by_status",
    oracle="""
    SELECT l.l_linestatus,
           COUNT(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
           COUNT(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count,
           COUNT(*) FILTER (WHERE l.l_returnflag = 'R') AS returned_lines
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
    doc="TPC-H Q12 shape: conditional counts split by priority class over a "
    "fact-fact join — CASE/FILTER aggregation after one shuffle.",
)
def q12_return_rate_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("returned_lines"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q14_red_parts_revenue_share",
    oracle="""
    SELECT 100.0 * CAST(CAST(SUM(CAST(CASE WHEN p.p_name LIKE 'red%'
                       THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END AS DECIMAL(25,6)))
             AS STRING) AS DOUBLE)
           / CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
             AS red_revenue_pct,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-07-01 00:00:00'
    GROUP BY 'all'
    ORDER BY red_revenue_pct
    """,
    doc="TPC-H Q14 shape: promo-revenue percentage — conditional decimal sum "
    "over broadcast-joined parts, single-group output. The 100.0*x/y op "
    "order is pinned identically in both engines.",
)
def q14_red_parts_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-06-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    red_net = F.when(F.col("p_name").like("red%"), net).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy()
        .agg(
            (
                F.lit(100.0)
                * dec_to_double(F.sum(red_net.cast("decimal(25,6)")))
                / dec_to_double(F.sum(net.cast("decimal(25,6)")))
            ).alias("red_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("red_revenue_pct")
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 5)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 25 AND l.l_quantity >= 10)
       OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 35 AND l.l_quantity >= 15)
    GROUP BY 'all'
    ORDER BY revenue
    """,
    doc="TPC-H Q19 shape: disjunctive multi-column predicates across both "
    "join sides — Catalyst extracts the common p_partkey equi-condition and "
    "evaluates the OR-of-ANDs as a post-join filter.",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(10, 25) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#33") & F.col("p_size").between(20, 35) & (F.col("l_quantity") >= 15))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .groupBy()
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("revenue")
    )


@register(
    "q10_top_returning_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
             AS lost_revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: revenue lost to returned items per customer, "
    "top-20 — join-agg-topk with a broadcast dim on the group side.",
)
def q10_top_returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "lost_revenue"))
        .select("c_custkey", "c_name", "lost_revenue", "n_name")
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q18_large_volume_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o.o_totalprice,
           CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) > 150
    )
    GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 25
    """,
    doc="TPC-H Q18 shape: large-volume orders — GROUP BY + HAVING inside an "
    "IN subquery (planned as a semi join on the aggregated set), re-joined "
    "and re-aggregated for output.",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "tq"))
        .filter(F.col("tq") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
        .select(
            "o_orderkey",
            "o_custkey",
            ts_str("o_orderdate", "o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


@register(
    "etl_formats_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Format-agnostic IO: write events to JSON, ORC and CSV, read all "
    "three back, verify-join per-type aggregates agree pairwise, and "
    "oracle against the parquet original. Timestamps survive via "
    "explicit ISO-microsecond serialization; CSV quoting round-trips the "
    "embedded-JSON props column; the engine's source/sink surface is not "
    "parquet-bound.",
)
def etl_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tmp = scoped_dir("fmt_rt_")
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev.write.option("timestampFormat", ts_fmt).mode("overwrite").json(f"{tmp}/ev_json")
    ev.write.mode("overwrite").orc(f"{tmp}/ev_orc")
    ev.write.option("timestampFormat", ts_fmt).option("header", "true").mode(
        "overwrite"
    ).csv(f"{tmp}/ev_csv")
    back_json = (
        spark.read.schema(ev.schema)
        .option("timestampFormat", ts_fmt)
        .json(f"{tmp}/ev_json")
    )
    back_orc = spark.read.orc(f"{tmp}/ev_orc")
    back_csv = (
        spark.read.schema(ev.schema)
        .option("timestampFormat", ts_fmt)
        .option("header", "true")
        .csv(f"{tmp}/ev_csv")
    )
    agg = lambda df: (  # noqa: E731
        df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("tv"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    j, oc, cv = agg(back_json).alias("j"), agg(back_orc).alias("o"), agg(back_csv).alias("c")
    # verify-join: every per-type aggregate must agree across formats
    both = (
        j.join(oc, "event_type")
        .join(cv, "event_type")
        .filter(
            (F.col("j.n_events") == F.col("o.n_events"))
            & (F.col("j.tv") == F.col("o.tv"))
            & (F.col("j.n_users") == F.col("o.n_users"))
            & (F.col("c.n_events") == F.col("o.n_events"))
            & (F.col("c.tv") == F.col("o.tv"))
            & (F.col("c.n_users") == F.col("o.n_users"))
        )
    )
    return both.select(
        "event_type",
        F.col("j.n_events").alias("n_events"),
        F.col("j.tv").cast("double").alias("total_value"),
        F.col("j.n_users").alias("n_users"),
    ).orderBy("event_type")


HLL_RSD = 0.02
HLL_CHECK_REL = 0.10  # 5× the rsd — a realization outside this is a bug
PCTL_ACCURACY = 10000


@register(
    "q_approx_sketches",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_within_bounds,
           TRUE AS p50_rank_within_bounds
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Approximate sketches, VALIDATED: HLL++ distinct counts and the "
    "quantile sketch per event type — the mergeable, bounded-memory forms "
    "that replace exact distinct/percentile at 100 TB — with their error "
    "bounds checked in-plan against the exact answers. The raw estimates "
    "are engine-specific (DuckDB's HLL differs from Spark's by design), so "
    "the output carries the exact values plus two deterministic verdicts: "
    f"|hll − exact| ≤ {HLL_CHECK_REL:.0%}·exact (5× the {HLL_RSD:.0%} rsd) "
    "and the approx median's value-rank interval intersecting the true "
    "median rank ± the documented n/accuracy guarantee. The oracle expects "
    "both flags TRUE — a sketch regression on either engine hash-fails "
    "instead of hiding behind a rows-only check. (The raw-estimate form "
    "of this query is one .select away; the validation joins are "
    "group-count-sized.)",
)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("approx_users"),
        F.percentile_approx("value", 0.5, PCTL_ACCURACY).alias("approx_p50"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    # value-rank interval of the returned (actual-element) median: the
    # per-type conditional counts are one extra group-count-sized pass
    ranked = (
        ev.join(F.broadcast(sk.select("event_type", "approx_p50")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") < F.col("approx_p50")).cast("long")).alias("n_lt"),
            F.sum((F.col("value") <= F.col("approx_p50")).cast("long")).alias("n_le"),
        )
    )
    tol = (F.col("n_events") / F.lit(PCTL_ACCURACY)) + F.lit(1.0)
    mid = F.col("n_events") * 0.5
    return (
        sk.join(ranked, "event_type")
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.col("exact_users") * HLL_CHECK_REL
            ).alias("hll_within_bounds"),
            # ranks [n_lt+1, n_le] must intersect [mid - tol, mid + tol]
            ((F.col("n_lt") + 1 <= mid + tol) & (F.col("n_le") >= mid - tol)).alias(
                "p50_rank_within_bounds"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "q_bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_balance
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
    doc="Bucketed co-located join: both sides written with bucketBy(8, key) "
    "so the join needs NO shuffle of either side (verified by plan assert in "
    "tests/test_tpch_extra.py). The warehouse-layer answer to repeated "
    "fact-fact joins at 100 TB — pay the partitioning once at write time. "
    "Oracle is the plain relational join: bucketing must not change results.",
)
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="bucketed_")
    tag = uuid.uuid4().hex[:8]  # unique catalog names: re-entrant/concurrent-safe
    t_o, t_c = f"orders_bucketed_{tag}", f"customer_bucketed_{tag}"
    try:
        # bucketed tables need the session catalog; write both sides bucketed
        # by the join key into a scratch warehouse
        o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").option(
            "path", f"{tmp}/orders_b"
        ).mode("overwrite").saveAsTable(t_o)
        c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").option(
            "path", f"{tmp}/customer_b"
        ).mode("overwrite").saveAsTable(t_c)
        ob = spark.table(t_o)
        cb = spark.table(t_c)
        out = (
            ob.join(cb, ob.o_custkey == cb.c_custkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dec_to_double(F.sum(F.col("c_acctbal").cast("decimal(25,6)")))
                .alias("total_balance"),
            )
            .orderBy("o_orderstatus")
        )
        out = out.localCheckpoint()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")
        shutil.rmtree(tmp, ignore_errors=True)
    return out


HLL_MERGE_CHECK_REL = 0.05  # lgK=14 → rsd ≈ 0.8%; 5% ≈ 6σ


@register(
    "q_hll_rollup_merge",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merge_within_bounds,
           TRUE AS single_pass_within_bounds
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Sketch partial-merge rollup, VALIDATED in-plan — the pattern that "
    "makes distinct counts re-aggregable at 100 TB: per (event_type, day) "
    "the engine builds DataSketches HLL sketches (hll_sketch_agg), then "
    "rolls them up to per-type totals by merging the day sketches "
    "(hll_union_agg) WITHOUT touching raw events again. The sketch "
    "binaries have no DuckDB twin, so the output carries two "
    "deterministic verdicts the oracle expects TRUE: the merged-of-"
    "partials estimate AND the single-pass estimate each within "
    f"{HLL_MERGE_CHECK_REL:.0%} of the exact distinct count (6× the "
    "lgK=14 rsd). Merged == single-pass is deliberately NOT asserted: "
    "DataSketches estimates a directly-updated sketch with the order-"
    "dependent HIP estimator but a union result with the composite "
    "estimator, so the two legitimately diverge at high cardinality — "
    "they coincided at sf≤0.1 and split at the sf1 soak (15k users/"
    "type), which is what caught the bad assertion. Validation joins are "
    "group-count-sized; tests/test_sketch_rollup.py pins the same "
    "properties unit-side.",
)
def q_hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias("approx_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("single_pass"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.col("exact_users") * HLL_MERGE_CHECK_REL
            ).alias("merge_within_bounds"),
            (
                F.abs(F.col("single_pass") - F.col("exact_users"))
                <= F.col("exact_users") * HLL_MERGE_CHECK_REL
            ).alias("single_pass_within_bounds"),
        )
        .orderBy("event_type")
    )


@register(
    "q_shuffle_hash_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="Fact-fact join pinned to SHUFFLE_HASH strategy: lineitem⋈orders "
    "are both too big to broadcast, and a shuffle-hash join skips the "
    "sort phase a SortMergeJoin pays on both sides — the right strategy "
    "when one side's per-partition hash table fits in memory and neither "
    "side is pre-sorted. The hint is plan-asserted in "
    "tests/test_plan_quality.py; the oracle is the plain relational "
    "answer (strategy must never change results).",
)
def q_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), F.col("o_custkey") == c.c_custkey
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            dec_to_double(F.sum(F.col("l_extendedprice").cast("decimal(25,6)"))).alias(
                "total_price"
            ),
        )
        .orderBy("c_mktsegment")
    )
