"""Advanced relational patterns: as-of join, bounded range join, salted
(skew-proof) aggregation, Pandas-UDF parity, exact percentiles, correlated
subqueries, recursive CTEs.

None of these exist in the reference (SURVEY.md §2.5) — they are the part of
the BigQuery-grade SQL surface that Spark either lacks as a single operator
(as-of join → composed from union+window; pyspark_guide.md "Common OLAP
patterns") or that needs a scale-aware formulation (salting for skewed keys,
bucketed range joins).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from .queries import dec_to_double, dsum, register


@register(
    "q_asof_join_last_order",
    oracle="""
    WITH o1 AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    o2 AS (
      SELECT o1.o_custkey, o1.o_orderdate, o1.o_orderkey, o.o_totalprice
      FROM o1 JOIN orders o ON o.o_orderkey = o1.o_orderkey
    )
    SELECT e.event_id, e.user_id,
           o2.o_orderkey AS asof_orderkey, o2.o_totalprice AS asof_totalprice
    FROM events e ASOF LEFT JOIN o2
      ON e.user_id = o2.o_custkey AND e.ts >= o2.o_orderdate
    ORDER BY e.event_id
    """,
    doc="As-of join (Spark has no native operator — pyspark_guide.md "
    "'Common OLAP patterns'): for each event, the customer's most recent "
    "order at event time. Implemented distributed as union-tag + "
    "last(ignorenulls) over a (key, time) window — one shuffle, no "
    "per-row lookups; DuckDB's native ASOF JOIN is the oracle. Ties on "
    "(custkey, orderdate) pre-deduped to max orderkey so both engines are "
    "deterministic.",
)
def q_asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    o1 = orders.groupBy("o_custkey", "o_orderdate").agg(F.max("o_orderkey").alias("o_orderkey"))
    o2 = o1.join(orders.select("o_orderkey", "o_totalprice"), "o_orderkey")
    right = o2.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("tag"),
        "o_orderkey",
        "o_totalprice",
        F.lit(None).cast("long").alias("event_id"),
    )
    left = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        "event_id",
    )
    u = right.unionByName(left)
    w = (
        W.partitionBy("k")
        .orderBy("t", "tag", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        u.withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("asof_totalprice", F.last("o_totalprice", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id", F.col("k").alias("user_id"), "asof_orderkey", "asof_totalprice"
        )
        .orderBy("event_id")
    )


RANGE_GAP_S = 300  # pair events within 5 minutes


@register(
    "q_range_join_close_events",
    oracle=f"""
    SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id,
           CAST(epoch_us(b.ts) // 1000000 - epoch_us(a.ts) // 1000000 AS BIGINT) AS gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND epoch_us(b.ts) // 1000000 - epoch_us(a.ts) // 1000000 <= {RANGE_GAP_S}
    ORDER BY event_a, event_b
    """,
    doc=f"Bounded range join: same-user event pairs within {RANGE_GAP_S}s. "
    "Spark buckets time into gap-width windows and equi-joins on "
    "(user, bucket)∪(user, bucket+1) before the exact filter — candidate "
    "pairs stay O(events·density) instead of O(events²) per user. The "
    "strict b-after-a comparison runs on the FULL timestamp while the gap "
    "is whole seconds: comparing floor-seconds instead silently drops "
    "same-second pairs — invisible at sparse sf0.01, caught by the sf0.1 "
    "soak (770 vs 771 rows). No distinct needed: a pair matches exactly "
    "one of the two exploded bucket slots.",
)
def q_range_join_close_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", (F.col("ts").cast("long")).alias("sec")
    )
    bucketed = ev.withColumn("bucket", F.floor(F.col("sec") / RANGE_GAP_S))
    a = bucketed.alias("a")
    # candidates: b in the same or next bucket of a (covers any gap <= width)
    b = (
        bucketed.select(
            F.col("event_id").alias("b_event_id"),
            F.col("user_id").alias("b_user_id"),
            F.col("ts").alias("b_ts"),
            F.col("sec").alias("b_sec"),
            F.explode(F.array(F.col("bucket"), F.col("bucket") - 1)).alias("b_bucket"),
        )
    ).alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.b_user_id"))
        & (F.col("a.bucket") == F.col("b.b_bucket"))
        # full-precision strictness (same-second pairs count, gap_s = 0)
        & (F.col("b.b_ts") > F.col("a.ts"))
        & (F.col("b.b_sec") - F.col("a.sec") <= RANGE_GAP_S),
    )
    # no distinct: the two exploded slots (bucket, bucket-1) are mutually
    # exclusive for any concrete pair, so no pair can match twice — the
    # distinct this replaces was a pure extra shuffle
    return (
        pairs.select(
            F.col("a.event_id").alias("event_a"),
            F.col("b.b_event_id").alias("event_b"),
            F.col("a.user_id").alias("user_id"),
            (F.col("b.b_sec") - F.col("a.sec")).alias("gap_s"),
        )
        .orderBy("event_a", "event_b")
    )


@register(
    "q_salted_aggregation",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Skew-proof two-stage aggregation: stage 1 groups by (key, salt) — "
    "a hot key's rows spread over 8 reducers — stage 2 merges the partials. "
    "Result is identical to the direct groupBy (the oracle IS the direct "
    "form); decimal partials make the merge order-insensitive. The manual "
    "form of what AQE skew handling automates, kept explicit because "
    "deliberate salting also works for aggregations, not just joins.",
)
def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stage1 = (
        ev.withColumn("salt", (F.col("event_id") % 8).cast("int"))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("pv"),
        )
    )
    return (
        stage1.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            dec_to_double(F.sum("pv")).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "q_pandas_udf_tokenize",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           upper(source) AS source_norm
    FROM documents
    ORDER BY doc_id
    """,
    doc="Pandas-UDF surface: an Arrow-vectorized UDF (pandas str ops, one "
    "batch per partition) must agree exactly with the relational form — the "
    "oracle is the pure-SQL equivalent, so this gates UDF correctness, not "
    "just plumbing. The hot path stays JVM-side elsewhere; this exists to "
    "prove the escape hatch is sound.",
)
def q_pandas_udf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")

    @F.pandas_udf("bigint")
    def n_tokens_udf(texts: pd.Series) -> pd.Series:
        return texts.str.strip().str.split(r"\s+").str.len().astype("int64")

    @F.pandas_udf("string")
    def upper_udf(s: pd.Series) -> pd.Series:
        return s.str.upper()

    return d.select(
        "doc_id",
        n_tokens_udf("text").alias("n_tokens"),
        upper_udf("source").alias("source_norm"),
    ).orderBy("doc_id")


@register(
    "q_exact_percentiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Exact percentiles (linear interpolation): Spark percentile() ⇔ "
    "DuckDB quantile_cont — verified bitwise-identical interpolation. At "
    "scale the approx_percentile sketch replaces this (same API shape, "
    "mergeable, no sort); exact form kept as the oracle-able baseline.",
)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_correlated_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT CAST(CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(c2.c_acctbal)
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    ORDER BY c.c_custkey
    """,
    doc="Correlated scalar subquery: customers above their nation's average "
    "balance. Catalyst decorrelates to an aggregate + join — same SQL text "
    "runs on both engines.",
)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        FROM customer c
        WHERE c.c_acctbal > (
          SELECT CAST(CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(c2.c_acctbal)
          FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
        )
        ORDER BY c.c_custkey
        """
    )


@register(
    "q_recursive_cte_month_spine",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1992-01-01 00:00:00'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '1998-12-01 00:00:00'
    )
    SELECT strftime(months.m, '%Y-%m') AS month,
           COUNT(o.o_orderkey) AS n_orders
    FROM months LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = months.m
    GROUP BY months.m
    ORDER BY month
    """,
    doc="Recursive CTE (Spark 4): generate a month spine and left-join order "
    "counts — months with zero orders still appear (the gap-filling calendar "
    "pattern).",
)
def q_recursive_cte_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1992-01-01 00:00:00'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP '1998-12-01 00:00:00'
        )
        SELECT date_format(months.m, 'yyyy-MM') AS month,
               COUNT(o.o_orderkey) AS n_orders
        FROM months LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = months.m
        GROUP BY months.m
        ORDER BY month
        """
    )


NEAREST_TOL_S = 6 * 3600  # attribution window: ±6 hours


@register(
    "q_asof_nearest_purchase",
    oracle=f"""
    WITH cand AS (
      SELECT c.event_id, c.user_id, c.ts,
             p.event_id AS purchase_id, p.value AS purchase_value,
             abs(epoch_us(c.ts) - epoch_us(p.ts)) AS adiff_us
      FROM events c JOIN events p
        ON p.user_id = c.user_id AND p.event_type = 'purchase'
      WHERE c.event_type = 'click'
        AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= CAST({NEAREST_TOL_S} AS BIGINT) * 1000000
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                   ORDER BY adiff_us, purchase_id) AS rn
      FROM cand
    )
    SELECT event_id, user_id, purchase_id, purchase_value,
           CAST(adiff_us // 1000000 AS BIGINT) AS gap_s
    FROM ranked WHERE rn = 1
    ORDER BY event_id
    """,
    doc=f"Nearest-as-of join (attribution): each click matched to the SAME "
    f"user's temporally closest purchase within ±{NEAREST_TOL_S // 3600}h — "
    "the both-directions variant of the backward as-of join "
    "(q_asof_join_last_order). Scale shape: both sides bucket time into "
    "tolerance-width bins, the purchase side fans out to its 3 adjacent "
    "bins, and candidates come from a (user, bin) equi-join — never an "
    "inequality-only pair explosion; the argmin is a per-click window over "
    "candidates. The oracle brute-forces candidates (superset, invisible "
    "past the exact tolerance filter + argmin). Deterministic tie-break: "
    "smaller gap, then purchase_id.",
)
def q_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    tol_us = NEAREST_TOL_S * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("c_us"),
        F.floor(F.unix_micros("ts") / tol_us).alias("bin"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
        F.unix_micros("ts").alias("p_us"),
        F.explode(
            F.array(
                F.floor(F.unix_micros("ts") / tol_us) - 1,
                F.floor(F.unix_micros("ts") / tol_us),
                F.floor(F.unix_micros("ts") / tol_us) + 1,
            )
        ).alias("bin"),
    )
    adiff = F.abs(F.col("c_us") - F.col("p_us"))
    cand = (
        clicks.join(
            purchases,
            (clicks.user_id == purchases.p_user) & (clicks.bin == purchases.bin),
        )
        .filter(adiff <= tol_us)
        .select("event_id", "user_id", "purchase_id", "purchase_value", adiff.alias("adiff_us"))
    )
    w = W.partitionBy("event_id").orderBy("adiff_us", "purchase_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "purchase_id",
            "purchase_value",
            F.expr("CAST(adiff_us DIV 1000000 AS BIGINT)").alias("gap_s"),
        )
        .orderBy("event_id")
    )
