"""Set operations, grouping sets, distinct aggregates, pivot, top-k, and the
scalar function surface (none implemented in the reference — SURVEY.md §2.5;
the engine provides them as the relational layer its users had via BigQuery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import davg, dsum, register, ts_str


@register(
    "q_union_buyers_segments",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    ORDER BY c_custkey
    """,
    doc="UNION (distinct): segment customers ∪ high-balance customers.",
)
def q_union_buyers_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.union(b).distinct().orderBy("c_custkey")


@register(
    "q_intersect_repeat_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY custkey
    """,
    doc="INTERSECT: customers with both finished and open orders.",
)
def q_intersect_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b).orderBy("custkey")


@register(
    "q_except_lost_customers",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    ORDER BY custkey
    """,
    doc="EXCEPT: registered customers who never ordered (set-op twin of the "
    "anti join).",
)
def q_except_lost_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o).orderBy("custkey")  # EXCEPT (distinct) directly


@register(
    "q_distinct_aggregates",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Distinct aggregate alongside plain aggregates (expand + two-phase "
    "agg in Spark).",
)
def q_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_balance"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q_rollup_returnflag",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_lines,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="ROLLUP grouping sets: per-(flag,status), per-flag subtotals, grand "
    "total.",
)
def q_rollup_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum("l_quantity", "total_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


@register(
    "q_cube_order_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="CUBE grouping sets over order status × priority.",
)
def q_cube_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q_pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Pivot: order counts per priority with one column per status "
    "(Spark .pivot with an explicit value list ⇒ no extra discovery pass).",
)
def q_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "status_f", "O": "status_o", "P": "status_p"})
        .na.fill(0, ["status_f", "status_o", "status_p"])
        .orderBy("o_orderpriority")
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
    """,
    doc="Explicit GROUPING SETS (neither rollup nor cube): per-segment, "
    "per-nation, and grand-total rows from one pass.",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST
        """
    )


@register(
    "q_posexplode_tokens",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, len(ts))) AS INT) AS pos,
           unnest(ts) AS token
    FROM (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
      FROM documents WHERE doc_id < 20
    )
    ORDER BY doc_id, pos
    """,
    doc="LATERAL VIEW posexplode: tokens with their positions (the "
    "generator-function surface; DuckDB twin is zipped parallel unnests).",
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))
        .orderBy("doc_id", "pos")
    )


@register(
    "q_unpivot_part_measures",
    oracle="""
    SELECT p_partkey, measure, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS val FROM part
      UNION ALL
      SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    )
    ORDER BY p_partkey, measure
    """,
    doc="Unpivot (wide→long): part measures melted to (key, measure, value) "
    "rows via stack() — the inverse of .pivot(), an in-row expansion with "
    "no shuffle.",
)
def q_unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.selectExpr(
            "p_partkey",
            "stack(2, 'retailprice', CAST(p_retailprice AS DOUBLE), "
            "'size', CAST(p_size AS DOUBLE)) AS (measure, val)",
        )
        .orderBy("p_partkey", "measure")
    )


@register(
    "q_rank_family",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4)     OVER w AS quartile,
           CUME_DIST()  OVER w AS cume
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_orderpriority, rnk, o_orderkey
    """,
    doc="The full ranking family — rank, dense_rank, ntile, cume_dist — over "
    "one window; unique ORDER BY keeps every function deterministic.",
)
def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("o_orderpriority", "rnk", "o_orderkey")
    )


@register(
    "q_global_topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
    doc="Global top-K: Spark's TakeOrderedAndProject — per-partition top-15 "
    "then a 15-row driver merge, no full sort at any scale.",
)
def q_global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", ts_str("o_orderdate", "o_orderdate"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(15)
    )


@register(
    "q_scalar_function_suite",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substring(p_type, 1, 5) AS type_prefix,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           abs(p_retailprice - 1000.0) AS price_dev,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
           sqrt(p_size) AS size_sqrt,
           CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'medium'
                ELSE 'small' END AS size_class,
           coalesce(nullif(p_brand, 'Brand#11'), 'other') AS brand_masked
    FROM part
    ORDER BY p_partkey
    """,
    doc="Scalar function surface: string (upper/substring/length/concat), "
    "math (abs/floor/sqrt — deterministic IEEE, no rounding ambiguity), "
    "conditional (CASE/coalesce/nullif). All JVM-side codegen, no UDFs.",
)
def q_scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_dev"),
        F.floor(F.col("p_retailprice") / 100).alias("price_bucket"),
        F.sqrt("p_size").alias("size_sqrt"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("p_brand", F.lit("Brand#11")), F.lit("other")).alias(
            "brand_masked"
        ),
    ).orderBy("p_partkey")
