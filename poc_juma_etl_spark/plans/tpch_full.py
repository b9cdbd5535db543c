"""TPC-H completion: the 13 numbered-query shapes (Q2, Q6-Q9, Q11, Q13,
Q15-Q17, Q20-Q22) the registry didn't already cover, adapted to the fixture
star schema.

The fixture schema has no ``partsupp`` table and no
``l_commitdate``/``l_receiptdate``/``c_phone`` columns, so the four queries
built on those (Q2, Q11, Q16, Q20 on partsupp; Q21 on receipt lateness; Q22
on phone prefixes) are re-based on equivalents that preserve the *plan
shape* being exercised — correlated min-per-group, scalar-subquery
threshold, NOT-IN anti-join, nested-IN semi-joins, double EXISTS/NOT-EXISTS,
and substring-code grouping respectively — with the substitution documented
per query. Everything else is the textbook query on the fixture columns.

The reference (fe-malveira-87/poc-juma-etl) delegates all querying to
BigQuery (SURVEY.md §2.5); these queries define the equivalent engine-owned
surface. Oracle parity follows the decimal-sum rules in
``plans/queries.py``: every double aggregate is decimal(25,6)-cast before
summing on BOTH engines, years are emitted as strings, and every computed
column carries the same alias in the DataFrame plan and the oracle SQL.

Scale notes (100 TB): every query here is dimension-broadcast + single
fact shuffle, except Q21 (fact-fact self-joins, all hash-equi on
l_orderkey — three shuffles on the same key, which AQE plans as one
exchange reuse) and Q13 (customer×orders outer join shuffled on custkey,
then a tiny re-aggregation on the count). No cartesian products; the
plan-quality sweep (tests/test_plan_quality.py) asserts that for every
registered query including these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import davg, dec_to_double, dsum, register

_TS = "timestamp"


def _between(col: str, lo: str, hi: str):
    return (F.col(col) >= F.lit(lo).cast(_TS)) & (F.col(col) < F.lit(hi).cast(_TS))


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: forecast-revenue-change — pure scan-filter-aggregate, no "
    "joins. The canonical predicate-pushdown query: all three filters reach "
    "the parquet reader, and the aggregate is a single map-side-combined "
    "scalar. The linear-scaling floor every engine is judged against.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        _between("l_shipdate", "1996-01-01 00:00:00", "1997-01-01 00:00:00")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.groupBy().agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT n2.n_name AS supp_nation,
           n1.n_name AS cust_nation,
           strftime(l.l_shipdate, '%Y') AS l_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey  = l.l_orderkey
    JOIN customer c ON c.c_custkey   = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey
    JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7: volume shipping between two nations by year. Five-way "
    "star join where every dimension side (orders aside) is broadcast; the "
    "disjunctive nation-pair predicate is applied post-join on broadcast "
    "columns, so the only shuffle is the final 3-key aggregation.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2")
    ) | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT strftime(o.o_orderdate, '%Y') AS o_year,
           CAST(CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_2'
                     THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END
                     AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
           / CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p     ON p.p_partkey   = l.l_partkey
    JOIN orders o   ON o.o_orderkey  = l.l_orderkey
    JOIN customer c ON c.c_custkey   = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey  = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey
    JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8: national market share — NATION_2's fraction of PROMO-part "
    "revenue sold into ASIA per year. Seven-way join, all six non-fact "
    "sides broadcast; conditional/total decimal sums divided in DOUBLE.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders").filter(
        _between("o_orderdate", "1996-01-01 00:00:00", "1998-01-01 00:00:00")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation2_vol = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(
            (
                dec_to_double(F.sum(nation2_vol.cast("decimal(25,6)")))
                / dec_to_double(F.sum(vol.cast("decimal(25,6)")))
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           strftime(o.o_orderdate, '%Y') AS o_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - 0.6 * p.p_retailprice * l.l_quantity
                     AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey   = l.l_partkey
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey  = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9: product-type profit by supplier nation and year. The "
    "fixture schema has no partsupp.ps_supplycost, so unit cost is modeled "
    "as 0.6 * p_retailprice (the substitution is the only delta from the "
    "textbook query; the plan shape — LIKE-filtered part dimension "
    "broadcast into the fact, profit expression, two-key aggregate — is "
    "identical).",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy").alias("o_year"),
        )
        .agg(dsum(profit, "sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
             / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS supply_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           ps.supply_cost
    FROM part p
    JOIN ps ON ps.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size IN (15, 25, 35, 45) AND p.p_type = 'STANDARD'
      AND ps.supply_cost = (
        SELECT MIN(ps2.supply_cost) FROM ps ps2 WHERE ps2.l_partkey = p.p_partkey
      )
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    """,
    doc="TPC-H Q2: minimum-cost supplier — correlated MIN-per-part scalar "
    "subquery. No partsupp table in the fixture schema, so the "
    "part×supplier cost relation is derived from lineitem as realized unit "
    "price (decimal-sum(extendedprice)/decimal-sum(quantity)); the Q2 "
    "shape under test — per-group MIN correlated against the outer row — "
    "is expressed in Spark as a groupBy-min re-join, which Catalyst also "
    "produces when decorrelating the SQL form.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(15, 25, 35, 45) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        (
            dec_to_double(F.sum(F.col("l_extendedprice").cast("decimal(25,6)")))
            / dec_to_double(F.sum(F.col("l_quantity").cast("decimal(25,6)")))
        ).alias("supply_cost")
    )
    # correlated MIN decorrelated: min cost per part, re-joined on equality
    min_cost = ps.groupBy("l_partkey").agg(F.min("supply_cost").alias("min_cost"))
    return (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(min_cost, "l_partkey")
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH slice AS (
      SELECT l.l_partkey, l.l_extendedprice * (1 - l.l_discount) AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
    )
    SELECT l_partkey,
           CAST(CAST(SUM(CAST(val AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS part_value
    FROM slice
    GROUP BY l_partkey
    HAVING CAST(CAST(SUM(CAST(val AS DECIMAL(25,6))) AS STRING) AS DOUBLE) >
           0.002 * (SELECT CAST(CAST(SUM(CAST(val AS DECIMAL(25,6))) AS STRING) AS DOUBLE) FROM slice)
    ORDER BY part_value DESC, l_partkey
    """,
    doc="TPC-H Q11: important stock — parts whose traded value within one "
    "nation exceeds a fraction of that nation's total (HAVING against an "
    "uncorrelated scalar subquery). partsupp-less adaptation: value is "
    "realized lineitem revenue instead of availqty*supplycost. The scalar "
    "total is a 1-row broadcast cross-join in the Spark plan.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    sl = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"),
        )
    )
    per_part = sl.groupBy("l_partkey").agg(dsum("val", "part_value"))
    total = sl.groupBy().agg(dsum("val", "total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 0.002 * F.col("total_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13: customer order-count distribution — left outer join "
    "with a join-side predicate (not a WHERE, so no-order customers "
    "survive as count 0), then a re-aggregation of the counts. The second "
    "aggregate's key space is tiny (≤ max orders per customer), so the "
    "second shuffle is negligible at any scale.",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (o.o_custkey == c.c_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.total_revenue
    FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15: top supplier — quarterly revenue view, suppliers whose "
    "revenue equals the global MAX (uncorrelated scalar subquery). The max "
    "is a 1-row broadcast; both engines compare bit-identical "
    "decimal-summed doubles, so the equality is portable.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        _between("l_shipdate", "1996-01-01 00:00:00", "1996-04-01 00:00:00")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    mx = rev.groupBy().agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16: parts/supplier relationship — distinct supplier counts "
    "per (brand, type, size) with a NOT-IN anti-join against a "
    "sub-selected supplier set. partsupp-less adaptation: the "
    "part↔supplier relation comes from lineitem, and 'customer "
    "complaints' is proxied by negative account balance. The NOT IN is a "
    "broadcast null-aware anti-join (the subquery side is 6 rows); "
    "COUNT(DISTINCT) shuffles once on the 3-part group key.",
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pavg AS (
      SELECT l_partkey,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
               / COUNT(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pavg  ON pavg.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND l.l_quantity < 0.2 * pavg.avg_qty
    GROUP BY 'all'
    """,
    doc="TPC-H Q17: small-quantity-order revenue — lines below 20% of their "
    "part's average quantity (correlated scalar AVG, decorrelated to a "
    "per-part aggregate re-joined to the fact). The per-part average uses "
    "the decimal-sum/count pattern on both engines so the 0.2*avg "
    "threshold compares bit-identical doubles.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pavg = l.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        davg("l_quantity", "avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pavg, l.l_partkey == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .groupBy()
        .agg(
            (
                dec_to_double(F.sum(F.col("l_extendedprice").cast("decimal(25,6)")))
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q20_promotion_suppliers",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey
      HAVING CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) > 285.5
    )
    ORDER BY s.s_name
    """,
    doc="TPC-H Q20: potential part promotion — nested-IN semi-join chain: "
    "suppliers who moved more than a threshold quantity of red parts in "
    "1996. partsupp-less adaptation: 'excess availability' becomes "
    "realized shipped quantity over the HAVING threshold. Spark plan: "
    "broadcast semi-join on the red-part keys, one aggregation on "
    "suppkey, then a semi-join back to supplier.",
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        _between("l_shipdate", "1996-01-01 00:00:00", "1997-01-01 00:00:00")
    )
    red = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    movers = (
        l.join(F.broadcast(red), l.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity", "qty"))
        .filter(F.col("qty") > 285.5)
    )
    return (
        s.join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_suppliers_kept_waiting",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
    doc="TPC-H Q21: suppliers who kept orders waiting — the sole-blame "
    "pattern: late lines in finished multi-supplier orders where no OTHER "
    "supplier was late. The fixture schema has no l_receiptdate/"
    "l_commitdate, so 'late' is shipped more than 90 days after the order "
    "date. EXISTS → left-semi, NOT EXISTS → left-anti, both hash "
    "joins keyed on l_orderkey with the suppkey inequality as a residual "
    "filter — three shuffles on the same key, which AQE collapses via "
    "exchange reuse.",
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = l.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    blamed = late.join(
        others,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    ).join(
        late_others,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    return (
        blamed.join(F.broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@register(
    "q22_idle_customers",
    oracle="""
    SELECT CAST(c.c_custkey % 7 AS VARCHAR) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(c_acctbal)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    doc="TPC-H Q22: global sales opportunity — above-average-balance "
    "customers with no recent orders, grouped by country code. The fixture "
    "schema has no c_phone, so the code is c_custkey % 7 (same "
    "substring-classifier shape); 'never ordered' becomes 'no order since "
    "1999' because every fixture customer has old orders. Scalar AVG via "
    "the decimal pattern; NOT EXISTS as a shuffled anti-join against the "
    "date-pruned orders scan.",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast(_TS)
    )
    avg_pos = (
        c.filter(F.col("c_acctbal") > 0).groupBy().agg(davg("c_acctbal", "avg_bal"))
    )
    return (
        c.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 7).cast("string").alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal", "totacctbal"))
        .orderBy("cntrycode")
    )
