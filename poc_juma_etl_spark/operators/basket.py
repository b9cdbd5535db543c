"""Market-basket analysis: co-occurrence support and lift over order baskets.

The association-rules workload (Agrawal & Srikant 1994's frequent-itemset
core): which item pairs appear in the same basket more often than chance?
`support(a,b)` = co-occurrence count, `lift(a,b)` =
N·cnt(a,b) / (cnt(a)·cnt(b)) — lift > 1 means the pair attracts.

Scale shape (the posting-list discipline from operators/dedup.py):
- each basket's distinct item set is built by ONE groupBy on the basket
  key and is naturally bounded (an order has ~7 lines), so the i<j pair
  explosion is in-row over a tiny sorted array — the quadratic blowup of
  a basket-level self-join never exists;
- pair counts and item counts are two combinable aggregations;
- item counts ride a broadcast back onto the (items²-bounded) pair table.

Lift is int-exact across engines: counts are int64, the products stay
below 2^53, and the single double division runs on bit-identical
operands (same discipline as q_trend_fit_forecast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register, scoped_cache

MIN_PAIR_SUPPORT = 50


@register(
    "q_basket_lift",
    oracle=f"""
    WITH b AS (
      SELECT l.l_orderkey, list_sort(list(DISTINCT p.p_brand)) AS brands
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY l.l_orderkey
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets FROM b),
    item AS (
      SELECT brand, COUNT(*) AS cnt
      FROM (SELECT unnest(brands) AS brand FROM b)
      GROUP BY brand
    ),
    pair AS (
      SELECT u.p[1] AS brand_a, u.p[2] AS brand_b, CAST(COUNT(*) AS BIGINT) AS pair_count
      FROM (
        SELECT unnest(flatten(list_transform(brands, (x, i) ->
                 list_transform(brands[i + 1:], y -> [x, y])))) AS p
        FROM b
      ) u
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MIN_PAIR_SUPPORT}
    )
    SELECT pr.brand_a, pr.brand_b, pr.pair_count,
           CAST(ia.cnt AS BIGINT) AS count_a, CAST(ib.cnt AS BIGINT) AS count_b,
           ROUND(CAST(n.n_baskets * pr.pair_count AS DOUBLE)
                 / CAST(ia.cnt * ib.cnt AS DOUBLE), 6) AS lift
    FROM pair pr
    JOIN item ia ON ia.brand = pr.brand_a
    JOIN item ib ON ib.brand = pr.brand_b
    CROSS JOIN n
    ORDER BY brand_a, brand_b
    """,
    doc=f"Market-basket lift over order baskets: per-order distinct brand "
    "sets (bounded — one groupBy), i<j pairs emitted in-row from the "
    "sorted set (never a basket self-join), pair and item counts as two "
    f"combinable aggregations, pairs with support ≥ {MIN_PAIR_SUPPORT} "
    "scored lift = N·cnt(ab)/(cnt(a)·cnt(b)) with int-exact operands. "
    "Item counts ride broadcasts onto the pair table.",
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = scoped_cache(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    n = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    item = b.select(F.explode("brands").alias("brand")).groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    pair = (
        b.select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) -> "
                    "transform(slice(brands, i + 2, size(brands)), "
                    "y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.brand_a").alias("brand_a"), F.col("pr.brand_b").alias("brand_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .filter(F.col("pair_count") >= MIN_PAIR_SUPPORT)
    )
    ia = item.select(F.col("brand").alias("brand_a"), F.col("cnt").alias("count_a"))
    ib = item.select(F.col("brand").alias("brand_b"), F.col("cnt").alias("count_b"))
    lift = F.round(
        (F.col("n_baskets") * F.col("pair_count")).cast("double")
        / (F.col("count_a") * F.col("count_b")).cast("double"),
        6,
    )
    return (
        pair.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a", "brand_b", "pair_count", "count_a", "count_b", lift.alias("lift")
        )
        .orderBy("brand_a", "brand_b")
    )
