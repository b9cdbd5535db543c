"""Join surface: the relational capabilities the reference delegated to
BigQuery's engine (no join exists anywhere in the reference's own code —
SURVEY.md §2.5; its Gold views joined RAW tables *inside* BigQuery).

Scale notes (100 TB posture):
- Dimension sides (region/nation/customer/supplier/part) are broadcast —
  explicitly hinted where Catalyst's size estimate might miss after filters.
- Fact-fact joins (orders⋈lineitem) shuffle on the join key; at scale the
  warehouse layer bucket-partitions both by orderkey so this becomes a
  co-located join (see operators/range_replace partitioning).
- Semi/anti joins ship only the key column of the probe side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dec_to_double, dsum, register, ts_str


@register(
    "q3_top_unshipped_revenue",
    oracle="""
    SELECT o.o_orderkey,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, o.o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-style shipping priority: 3-way join (broadcast dim ⋈ "
    "shuffled facts), filtered on both fact sides, grouped, deterministic "
    "top-10 (revenue is an exact decimal sum, ties broken by orderkey).",
)
def q3_top_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "o_orderkey", "revenue", ts_str("o_orderdate", "o_orderdate"), "o_orderpriority"
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "o_orderkey")
        .limit(10)
    )


@register(
    "q5_region_nation_revenue",
    oracle="""
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    doc="TPC-H Q5-style local-supplier revenue: 6-way star join. All four "
    "dimension sides broadcast; only orders⋈lineitem shuffles.",
)
def q5_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == n.n_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q_broadcast_brand_volume",
    oracle="""
    SELECT p.p_brand,
           CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_qty,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    doc="Broadcast equi-join: the canonical fact⋈small-dim pattern. The dim "
    "ships to every executor once; the 100 TB fact side never shuffles.",
)
def q_broadcast_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(dsum("l_quantity", "total_qty"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy("p_brand")
    )


@register(
    "q_semi_join_active_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    ORDER BY c.c_custkey
    """,
    doc="Left-semi join (EXISTS): customers with at least one open order. "
    "Only the key column of orders crosses the wire.",
)
def q_semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q_anti_join_inactive_customers",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
    doc="Left-anti join (NOT EXISTS): customers with no orders at all.",
)
def q_anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "q_outer_join_order_counts",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))), 0) AS STRING) AS DOUBLE) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
    doc="Left-outer join + aggregate: per-customer order counts including "
    "zero-order customers (COUNT of a null-extended column skips nulls).",
)
def q_outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dec_to_double(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(25,6)")),
                    F.lit(0).cast("decimal(25,6)"),
                )
            ).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


N_SALTS = 8  # fan-out factor for the salted-join skew mitigation


@register(
    "q_salted_skew_join",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events e
    JOIN nation n ON n.n_nationkey = e.user_id % 25
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    doc="Salted fact-dim join — the explicit skew-mitigation pattern for "
    "when one key dominates and the dim side is too large to broadcast "
    "(complementing AQE's runtime skew split, which only fires on "
    "sort-merge joins past its thresholds): the fact side appends a "
    "deterministic salt = xxhash64(row id) % 8, the dim side explodes each "
    "row into all 8 salts, and the join runs on (key, salt) so a hot key's "
    "rows spread over 8 tasks instead of one. The salt never reaches the "
    "output — the oracle is the plain unsalted join. shuffle_hash-hinted "
    "so the demo actually shuffles (a broadcast would bypass the salt).",
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    nat = load_table(spark, sf_dir, "nation")
    fact = ev.select(
        F.pmod(F.col("user_id"), F.lit(25)).alias("jk"),
        F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)).cast("int").alias("salt"),
        "value",
    )
    dim = nat.select(
        F.col("n_nationkey").alias("jk"),
        F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))).alias("salt"),
        "n_name",
    )
    return (
        fact.join(dim.hint("shuffle_hash"), ["jk", "salt"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Interval overlap (range) join — the time-interval counterpart of the as-of
# join family. Spark has no native range join, and the naive formulation
# (theta-join on sa < eb AND sb < ea) plans as a nested-loop cartesian. The
# scale idiom is BINNING: slice time into fixed bins, explode each interval
# to the bins it covers, equi-join on the bin id, then (1) re-check the
# exact overlap predicate and (2) keep each pair only in the bin containing
# the overlap START — greatest(sa, sb) — so a pair spanning several shared
# bins is counted exactly once WITHOUT a distinct shuffle. Work scales with
# overlap density per bin, never |A|×|B|; the bin width is the tuning knob
# (≈ median interval length). DuckDB replays it as a plain inequality join
# (its IEJoin handles fixture scale), making this a strong cross-algorithm
# check.

ORDER_WINDOW_D = 7  # order fulfilment window [o_orderdate, +7d)
SHIP_WINDOW_D = 3  # shipment activity window [l_shipdate, +3d)
BIN_D = 7


@register(
    "q_interval_overlap_join",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey,
             datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS sa
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
    ),
    b AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01', l_shipdate) AS sb
      FROM lineitem
      WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
    )
    SELECT a.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_overlaps
    FROM a JOIN b
      ON a.sa < b.sb + {SHIP_WINDOW_D} AND b.sb < a.sa + {ORDER_WINDOW_D}
    GROUP BY a.o_orderkey
    ORDER BY a.o_orderkey
    """,
    doc=f"Interval overlap join via bin-and-canonicalize: urgent 1995 "
    f"orders' [{ORDER_WINDOW_D}d) fulfilment windows against all "
    f"[{SHIP_WINDOW_D}d) shipment windows. Each interval explodes to its "
    f"{BIN_D}-day bins, candidates equi-join on bin id, the exact overlap "
    "predicate filters, and each pair survives only in the bin holding "
    "greatest(start_a, start_b) — exactly-once counting with no distinct. "
    "The oracle runs DuckDB's native inequality join instead; identical "
    "counts prove the binning is complete and non-duplicating.",
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    ).select(
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1995-01-01")).alias("sa"),
    )
    b = li.filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    ).select(F.datediff("l_shipdate", F.lit("1995-01-01")).alias("sb"))
    ab = a.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.expr(f"sa div {BIN_D}"),
                F.expr(f"(sa + {ORDER_WINDOW_D} - 1) div {BIN_D}"),
            )
        ),
    )
    bb = b.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.expr(f"sb div {BIN_D}"),
                F.expr(f"(sb + {SHIP_WINDOW_D} - 1) div {BIN_D}"),
            )
        ),
    )
    return (
        ab.join(bb, "bin")
        .filter(
            (F.col("sa") < F.col("sb") + SHIP_WINDOW_D)
            & (F.col("sb") < F.col("sa") + ORDER_WINDOW_D)
            # canonical bin: count the pair only where the overlap starts
            & (F.col("bin") == F.expr(f"greatest(sa, sb) div {BIN_D}"))
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlaps"))
        .orderBy("o_orderkey")
    )


@register(
    "q_outer_join_null_skew",
    oracle="""
    WITH ev AS (
      SELECT event_id, NULLIF(user_id % 500, 0) + 1000 AS cust_ref, value
      FROM events
    )
    SELECT COALESCE(c.c_mktsegment, 'ANONYMOUS') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(ev.value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM ev LEFT JOIN customer c ON c.c_custkey = ev.cust_ref
    GROUP BY 1 ORDER BY segment
    """,
    doc="Null-key skew routing for outer joins: events whose customer "
    "reference is NULL (anonymous traffic — here every user_id ≡ 0 mod "
    "500, the classic single-hot-key shape) would all hash to ONE reducer "
    "in a shuffled left join, the textbook 100 TB straggler. The operator "
    "splits the fact side first: null-key rows BYPASS the join entirely "
    "(padded with null dim columns via a zero-cost select — they can never "
    "match), only non-null rows shuffle, and the two legs union. The "
    "oracle runs the naive LEFT JOIN — identical totals prove the routing "
    "loses and invents nothing.",
)
def q_outer_join_null_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.expr("NULLIF(user_id % 500, 0)") + 1000).alias("cust_ref"),
        "value",
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_ref"), "c_mktsegment"
    )
    with_key = ev.filter(F.col("cust_ref").isNotNull()).join(c, "cust_ref", "left")
    null_key = ev.filter(F.col("cust_ref").isNull()).withColumn(
        "c_mktsegment", F.lit(None).cast("string")
    )
    return (
        with_key.unionByName(null_key)
        .groupBy(F.coalesce("c_mktsegment", F.lit("ANONYMOUS")).alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value", "total_value"),
        )
        .orderBy("segment")
    )
