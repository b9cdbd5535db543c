"""Round-3 relational surface extensions: data-quality audit, conditional /
bitwise / struct scalar-function suites, interval RANGE window frames, and
fixed-width histograms.

The DQ audit generalizes the reference's implicit contract that RAW loads
never orphan fact rows (its delete-range+insert keys fact tables to date
windows, reference utils.py:255-283, and gold CTAS assumes the star joins
close, materialize_gold.py:42-79) into explicit, engine-checked constraint
queries — the first thing a warehouse owner runs after every load. The
function suites pin the remaining scalar dialect corners both engines share;
the RANGE-frame window and histogram are the canonical analytics idioms
(trailing-30-day spend, price distribution) BigQuery users run on the gold
layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dec_to_double, dsum, register


@register(
    "q_dq_audit",
    oracle="""
    SELECT 'orphan_lineitems' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS violations
    UNION ALL
    SELECT 'orphan_orders',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'dup_custkeys',
           CAST((SELECT COUNT(*) FROM
                   (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1))
                AS BIGINT)
    UNION ALL
    SELECT 'null_orderdate',
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'nonpositive_quantity',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
    UNION ALL
    SELECT 'ship_before_order',
           CAST((SELECT COUNT(*) FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
                 WHERE l.l_shipdate < o.o_orderdate) AS BIGINT)
    ORDER BY check_name
    """,
    doc="Data-quality audit over the star schema: referential integrity "
    "(orphan facts via LEFT ANTI joins), key uniqueness, null-rate, domain "
    "(non-positive quantity), and temporal-order (shipped before ordered) "
    "checks, unioned into one check_name/violations report. Each check is "
    "an independent distributed aggregate — anti joins shuffle on the join "
    "key, the count aggregates are map-side partial — so the audit runs as "
    "one job with no driver-side iteration and scales with the fact table. "
    "Mirrors the load-contract the reference trusts implicitly "
    "(utils.py:255-283, materialize_gold.py:42-79).",
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        # a global COUNT over an empty input still yields one row (0)
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )

    orphan_li = one("orphan_lineitems", li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"))
    orphan_o = one("orphan_orders", o.join(c, o.o_custkey == c.c_custkey, "left_anti"))
    dup_c = one(
        "dup_custkeys",
        c.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1),
    )
    null_date = one("null_orderdate", o.filter(F.col("o_orderdate").isNull()))
    nonpos_qty = one("nonpositive_quantity", li.filter(F.col("l_quantity") <= 0))
    ship_before = one(
        "ship_before_order",
        li.join(o, li.l_orderkey == o.o_orderkey).filter(F.col("l_shipdate") < F.col("o_orderdate")),
    )
    return (
        orphan_li.unionByName(orphan_o)
        .unionByName(dup_c)
        .unionByName(null_date)
        .unionByName(nonpos_qty)
        .unionByName(ship_before)
        .orderBy("check_name")
    )


@register(
    "q_null_conditional_suite",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_discount,
           CAST(CAST(SUM(CAST(coalesce(nullif(l_discount, 0.0), 0.05) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
             AS sum_effective_discount,
           CAST(CAST(SUM(CAST(least(l_quantity, 25.0) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_capped_qty,
           CAST(CAST(SUM(CAST(greatest(l_extendedprice * (1 - l_discount), 1000.0)
                         AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_floored_revenue,
           CAST(SUM(CASE WHEN l_quantity > 30 THEN 2 WHEN l_quantity > 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS volume_score,
           CAST(SUM(CASE WHEN l_tax > l_discount THEN 1 ELSE 0 END) AS BIGINT) AS n_tax_gt_disc
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Null-handling / conditional scalar suite: NULLIF (zero→null), "
    "COALESCE fallback, LEAST/GREATEST capping, multi-branch CASE scoring "
    "and boolean-counting CASE — the conditional dialect shared verbatim by "
    "Spark and ANSI SQL. All expressions are Catalyst column ops inside one "
    "map-side-partial hash aggregate; floats are decimal-summed so the "
    "group totals are order-independent across engines.",
)
def q_null_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    eff_disc = F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(0.05))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.nullif(F.col("l_discount"), F.lit(0.0)).isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_zero_discount"),
            dec_to_double(F.sum(eff_disc.cast("decimal(25,6)"))).alias("sum_effective_discount"),
            dec_to_double(
                F.sum(F.least(F.col("l_quantity"), F.lit(25.0)).cast("decimal(25,6)"))
            ).alias("sum_capped_qty"),
            dec_to_double(
                F.sum(
                    F.greatest(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")), F.lit(1000.0)
                    ).cast("decimal(25,6)")
                )
            ).alias("sum_floored_revenue"),
            F.sum(
                F.when(F.col("l_quantity") > 30, 2).when(F.col("l_quantity") > 10, 1).otherwise(0)
            ).cast("bigint").alias("volume_score"),
            F.sum(F.when(F.col("l_tax") > F.col("l_discount"), 1).otherwise(0))
            .cast("bigint").alias("n_tax_gt_disc"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_bitwise_function_suite",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey & 255) AS BIGINT) AS sum_and,
           CAST(SUM(o_orderkey | 4096) AS BIGINT) AS sum_or,
           CAST(SUM(xor(o_orderkey, 170)) AS BIGINT) AS sum_xor,
           CAST(SUM(o_orderkey << 2) AS BIGINT) AS sum_shl,
           CAST(SUM(o_orderkey >> 3) AS BIGINT) AS sum_shr,
           CAST(SUM(bit_count(o_orderkey)) AS BIGINT) AS sum_popcount
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Bitwise scalar suite over the order key: AND/OR/XOR masks, left/"
    "right shifts, and population count, aggregated per status so the gate "
    "checks millions of per-row evaluations through a handful of BIGINT "
    "sums. Bit twiddling is how an engine packs flags, shards keys and "
    "buckets hashes (the engine's own SimHash/SRP operators depend on "
    "these being exact); everything runs in whole-stage codegen.",
)
def q_bitwise_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(k.bitwiseAND(F.lit(255))).cast("bigint").alias("sum_and"),
            F.sum(k.bitwiseOR(F.lit(4096))).cast("bigint").alias("sum_or"),
            F.sum(k.bitwiseXOR(F.lit(170))).cast("bigint").alias("sum_xor"),
            F.sum(F.shiftleft(k, 2)).cast("bigint").alias("sum_shl"),
            F.sum(F.shiftright(k, 3)).cast("bigint").alias("sum_shr"),
            F.sum(F.bit_count(k)).cast("bigint").alias("sum_popcount"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_struct_function_suite",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             max(struct_pack(price := o_totalprice, okey := o_orderkey)) AS top,
             min(struct_pack(price := o_totalprice, okey := o_orderkey)) AS bottom,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders
      GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders,
           top.price AS top_price, CAST(top.okey AS BIGINT) AS top_orderkey,
           bottom.price AS bottom_price, CAST(bottom.okey AS BIGINT) AS bottom_orderkey,
           CAST(top.price - bottom.price AS DOUBLE) AS price_spread
    FROM agg
    ORDER BY o_orderpriority
    """,
    doc="Struct-type suite: rows packed into (price, orderkey) structs, "
    "MIN/MAX over the struct's lexicographic order picking the extreme "
    "order atomically (the argmax-via-struct idiom — both fields travel "
    "together, no join-back), then field access to unpack. One hash "
    "aggregate; ties impossible because o_orderkey is unique, so the "
    "result is deterministic in both engines.",
)
def q_struct_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    s = F.struct(F.col("o_totalprice").alias("price"), F.col("o_orderkey").alias("okey"))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max(s).alias("top"),
            F.min(s).alias("bottom"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("top.price").alias("top_price"),
            F.col("top.okey").cast("bigint").alias("top_orderkey"),
            F.col("bottom.price").alias("bottom_price"),
            F.col("bottom.okey").cast("bigint").alias("bottom_orderkey"),
            (F.col("top.price") - F.col("bottom.price")).cast("double").alias("price_spread"),
        )
        .orderBy("o_orderpriority")
    )


RANGE_CUST_MOD = 100  # keep the gate output bounded: ~1% of customers


@register(
    "q_window_range_frame",
    oracle=f"""
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(o_orderkey AS BIGINT) AS o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS STRING) AS DOUBLE) AS trailing_30d_spend,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_30d_orders
    FROM orders
    WHERE o_custkey % {RANGE_CUST_MOD} = 0
    ORDER BY o_custkey, o_orderkey
    """,
    doc="Interval RANGE window frame: per customer, trailing-30-day spend "
    "and order count — the frame is bounded by event-time distance, not row "
    "count, so same-day orders are peers and quiet periods shrink the "
    "window (semantics ROWS frames cannot express). One shuffle on the "
    "partition key; the interval frame is evaluated by Catalyst's window "
    "exec with a sliding aggregate buffer, never re-scanning the frame per "
    "row. Peer-tied sums are decimal-exact, so tie order between engines "
    "cannot change the output.",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % RANGE_CUST_MOD == 0
    )
    # interval RANGE frames aren't expressible via Window.rangeBetween's
    # long offsets — use the SQL window dialect, still pure Catalyst.
    frame = (
        "PARTITION BY o_custkey ORDER BY o_orderdate "
        "RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW"
    )
    return (
        o.select(
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.expr(
                f"CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER ({frame})"
                f" AS STRING) AS DOUBLE)"
            ).alias("trailing_30d_spend"),
            F.expr(f"CAST(COUNT(*) OVER ({frame}) AS BIGINT)").alias("trailing_30d_orders"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


HIST_BUCKETS = 16


@register(
    "q_histogram_prices",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi FROM part
    ),
    bucketed AS (
      SELECT least(CAST(floor((p_retailprice - lo) / ((hi - lo) / {HIST_BUCKETS})) AS BIGINT),
                   {HIST_BUCKETS - 1}) AS bucket,
             p_retailprice, lo, hi
      FROM part CROSS JOIN bounds
    )
    SELECT bucket,
           CAST(MIN(lo + bucket * ((hi - lo) / {HIST_BUCKETS})) AS DOUBLE) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_price
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="Fixed-width histogram: global min/max computed in one tiny "
    "aggregate, broadcast to every row (a 2-value build side — never a "
    "shuffle), each price mapped to its bucket with pure arithmetic, then "
    "one hash aggregate per bucket. The two-pass shape is the scalable "
    "histogram: pass one reduces to 2 scalars, pass two is map-side "
    "partial — no sort, no per-bucket scan, identical at sf0.001 and "
    "100 TB.",
)
def q_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    bounds = p.agg(F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / HIST_BUCKETS
    bucket = F.least(
        F.floor((F.col("p_retailprice") - F.col("lo")) / width).cast("bigint"),
        F.lit(HIST_BUCKETS - 1),
    )
    return (
        p.crossJoin(F.broadcast(bounds))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.min(F.col("lo") + F.col("bucket") * width).cast("double").alias("bucket_lo"),
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            dec_to_double(F.sum(F.col("p_retailprice").cast("decimal(25,6)"))).alias("sum_price"),
        )
        .orderBy("bucket")
    )


Z_THRESH = 2.5


@register(
    "q_zscore_outliers",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_p,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(19,6)) * CAST(o_totalprice AS DECIMAL(13,6)))
                  AS STRING) AS DOUBLE) AS sum_sq
      FROM orders GROUP BY o_orderpriority
    ),
    m AS (
      SELECT o_orderpriority, n_rows,
             sum_p / n_rows AS mean_p,
             sqrt((sum_sq - ((sum_p * sum_p) / n_rows)) / (n_rows - 1)) AS std_p
      FROM s
    )
    SELECT m.o_orderpriority, m.n_rows,
           CAST(COUNT(CASE WHEN abs((o.o_totalprice - m.mean_p) / m.std_p) > {Z_THRESH}
                           THEN 1 END) AS BIGINT) AS n_outliers,
           round(max(abs((o.o_totalprice - m.mean_p) / m.std_p)), 6) AS max_abs_z
    FROM orders o JOIN m ON m.o_orderpriority = o.o_orderpriority
    GROUP BY m.o_orderpriority, m.n_rows
    ORDER BY m.o_orderpriority
    """,
    doc=f"Z-score outlier detection per group: two-pass — decimal-exact "
    "sum/sum-of-squares per group (one tiny aggregate, broadcast back), "
    "then each row scored against its group's mean/std and counted past "
    f"|z| > {Z_THRESH}. The textbook distributed outlier scan: no sort, "
    "no window, group stats are scalars. Variance uses the pinned "
    "(sumsq - sum²/n)/(n-1) op order; squares multiply in exact decimal "
    "(never cast a >2^53 double to decimal), and the output statistic is "
    "rounded to 6 digits because the ~21-digit sum-of-squares "
    "decimal→double conversion itself rounds differently across engines "
    "(the inverse of the README's double→decimal pitfall — both "
    "directions are unsafe past 2^53).",
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dec_to_double(F.sum(F.col("o_totalprice").cast("decimal(25,6)"))).alias("sum_p"),
        # square in exact decimal, never cast the squared double: a double
        # past 2^53 re-rounds differently in DuckDB (README exactness notes)
        dec_to_double(
            F.sum(
                F.col("o_totalprice").cast("decimal(19,6)")
                * F.col("o_totalprice").cast("decimal(13,6)")
            )
        ).alias("sum_sq"),
    )
    m = s.select(
        "o_orderpriority",
        "n_rows",
        (F.col("sum_p") / F.col("n_rows")).alias("mean_p"),
        F.sqrt(
            (F.col("sum_sq") - ((F.col("sum_p") * F.col("sum_p")) / F.col("n_rows")))
            / (F.col("n_rows") - 1)
        ).alias("std_p"),
    )
    z = F.abs((F.col("o_totalprice") - F.col("mean_p")) / F.col("std_p"))
    return (
        o.join(F.broadcast(m), "o_orderpriority")
        .groupBy("o_orderpriority", "n_rows")
        .agg(
            F.count(F.when(z > Z_THRESH, 1)).cast("bigint").alias("n_outliers"),
            F.round(F.max(z), 6).alias("max_abs_z"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_chi_square_segments",
    oracle="""
    WITH joined AS (
      SELECT c.c_mktsegment AS seg, o.o_orderstatus AS st
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    obs AS (SELECT seg, st, CAST(COUNT(*) AS BIGINT) AS n FROM joined GROUP BY seg, st),
    rowt AS (SELECT seg, CAST(SUM(n) AS BIGINT) AS nr FROM obs GROUP BY seg),
    colt AS (SELECT st, CAST(SUM(n) AS BIGINT) AS nc FROM obs GROUP BY st),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM obs),
    cells AS (
      SELECT obs.n,
             (CAST(rowt.nr AS DOUBLE) * colt.nc) / tot.nt AS expected
      FROM obs JOIN rowt ON rowt.seg = obs.seg
               JOIN colt ON colt.st = obs.st
               CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(CAST(SUM(CAST(((n - expected) * (n - expected)) / expected
                         AS DECIMAL(25,9))) AS STRING) AS DOUBLE) AS chi2
    FROM cells
    """,
    doc="Chi-square independence test (market segment × order status): "
    "observed contingency cells vs expected = row·col/total, summed as "
    "(o-e)²/e. One shuffle builds the contingency table; marginals are "
    "re-aggregates of the tiny cell table; every per-cell term is "
    "identical IEEE arithmetic and the final statistic is decimal-summed. "
    "The correlation-screening primitive of feature/bias audits at corpus "
    "scale.",
)
def q_chi_square_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_orderstatus").alias("st"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rowt = obs.groupBy("seg").agg(F.sum("n").cast("bigint").alias("nr"))
    colt = obs.groupBy("st").agg(F.sum("n").cast("bigint").alias("nc"))
    tot = obs.agg(F.sum("n").cast("bigint").alias("nt"))
    cells = (
        obs.join(F.broadcast(rowt), "seg")
        .join(F.broadcast(colt), "st")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            ((F.col("nr").cast("double") * F.col("nc")) / F.col("nt")).alias("expected"),
        )
    )
    diff = F.col("n") - F.col("expected")
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        dec_to_double(
            F.sum(((diff * diff) / F.col("expected")).cast("decimal(25,9)"))
        ).alias("chi2"),
    )


MAD_K = 1.4826  # normal-consistency constant: MAD*K estimates sigma
MAD_THRESH = 3.5  # Iglewicz-Hoaglin robust z cutoff


@register(
    "q_event_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type,
             quantile_cont(value, 0.5) AS med_value,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             quantile_cont(abs(e.value - m.med_value), 0.5) AS mad_value
      FROM events e JOIN med m ON m.event_type = e.event_type
      GROUP BY e.event_type
    )
    SELECT m.event_type, m.n_rows, m.med_value, d.mad_value,
           CAST(COUNT(CASE WHEN abs(e.value - m.med_value) / ({MAD_K} * d.mad_value)
                                > {MAD_THRESH} THEN 1 END) AS BIGINT) AS n_outliers,
           round(max(abs(e.value - m.med_value) / ({MAD_K} * d.mad_value)), 6)
             AS max_robust_z
    FROM events e
    JOIN med m ON m.event_type = e.event_type
    JOIN mad d ON d.event_type = e.event_type
    GROUP BY m.event_type, m.n_rows, m.med_value, d.mad_value
    ORDER BY m.event_type
    """,
    doc="Robust (median/MAD) anomaly detection per event type — the "
    "outlier scan that survives the outliers it hunts, unlike the "
    "mean/std z-score (q_zscore_outliers) which heavy tails drag. Three "
    "passes, each a tiny per-group aggregate broadcast back over the "
    "fact: median, MAD (median absolute deviation), then robust-z "
    "scoring against the Iglewicz-Hoaglin 3.5 cutoff. Exact percentiles "
    "match DuckDB's quantile_cont bitwise; at 100 TB swap "
    "approx_percentile into the same two call sites (partial-mergeable "
    "sketch, identical plan shape).",
)
def q_event_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med_value"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med_value), 0.5)").alias("mad_value"))
    )
    rz = F.abs(F.col("value") - F.col("med_value")) / (MAD_K * F.col("mad_value"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n_rows", "med_value", "mad_value")
        .agg(
            F.count(F.when(rz > MAD_THRESH, 1)).cast("bigint").alias("n_outliers"),
            F.round(F.max(rz), 6).alias("max_robust_z"),
        )
        .orderBy("event_type")
    )


RECON_TOL = 0.01  # header-vs-detail reconciliation tolerance (1%)


@register(
    "q_dq_reconcile_orders",
    oracle=f"""
    WITH l AS (
      SELECT l_orderkey,
             CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS line_total
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_with_lines,
           -- CAST to DOUBLE so the tolerance multiply is the same IEEE
           -- double op as Spark's RECON_TOL * col — a bare 0.01 literal is
           -- DECIMAL in DuckDB and computes an exact product, which can
           -- disagree with the double product by 1 ulp right at the boundary
           CAST(COUNT(CASE WHEN abs(o.o_totalprice - l.line_total)
                                <= CAST({RECON_TOL} AS DOUBLE) * o.o_totalprice THEN 1 END)
                AS BIGINT) AS n_reconciled,
           round(CAST(CAST(SUM(CAST(abs(o.o_totalprice - l.line_total) / o.o_totalprice
                               AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
                 / COUNT(l.l_orderkey), 6) AS mean_rel_diff
    FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="Cross-table reconciliation audit (header vs detail): per order, "
    "the o_totalprice header is compared against the recomputed lineitem "
    "total (extprice x (1-disc) x (1+tax), the TPC-H invariant); per "
    "priority class the audit reports how many orders have lines, how "
    "many reconcile within 1%, and the mean relative discrepancy. The "
    "standard financial-close DQ check: one shuffle on the order key, "
    "detail side pre-aggregated before the join so the fact never "
    "amplifies. (The synthetic fixtures deliberately do NOT maintain the "
    "invariant — the audit's job is to report that, and both engines "
    "must agree on the exact discrepancy profile.)",
)
def q_dq_reconcile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    l = li.groupBy("l_orderkey").agg(
        dec_to_double(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))
                .cast("decimal(25,6)")
            )
        ).alias("line_total")
    )
    rel = F.abs(F.col("o_totalprice") - F.col("line_total")) / F.col("o_totalprice")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count("l_orderkey").cast("bigint").alias("n_with_lines"),
            F.count(F.when(F.abs(F.col("o_totalprice") - F.col("line_total")) <= RECON_TOL * F.col("o_totalprice"), 1))
            .cast("bigint")
            .alias("n_reconciled"),
            F.round(
                dec_to_double(F.sum(rel.cast("decimal(25,6)"))) / F.count("l_orderkey"), 6
            ).alias("mean_rel_diff"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_trend_fit_forecast",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS grp,
             CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS x,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ),
    a AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(MAX(x) AS BIGINT) AS xmax
      FROM m GROUP BY grp
    )
    SELECT grp, n AS n_months,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 4) AS intercept_cents,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE)
                 + (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(xmax + 1 AS DOUBLE),
                 4) AS forecast_cents
    FROM a
    ORDER BY grp
    """,
    doc="Per-group OLS trend fit + one-step forecast: monthly revenue per "
    "order priority regressed on the month index, slope/intercept from the "
    "closed-form normal equations, forecast at x_max+1. Cross-engine "
    "exactness by construction: revenue is quantized to integer cents, "
    "every sum (n, Σx, Σx², Σy, Σxy) is exact int64, and the combined "
    "terms stay below 2^53 so even the int→double conversions are exact — "
    "the one division then runs on bit-identical operands in both engines. "
    "Two map-side-combinable aggregations, no window, no driver math: the "
    "same plan fits millions of series at 100 TB.",
)
def q_trend_fit_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1
    ).cast("bigint")
    m = (
        o.groupBy(
            F.col("o_orderpriority").alias("grp"), x.alias("x")
        ).agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    a = m.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.max("x").cast("bigint").alias("xmax"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    forecast = intercept + slope * (F.col("xmax") + 1).cast("double")
    return (
        a.select(
            "grp",
            F.col("n").alias("n_months"),
            F.round(slope, 6).alias("slope_cents"),
            F.round(intercept, 4).alias("intercept_cents"),
            F.round(forecast, 4).alias("forecast_cents"),
        )
        .orderBy("grp")
    )


@register(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 11 <> 3
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 17 = 2 THEN o_totalprice * 2 ELSE o_totalprice END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 5
    ),
    d AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             CASE
               WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                 OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
             END AS change_type,
             COALESCE(n.o_totalprice, o.o_totalprice) AS price
      FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_key, CAST(MAX(k) AS BIGINT) AS max_key,
           CAST(CAST(SUM(CAST(price AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_price
    FROM d WHERE change_type IS NOT NULL
    GROUP BY change_type
    ORDER BY change_type
    """,
    doc="Snapshot diff / change-data audit: two loads of the orders table "
    "(derived deterministically — rows missing from the old load, rows "
    "deleted from the new one, and price-doubled rows as updates) are "
    "full-outer joined on the key and classified added / removed / "
    "changed with null-safe comparisons, then summarized per change type. "
    "One shuffle on the key — the operator a warehouse runs to validate "
    "every incremental load, and the join shape Delta/Iceberg CDF "
    "materializes natively.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 11 != 3)
    new = o.filter(F.col("o_orderkey") % 13 != 5).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 17 == 2, F.col("o_totalprice") * 2).otherwise(
            F.col("o_totalprice")
        ),
    )
    j = old.alias("o").join(
        new.alias("n"),
        F.col("o.o_orderkey") == F.col("n.o_orderkey"),
        "full_outer",
    )
    change = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(
            ~F.col("o.o_orderstatus").eqNullSafe(F.col("n.o_orderstatus"))
            | ~F.col("o.o_totalprice").eqNullSafe(F.col("n.o_totalprice")),
            "changed",
        )
    )
    return (
        j.select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("k"),
            change.alias("change_type"),
            F.coalesce(F.col("n.o_totalprice"), F.col("o.o_totalprice")).alias("price"),
        )
        .filter(F.col("change_type").isNotNull())
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("k").cast("bigint").alias("min_key"),
            F.max("k").cast("bigint").alias("max_key"),
            dsum("price", "sum_price"),
        )
        .orderBy("change_type")
    )
