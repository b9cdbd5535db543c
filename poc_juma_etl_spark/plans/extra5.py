"""Round-4 additions: equi-depth histogram, lexical diversity, and
CSV/JSON source round-trips.

The round-trips close a source-format gap: the engine's catalog is parquet
-first (like the reference's BigQuery tables), but a drop-in user also
lands CSV and JSON extracts. Each e2e query writes a real file set through
Spark's writer, reads it back through the matching reader with an explicit
schema, and aggregates — the oracle computes the same aggregate from the
original parquet, so any serialization loss (types, timestamps, quoting,
doubles) breaks the hash.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.text import SQL_MD5_LONG, tokens
from .queries import dsum, register

N_BUCKETS = 10
_CUT_QS = ", ".join(str(i / N_BUCKETS) for i in range(1, N_BUCKETS))


@register(
    "q_equidepth_histogram",
    oracle=f"""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, [{_CUT_QS}]) AS cs FROM orders
    ),
    b AS (
      SELECT len(list_filter(cs, c -> o_totalprice > c)) AS bucket,
             o_totalprice
      FROM orders CROSS JOIN cuts
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           MIN(o_totalprice) AS lo_price,
           MAX(o_totalprice) AS hi_price,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    doc=f"Equi-depth histogram: {N_BUCKETS - 1} exact interpolated decile "
    "cuts over o_totalprice (a 1-row aggregate, broadcast back over the "
    "scan), each row bucketed by counting cuts strictly below its value — "
    "pure in-row array arithmetic, one hash aggregate after. The exact "
    "percentile pass is the oracle-parity pin (and the reason the histogram "
    "runs on the orders table: Spark's exact percentile holds per-partition "
    "value maps, measured 2.9 s on 600k lineitem rows vs 0.57 s here); the "
    "at-scale swap is approx_percentile exactly as rfm_segments does (same "
    "bucketing downstream, measured 5x cheaper already at sf0.1). Bucket "
    "populations verify the equi-depth property end to end, including "
    "boundary ties.",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    cuts = o.agg(F.expr(f"percentile(o_totalprice, array({_CUT_QS}))").alias("cs"))
    return (
        o.crossJoin(F.broadcast(cuts))
        .select(
            F.expr("size(filter(cs, c -> o_totalprice > c))").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.min("o_totalprice").alias("lo_price"),
            F.max("o_totalprice").alias("hi_price"),
            dsum("o_totalprice", "total_price"),
        )
        .orderBy("bucket")
    )


@register(
    "q_text_ttr_hapax",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS n FROM tok GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(COUNT(*) AS DOUBLE) / SUM(n) AS ttr
    FROM cnt GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Lexical diversity per document: token count, type (distinct-token) "
    "count, hapax legomena (tokens occurring once), and type-token ratio — "
    "the classic text-quality signals next to the Gopher rules. One shuffle "
    "on (doc_id, token) with map-side combine, then a doc-local rollup; "
    "per-doc vocabularies never materialize as arrays. TTR is a single "
    "integer-to-double division — exact cross-engine.",
)
def q_text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            (F.count(F.lit(1)).cast("double") / F.sum("n")).alias("ttr"),
        )
        .orderBy("doc_id")
    )


_ORDERS_ROLLUP_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


def _orders_rollup(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            dsum("o_totalprice", "total_price"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "etl_csv_roundtrip_e2e",
    oracle=_ORDERS_ROLLUP_ORACLE,
    doc="CSV sink+source round-trip: write orders through Spark's CSV "
    "writer (header, default quoting/timestamp format), read the files "
    "back through the CSV reader with the ORIGINAL explicit schema (never "
    "inferSchema — schema inference is a full extra pass and a type "
    "lottery at 100 TB), and aggregate per priority. The oracle aggregates "
    "the source parquet, so any loss in the text serialization — double "
    "precision, timestamp format, quoting — breaks the hash. Scan "
    "parallelism survives the trip: CSV splits by file, and the write "
    "preserves the upstream partition count.",
)
def etl_csv_roundtrip_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="csv_rt_")
    try:
        path = f"{tmp}/orders_csv"
        o.write.mode("overwrite").option("header", True).csv(path)
        back = spark.read.schema(o.schema).option("header", True).csv(path)
        out = _orders_rollup(back).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "etl_json_roundtrip_e2e",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_balance,
           MIN(c_name) AS first_name
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="JSON-lines sink+source round-trip: write customer through Spark's "
    "JSON writer, read it back with the original explicit schema (JSON "
    "field order is not positional, so the schema also proves name-based "
    "binding), aggregate per market segment against a parquet-side oracle. "
    "Doubles survive via shortest-roundtrip encoding; the explicit schema "
    "skips the inference pass a 100 TB JSON lake cannot afford.",
)
def etl_json_roundtrip_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="json_rt_")
    try:
        path = f"{tmp}/customer_json"
        c.write.mode("overwrite").json(path)
        back = spark.read.schema(c.schema).json(path)
        out = (
            back.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                dsum("c_acctbal", "total_balance"),
                F.min("c_name").alias("first_name"),
            )
            .orderBy("c_mktsegment")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Bloom-filter join pruning — the portable version of Spark's runtime
# bloom filter (spark.sql.optimizer.runtime.bloomFilter.*): build a bitmap
# over the small side's join keys, ship it to the probe side as a literal,
# and drop non-candidate rows BEFORE the shuffle/join. Hash functions are
# md5-derived (engine-portable, unlike Spark's internal xxhash bloom), so
# the DuckDB oracle constructs the identical filter and the false-positive
# accounting hash-matches bit for bit.

# 63 usable bits per signed 64-bit word: DuckDB rejects 1 << 63 (signed
# overflow), so bit indices run 0..62 and words cover 63 bits each
BLOOM_BITS = 1008
BLOOM_BPW = 63
BLOOM_WORDS = BLOOM_BITS // BLOOM_BPW
BLOOM_K = 3

# built from the SAME shared 60-bit md5 idiom the Spark side's md5_long
# uses (operators/text.SQL_MD5_LONG) — the bloom bits must mirror it
# bit-for-bit, so there is exactly one definition to drift from
_SQL_BLOOM_H = (
    SQL_MD5_LONG.format(x="{i} || ':' || CAST({k} AS VARCHAR)") + f" % {BLOOM_BITS}"
)


@register(
    "q_bloom_filter_prune",
    oracle=f"""
    WITH build AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
    bits AS (
      SELECT h // 63 AS word, bit_or(CAST(1 AS BIGINT) << CAST(h % 63 AS INTEGER)) AS mask
      FROM (
        SELECT unnest([{",".join(_SQL_BLOOM_H.format(i=i, k="c_custkey") for i in range(BLOOM_K))}]) AS h
        FROM build
      ) GROUP BY 1
    ),
    probe AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             unnest([{",".join(_SQL_BLOOM_H.format(i=i, k="o_custkey") for i in range(BLOOM_K))}]) AS h
      FROM orders
    ),
    passes AS (
      SELECT o_orderkey, o_custkey, o_orderpriority
      FROM probe JOIN bits ON bits.word = probe.h // 63
      WHERE (bits.mask >> CAST(probe.h % 63 AS INTEGER)) & 1 = 1
      GROUP BY o_orderkey, o_custkey, o_orderpriority
      HAVING COUNT(*) = {BLOOM_K}
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN p.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(SUM(CASE WHEN b.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_match
    FROM orders o
    LEFT JOIN passes p ON p.o_orderkey = o.o_orderkey
    LEFT JOIN build b ON b.c_custkey = o.o_custkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc=f"Bloom-filter join pruning: a {BLOOM_BITS}-bit ({BLOOM_BPW} bits/word), {BLOOM_K}-hash "
    "filter over high-balance customers (md5-derived bit positions — "
    "engine-portable) probes every order in-row against the bitmap "
    f"(collected to {BLOOM_WORDS} longs, inlined as a literal — the "
    "broadcast-variable pattern at driver cost O(words)), counted "
    "against ground truth from the exact join. At scale this is the "
    "runtime-filter idiom: the probe side sheds non-candidates before the "
    "shuffle; the reported bloom-pass vs true-match gap IS the measured "
    "false-positive rate. The oracle rebuilds the identical filter in SQL.",
)
def q_bloom_filter_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import md5_long

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    build = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")

    def h(i: int, key: str):
        return md5_long(F.concat(F.lit(f"{i}:"), F.col(key).cast("string"))) % BLOOM_BITS

    words_rows = (
        build.select(F.explode(F.array(*[h(i, "c_custkey") for i in range(BLOOM_K)])).alias("hh"))
        .select((F.col("hh") / BLOOM_BPW).cast("int").alias("word"), (F.col("hh") % BLOOM_BPW).cast("int").alias("bit"))
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("mask"))
        .collect()
    )
    words = [0] * BLOOM_WORDS
    for r in words_rows:
        words[r.word] = r.mask
    arr = "array(" + ",".join(f"{w}L" for w in words) + ")"

    probe = o.select("o_orderkey", "o_custkey", "o_orderpriority")
    pass_cols = []
    for i in range(BLOOM_K):
        hi = h(i, "o_custkey")
        probe = probe.withColumn(f"_h{i}", hi)
        pass_cols.append(
            F.expr(
                f"shiftright(element_at({arr}, CAST(_h{i} DIV 63 AS INT) + 1), CAST(_h{i} % 63 AS INT)) & 1"
            )
            == 1
        )
    bloom_pass = pass_cols[0]
    for pc in pass_cols[1:]:
        bloom_pass = bloom_pass & pc
    flagged = probe.withColumn("bloom_pass", bloom_pass).join(
        F.broadcast(build.withColumnRenamed("c_custkey", "o_custkey").withColumn("is_true", F.lit(1))),
        "o_custkey",
        "left",
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).cast("bigint").alias("n_bloom_pass"),
            F.sum(F.when(F.col("is_true").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_true_match"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_winsorize_prices",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.05) AS p05,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders
    ),
    w AS (
      SELECT o_orderpriority, o_totalprice,
             CASE WHEN o_totalprice < p05 THEN p05
                  WHEN o_totalprice > p95 THEN p95
                  ELSE o_totalprice END AS capped,
             CASE WHEN o_totalprice < p05 THEN 1 ELSE 0 END AS low,
             CASE WHEN o_totalprice > p95 THEN 1 ELSE 0 END AS high
      FROM orders CROSS JOIN cuts
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(low) AS BIGINT) AS n_capped_low,
           CAST(SUM(high) AS BIGINT) AS n_capped_high,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_raw,
           CAST(CAST(SUM(CAST(capped AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_winsorized
    FROM w GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Winsorization (outlier capping at p05/p95): the two exact "
    "interpolated cut points are a 1-row broadcast over the scan, capping "
    "is in-row CASE arithmetic, and the rollup compares raw vs winsorized "
    "totals with capped-row counts per priority. Same percentile scaling "
    "story as q_equidepth_histogram: exact cuts pin oracle parity, "
    "approx_percentile is the drop-in at 100 TB (mergeable sketch, "
    "identical CASE downstream). The feature-cleaning primitive for "
    "robust aggregates and ML feature tables.",
)
def q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    cuts = o.agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p05"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
    )
    p = F.col("o_totalprice")
    capped = (
        F.when(p < F.col("p05"), F.col("p05"))
        .when(p > F.col("p95"), F.col("p95"))
        .otherwise(p)
    )
    return (
        o.crossJoin(F.broadcast(cuts))
        .withColumn("capped", capped)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.when(p < F.col("p05"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_capped_low"),
            F.sum(F.when(p > F.col("p95"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_capped_high"),
            dsum("o_totalprice", "total_raw"),
            dsum("capped", "total_winsorized"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_order_fulfilment_latency",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             datediff('day', o.o_orderdate, MAX(l.l_shipdate)) AS days_to_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(days_to_ship) AS BIGINT) AS min_days,
           CAST(MAX(days_to_ship) AS BIGINT) AS max_days,
           CAST(SUM(days_to_ship) AS BIGINT) AS total_days,
           CAST(SUM(CASE WHEN days_to_ship > 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_30d
    FROM lat GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Order fulfilment latency: days from order date to the LAST "
    "shipment of any of its lines (the order completes when its slowest "
    "line ships), rolled up per priority with an SLA-breach count. One "
    "shuffle keyed on o_orderkey for the per-order max, then a tiny "
    "priority aggregate — integer day arithmetic end to end. The "
    "operational-metrics shape every warehouse dashboard runs nightly.",
)
def q_order_fulfilment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderpriority",
            F.datediff("last_ship", "o_orderdate").cast("bigint").alias("days_to_ship"),
        )
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("days_to_ship").cast("bigint").alias("min_days"),
            F.max("days_to_ship").cast("bigint").alias("max_days"),
            F.sum("days_to_ship").cast("bigint").alias("total_days"),
            F.sum(F.when(F.col("days_to_ship") > 30, 1).otherwise(0))
            .cast("bigint")
            .alias("n_over_30d"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_revenue_mom_growth",
    oracle="""
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT cur.month, cur.revenue,
           prev.revenue AS prev_revenue,
           (cur.revenue - prev.revenue) / prev.revenue AS mom_growth
    FROM m cur LEFT JOIN m prev
      ON prev.month = strftime(date_trunc('month',
                               CAST(cur.month || '-01' AS DATE)) - INTERVAL 1 MONTH,
                               '%Y-%m')
    ORDER BY cur.month
    """,
    doc="Month-over-month revenue growth as a WINDOWLESS time-shift self-"
    "join: monthly exact decimal-summed revenue joined to itself on "
    "month-minus-one. A LAG window here would be partition-less — the "
    "registry-wide sweep bans that shape on principle (on a tiny month "
    "table it would be harmless, but the ban stays syntactic so nothing "
    "slips through on a fact table) — and the key-shift equi-join is the "
    "general scale-safe idiom for sequential deltas over any calendar "
    "dimension. Growth is one subtraction + one division over "
    "bit-identical inputs.",
)
def q_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(dsum("o_totalprice", "revenue"))
    prev = m.select(
        F.date_format(
            F.add_months(F.to_date(F.concat(F.col("month"), F.lit("-01"))), 1),
            "yyyy-MM",
        ).alias("month"),
        F.col("revenue").alias("prev_revenue"),
    )
    return (
        m.join(prev, "month", "left")
        .select(
            "month",
            "revenue",
            "prev_revenue",
            ((F.col("revenue") - F.col("prev_revenue")) / F.col("prev_revenue")).alias(
                "mom_growth"
            ),
        )
        .orderBy("month")
    )
