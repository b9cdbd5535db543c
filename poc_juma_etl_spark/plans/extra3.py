"""Round-2 relational surface extensions: time-series gap-fill with linear
interpolation, table profiling, and a higher-order array-function suite.

Gap-fill/resample is the canonical time-series operator Spark lacks as a
built-in (DuckDB/Postgres users reach for generate_series + window
interpolation); profiling is the first query every warehouse user runs on a
new table; the array suite pins the higher-order-function dialect both
engines share (transform/filter/aggregate ≙ list_transform/list_filter/
list_sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dec_to_double, register

GAP_MIN_VALUE = 190  # sparsity filter: keeps ~20-25 of 30 days per series


@register(
    "q_gap_fill_interpolate",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS v
      FROM events WHERE value > {GAP_MIN_VALUE} GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
    spine AS (
      SELECT event_type, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    j AS (
      SELECT s.event_type, s.day, d.v
      FROM spine s LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day
    ),
    w AS (
      SELECT event_type, day, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
             first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
      FROM j
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CASE WHEN v IS NOT NULL THEN v
                ELSE prev_v + (next_v - prev_v)
                     * (CAST(day - prev_day AS DOUBLE) / CAST(next_day - prev_day AS DOUBLE))
           END AS v_filled,
           CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS interpolated
    FROM w
    ORDER BY event_type, day
    """,
    doc="Time-series gap-fill: daily per-series sums joined onto a "
    "generated day spine, missing days linearly interpolated between the "
    "nearest known neighbors (last/first IGNORE NULLS windows). Windows "
    "partition by the series key, so series fill in parallel; for a few "
    "huge series the same plan applies over range-bucketed sub-windows. "
    "Interpolation arithmetic order is pinned so both engines agree "
    "bitwise.",
)
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("value") > GAP_MIN_VALUE)
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(dec_to_double(F.sum(F.col("value").cast("decimal(25,6)"))).alias("v"))
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        "event_type", F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    j = spine.join(daily, ["event_type", "day"], "left")
    back = W.partitionBy("event_type").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    fwd = W.partitionBy("event_type").orderBy("day").rowsBetween(0, W.unboundedFollowing)
    known_day = F.when(F.col("v").isNotNull(), F.col("day"))
    w = (
        j.withColumn("prev_v", F.last("v", ignorenulls=True).over(back))
        .withColumn("prev_day", F.last(known_day, ignorenulls=True).over(back))
        .withColumn("next_v", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("next_day", F.first(known_day, ignorenulls=True).over(fwd))
    )
    ratio = F.datediff(F.col("day"), F.col("prev_day")).cast("double") / F.datediff(
        F.col("next_day"), F.col("prev_day")
    ).cast("double")
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * ratio
    )
    return w.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        filled.alias("v_filled"),
        F.when(F.col("v").isNull(), 1).otherwise(0).cast("bigint").alias("interpolated"),
    ).orderBy("event_type", "day")


def _sql_profile(col: str, minmax_expr: str | None = None) -> str:
    mm = minmax_expr or col
    return f"""
      SELECT '{col}' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
             CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
             CAST(MIN({mm}) AS VARCHAR) AS min_value,
             CAST(MAX({mm}) AS VARCHAR) AS max_value
      FROM lineitem"""


@register(
    "q_profile_table",
    oracle=f"""
    {_sql_profile("l_orderkey")}
    UNION ALL {_sql_profile("l_linenumber")}
    UNION ALL {_sql_profile("l_returnflag")}
    UNION ALL {_sql_profile("l_shipdate", "strftime(l_shipdate, '%Y-%m-%d')")}
    ORDER BY column_name
    """,
    doc="Table profiling: per-column row/null/distinct counts and min/max "
    "(dates as ISO strings), long format — the first query run on any new "
    "table. Each column is one aggregate pass; Spark executes the union as "
    "parallel scans sharing the cached input. Distinct counts are exact "
    "(the approx twin is q_approx_sketches).",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def prof(col: str, mm=None) -> DataFrame:
        mmc = mm if mm is not None else F.col(col)
        return li.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).cast("bigint").alias("n_nulls"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            F.min(mmc).cast("string").alias("min_value"),
            F.max(mmc).cast("string").alias("max_value"),
        )

    parts = [
        prof("l_orderkey"),
        prof("l_linenumber"),
        prof("l_returnflag"),
        prof("l_shipdate", F.date_format("l_shipdate", "yyyy-MM-dd")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


@register(
    "q_array_functions_suite",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(ts, x -> length(x) > 4)) AS BIGINT) AS n_long_tokens,
           array_to_string(list_sort(list_distinct(ts))[1:3], ',') AS top3_sorted,
           CAST(list_max(list_transform(ts, x -> length(x))) AS BIGINT) AS longest_len,
           CAST(CASE WHEN list_contains(ts, 'the') THEN 1 ELSE 0 END AS BIGINT) AS has_the,
           ts[1] AS first_token,
           ts[len(ts)] AS last_token
    FROM tok
    ORDER BY doc_id
    """,
    doc="Higher-order array-function suite: filter/transform/sort/distinct/"
    "slice/contains/element access over the token array — the Catalyst "
    "HOF dialect (lambda expressions compiled JVM-side, zero Python) gated "
    "against DuckDB's list_* twins. Per-row only: no shuffle at any scale.",
)
def q_array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(F.filter(ts, lambda x: F.length(x) > 4)).cast("bigint").alias("n_long_tokens"),
        F.concat_ws(",", F.slice(F.array_sort(F.array_distinct(ts)), 1, 3)).alias(
            "top3_sorted"
        ),
        F.array_max(F.transform(ts, lambda x: F.length(x))).cast("bigint").alias(
            "longest_len"
        ),
        F.when(F.array_contains(ts, "the"), 1).otherwise(0).cast("bigint").alias("has_the"),
        F.element_at(ts, 1).alias("first_token"),
        F.element_at(ts, -1).alias("last_token"),
    ).orderBy("doc_id")


@register(
    "q_string_function_suite",
    oracle="""
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS brand_lpad,
           rpad(p_brand, 12, '.') AS brand_rpad,
           translate(p_type, 'aeiou', '12345') AS type_translated,
           replace(p_type, ' ', '_') AS type_snake,
           reverse(p_brand) AS brand_rev,
           repeat(p_brand, 2) AS brand_twice,
           CAST(strpos(p_type, 'BRASS') AS BIGINT) AS brass_pos,
           split_part(p_type, ' ', 2) AS type_mid,
           upper(p_type) AS type_upper,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part
    ORDER BY p_partkey
    """,
    doc="String scalar-function suite: pad/translate/replace/reverse/"
    "repeat/position/split_part/case/length over the part table — pure "
    "per-row Catalyst expressions gated against DuckDB's identical-"
    "semantics twins (instr==strpos 1-based-0-missing, split_part "
    "1-based).",
)
def q_string_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_lpad"),
        F.rpad("p_brand", 12, ".").alias("brand_rpad"),
        F.translate("p_type", "aeiou", "12345").alias("type_translated"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.instr("p_type", "BRASS").cast("bigint").alias("brass_pos"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(2)).alias("type_mid"),
        F.upper("p_type").alias("type_upper"),
        F.length("p_name").cast("bigint").alias("name_len"),
    ).orderBy("p_partkey")


@register(
    "q_datetime_function_suite",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
           CAST(EXTRACT(dow FROM o_orderdate) + 1 AS BIGINT) AS dow_sun1,
           CAST(EXTRACT(week FROM o_orderdate) AS BIGINT) AS iso_week,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus_2mo,
           strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d,
           CAST(CAST(o_orderdate AS DATE) - DATE '2024-01-01' AS BIGINT) AS days_since_2024
    FROM orders
    ORDER BY o_orderkey
    """,
    doc="Datetime scalar-function suite: extract fields (year/quarter/"
    "month/day-of-week/ISO week), truncation, month-end, calendar-aware "
    "month addition, day arithmetic, and date differences — all emitted as "
    "strings/ints per the cross-engine dtype rules. Pins the dialect "
    "mapping: Spark dayofweek == DuckDB dow+1, Spark add_months clamps "
    "exactly like DuckDB's +INTERVAL MONTH.",
)
def q_datetime_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_day"),
        F.year(d).cast("bigint").alias("yr"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofweek(d).cast("bigint").alias("dow_sun1"),
        F.weekofyear(d).cast("bigint").alias("iso_week"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(d, 2), "yyyy-MM-dd").alias("plus_2mo"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).cast("bigint").alias(
            "days_since_2024"
        ),
    ).orderBy("o_orderkey")


@register(
    "q_map_functions_suite",
    oracle="""
    WITH m AS (
      SELECT p_partkey, MAP(['brand', 'type'], [p_brand, p_type]) AS props
      FROM part
    )
    SELECT p_partkey,
           CAST(cardinality(props) AS BIGINT) AS n_entries,
           array_to_string(map_keys(props), ',') AS keys_csv,
           array_to_string(map_values(props), '|') AS values_joined,
           props['brand'][1] AS brand_val,
           CAST(CASE WHEN props['type'][1] IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS has_type
    FROM m
    ORDER BY p_partkey
    """,
    doc="Map-type function suite: construct a per-row map, then "
    "cardinality / key list / value list / key lookup — Catalyst "
    "create_map+element_at gated against DuckDB MAP twins (whose element "
    "access returns a 1-element list, unwrapped with [1]). Maps are never "
    "emitted directly (entry order is engine-defined); only derived "
    "scalars cross the gate. Per-row only, no shuffle.",
)
def q_map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return p.select(
        "p_partkey",
        F.size(m).cast("bigint").alias("n_entries"),
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.concat_ws("|", F.map_values(m)).alias("values_joined"),
        F.element_at(m, "brand").alias("brand_val"),
        F.when(F.element_at(m, "type").isNotNull(), 1).otherwise(0).cast("bigint").alias(
            "has_type"
        ),
    ).orderBy("p_partkey")
