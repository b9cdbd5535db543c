"""Event-time analytics over the ``events`` stream table (batch side; the
Structured Streaming twin lives in streaming/events.py).

The reference's nearest analog is the recent-refresh micro-batch (reference
utils.py:406-451). The engine provides real event-time operators: tumbling
windows, per-type daily rollups, and JSON property extraction (the events
``props`` column is a JSON string — schema catalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dec_to_double, dsum, register, ts_str


@register(
    "q_event_tumbling_hour",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
    doc="Tumbling 1-hour event-time window per event type — the batch form "
    "of the streaming windowed aggregation (streaming/events.py runs the "
    "same plan incrementally with a watermark).",
)
def q_event_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            ts_str(F.date_trunc("hour", "ts"), "window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .orderBy("window_start", "event_type")
    )


@register(
    "q_event_daily_user_activity",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           COUNT(DISTINCT user_id) AS active_users,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    ORDER BY event_date
    """,
    doc="Daily active users + conditional counts (FILTER ⇔ count of "
    "when-expression).",
)
def q_event_daily_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        )
        .orderBy("event_date")
    )


@register(
    "q_event_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Semi-structured extraction: parse the JSON props column "
    "(get_json_object ⇔ json_extract_string) and aggregate a numeric "
    "property. Integer sums are exact — no decimal dance needed.",
)
def q_event_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k"))
        .orderBy("event_type")
    )


@register(
    "q_session_window_builtin",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id <= 50
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="Built-in session_window (30-min gap): Spark merges events whose "
    "windows overlap, i.e. a gap >= 30 min starts a new session; the oracle "
    "reproduces that with lag-gap-cumsum over µs-truncated timestamps (same "
    "logic the manual q_sessionize uses, here vs the native operator).",
)
def q_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# Seeded nested JSON (the props column is uniformly {"k": N}, too thin to
# exercise the JSON surface): build a deterministic document per event from
# its own fields — identically in both engines, same discipline as the PII
# seeding in operators/text.py — then parse it back through the engine's
# JSON functions. What is under test is the parse/extract path, not the
# construction.
_SQL_JSON_DOC = (
    "'{\"id\": ' || CAST(event_id AS VARCHAR)"
    " || ', \"tags\": [\"t' || CAST(event_id % 3 AS VARCHAR)"
    " || '\", \"t' || CAST(event_id % 5 AS VARCHAR) || '\"]'"
    " || ', \"meta\": {\"v\": ' || CAST(event_id % 97 AS VARCHAR) || '}}'"
)


def _spark_json_doc() -> F.Column:
    eid = F.col("event_id")
    return F.concat(
        F.lit('{"id": '), eid.cast("string"),
        F.lit(', "tags": ["t'), (eid % 3).cast("string"),
        F.lit('", "t'), (eid % 5).cast("string"), F.lit('"]'),
        F.lit(', "meta": {"v": '), (eid % 97).cast("string"), F.lit("}}"),
    )


@register(
    "q_json_function_suite",
    oracle=f"""
    WITH j AS (SELECT event_id, {_SQL_JSON_DOC} AS doc FROM events)
    SELECT json_extract_string(doc, '$.tags[1]') AS tag2,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(doc, '$.id') AS BIGINT)) AS BIGINT) AS sum_id,
           CAST(SUM(CAST(json_extract_string(doc, '$.meta.v') AS BIGINT)) AS BIGINT) AS sum_meta_v,
           CAST(MAX(json_array_length(doc, '$.tags')) AS BIGINT) AS max_tags
    FROM j
    GROUP BY tag2
    ORDER BY tag2
    """,
    doc="JSON function suite: nested-path extraction (get_json_object "
    "$.meta.v ⇔ json_extract_string), array indexing ($.tags[1]), and "
    "json_array_length, aggregated per extracted tag. The JSON documents "
    "are seeded deterministically from event fields (props is uniformly "
    "flat) so both engines parse identical bytes; integer sums keep the "
    "aggregate exact. All extraction is JVM-side Catalyst — no Python in "
    "the row path, linear at any scale.",
)
def q_json_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    doc = _spark_json_doc()
    return (
        ev.select(
            F.get_json_object(doc, "$.tags[1]").alias("tag2"),
            F.get_json_object(doc, "$.id").cast("bigint").alias("id"),
            F.get_json_object(doc, "$.meta.v").cast("bigint").alias("meta_v"),
            F.json_array_length(F.get_json_object(doc, "$.tags")).alias("n_tags"),
        )
        .groupBy("tag2")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("id").cast("bigint").alias("sum_id"),
            F.sum("meta_v").cast("bigint").alias("sum_meta_v"),
            F.max("n_tags").cast("bigint").alias("max_tags"),
        )
        .orderBy("tag2")
    )


@register(
    "q_rollup_cascade",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d'), event_type
    ORDER BY day, event_type
    """,
    doc="Cascading time rollup (the hypertable/continuous-aggregate "
    "pattern): the daily aggregate is computed FROM the hourly aggregate "
    "— counts sum, and value partials stay DECIMAL through the cascade so "
    "re-aggregation is exact and order-independent — while the oracle "
    "computes the day level directly from raw events; equality proves the "
    "partial-merge discipline. At 100 TB this is the difference between "
    "re-scanning the fact table per granularity and maintaining each "
    "coarser rollup from the finer one (24x less input per level).",
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # keep the partial as DECIMAL: the cascade re-aggregates it, and
        # only exact decimal addition is associative across levels
        F.sum(F.col("value").cast("decimal(25,6)")).alias("value_partial"),
    )
    return (
        hourly.groupBy(F.date_format("hour", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            dec_to_double(F.sum("value_partial")).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "q_event_sequence_match",
    oracle="""
    WITH chars AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                             WHEN 'purchase' THEN 'p' ELSE 'o' END AS ch
      FROM events
    ),
    seqs AS (
      SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS seq
      FROM chars GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'v[co]*p')) AS BIGINT) AS n_conversions
    FROM seqs ORDER BY user_id
    """,
    doc="Event-sequence pattern matching (the MATCH_RECOGNIZE workload): "
    "each user's history compresses to an ordered character string (one "
    "char per event, (ts, event_id)-ordered for determinism) and a regex "
    "counts non-overlapping view→(clicks/other)*→purchase conversions — "
    "'v[co]*p' admits the same matches under leftmost-first (Java) and "
    "RE2 (DuckDB) semantics because the interior class excludes both "
    "anchors. One shuffle on user_id; per-user strings stay in-row and "
    "bounded by per-user history, never collected. At 100 TB the same "
    "shape runs windowed (sessionized) so no single user's string grows "
    "unbounded.",
)
def q_event_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("o")
    )
    seqs = (
        ev.select("user_id", F.struct("ts", "event_id", ch.alias("ch")).alias("s"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s.ch), ""
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("bigint").alias("seq_len"),
        F.expr("regexp_count(seq, 'v[co]*p')").cast("bigint").alias("n_conversions"),
    ).orderBy("user_id")


@register(
    "q_event_ohlc_hourly",
    oracle="""
    WITH pe AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts, ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY hour_ts ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY hour_ts ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM pe
    )
    SELECT strftime(hour_ts, '%Y-%m-%d %H:00') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close
    FROM ranked
    GROUP BY hour_ts
    ORDER BY hour
    """,
    doc="Hourly OHLC bars over purchase values — the time-bucketed "
    "open/high/low/close rollup every metrics store needs. Open/close are "
    "deterministic first/last by (ts, event_id) via min_by/max_by over a "
    "struct ordering key (no window over the fact table — one hash "
    "aggregate); high/low are plain min/max. The oracle reaches the same "
    "bars through window row-numbers, a different algorithm.",
)
def q_event_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
        )
        .select(
            F.date_format("hour_ts", "yyyy-MM-dd HH:00").alias("hour"),
            "n_trades",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("hour")
    )


@register(
    "q_grouped_quantiles",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.50) AS p50,
           quantile_cont(o_totalprice, 0.75) AS p75
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Per-group exact quartiles of order value: unlike the global-cut "
    "queries (rfm, winsorize, equi-depth) this percentile is GROUP-LOCAL — "
    "each group's values reduce inside its own hash-aggregate bucket, so "
    "there is no single-partition value sink no matter how many groups "
    "exist; the scale risk is only per-group cardinality (here bounded by "
    "orders per priority; at 100 TB swap approx_percentile exactly as "
    "rfm_segments does). Interpolated exact percentiles match DuckDB's "
    "quantile_cont bitwise.",
)
def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
            F.expr("percentile(o_totalprice, 0.50)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.75)").alias("p75"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_time_weighted_average",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec,
             LEAD(CAST(epoch_us(ts) // 1000000 AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_sec
      FROM events WHERE event_type = 'purchase'
    ),
    w AS (
      SELECT user_id, cents, next_sec - sec AS dur_s
      FROM seg WHERE next_sec IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dur_s) AS BIGINT) AS total_s,
           CAST(SUM(cents * dur_s) AS DOUBLE) / SUM(dur_s) / 100.0 AS twap
    FROM w GROUP BY user_id
    HAVING SUM(dur_s) > 0  -- all-same-second users have no time to average over
    ORDER BY user_id
    """,
    doc="Time-weighted average purchase value per user (the TWAP / "
    "interval-integral pattern): each observation holds until the next "
    "one (LEAD over the per-user timeline), weights are whole seconds, "
    "and the value integrates as CENTS×seconds — all-integer numerators "
    "summed exactly (the SQ8 lesson: decimal-casting arbitrary "
    "double products is not cross-engine portable; integer scaling is), "
    "with exactly two float ops at the end. One shuffle on user_id for "
    "the LEAD window; per-user history stays in its partition.",
)
def q_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            F.col("ts").cast("long").alias("sec"),
        )
        .withColumn("next_sec", F.lead("sec").over(w))
        .filter(F.col("next_sec").isNotNull())
        .withColumn("dur_s", F.col("next_sec") - F.col("sec"))
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("dur_s").cast("bigint").alias("total_s"),
            (
                # decimal(38,0): the cents x seconds products are exact
                # int64s but their per-user SUM could pass 2^63 at corpus
                # scale — Spark long sums wrap silently while the oracle's
                # HUGEINT doesn't (same discipline as q_vector_scalar_quantize)
                F.sum((F.col("cents") * F.col("dur_s")).cast("decimal(38,0)"))
                .cast("double")
                / F.sum("dur_s")
                / F.lit(100.0)
            ).alias("twap"),
        )
        .filter(F.col("total_s") > 0)
        .orderBy("user_id")
    )


@register(
    "q_variant_props",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Spark 4 VARIANT navigation: props parses ONCE per row into the "
    "binary-encoded VARIANT type (parse_json), then every extraction is a "
    "typed variant_get path walk — no re-parsing per field, which is the "
    "scale difference from get_json_object chains (q_event_json_props is "
    "the per-extraction-parse twin): at 100 TB with many extracted "
    "fields, parse cost is paid once and the binary encoding "
    "column-prunes. The oracle navigates the same JSON with DuckDB's "
    "json_extract_string — VARIANT is an encoding, not a semantics "
    "change, so results hash-match.",
)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("vp"))
    k = F.variant_get("vp", "$.k", "bigint")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(k).cast("bigint").alias("sum_k"),
            F.max(k).cast("bigint").alias("max_k"),
            F.sum((k % 2 == 0).cast("long")).cast("bigint").alias("n_even_k"),
        )
        .orderBy("event_type")
    )


@register(
    "q_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN value < 0 THEN 1 END) AS BIGINT) AS n_negative,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    """,
    doc="Observation API: data-quality counters collected AS A SIDE EFFECT "
    "of one pass over the stream of rows (df.observe + accumulator-backed "
    "AggregateMetrics), not as a second aggregation job — the pattern for "
    "attaching row-count / null-rate / sum checks to a production write "
    "without re-reading 100 TB. The observed values are returned as the "
    "result and hash-checked against a direct aggregate oracle, proving "
    "the side-channel metrics equal the ground truth. (COUNT DISTINCT is "
    "not observable — observe() allows only commutative aggregates — so "
    "that one column comes from the same single pass's groupBy.)",
)
def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    obs = Observation("dq")
    # empty-input hardening: a NULL decimal inside a mixed observed row
    # trips a toPyRow assertion in pyspark 4.1 (verified by experiment),
    # so the decimal sum is coalesced and an observed value-count restores
    # SQL's NULL-on-empty SUM semantics afterward
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum((F.col("value") < 0).cast("long")), F.lit(0)).alias(
            "n_negative"
        ),
        F.coalesce(
            F.sum(F.col("value").cast("decimal(25,6)")),
            F.lit("0").cast("decimal(25,6)"),
        ).alias("tv"),
        F.count(F.col("value")).alias("n_vals"),
    )
    # the one real action: a distinct-type count over the SAME pass
    n_types = observed.select("event_type").distinct().count()
    try:
        m = obs.get
    except Exception:
        # empty source: AQE's empty-relation propagation eliminates the
        # whole subtree INCLUDING the CollectMetrics node, so the metrics
        # row never materializes (getOrEmpty returns a schema-less row that
        # trips toPyRow). The exact empty-input answer is static — but ONLY
        # for the empty case: if the same table just produced event types,
        # obs.get failed for some other reason and fabricating zeros would
        # be silently wrong output. Re-raise in that case.
        if n_types:
            raise
        m = {"n_rows": 0, "n_negative": 0, "tv": None, "n_vals": 0}
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                # oracle's COUNT(CASE WHEN ...) is 0 on empty input, and the
                # coalesced sum agrees
                int(m["n_negative"]),
                # SUM over zero non-NULL values is NULL in both engines
                float(m["tv"]) if m["n_vals"] else None,
                int(n_types),
            )
        ],
        "n_rows long, n_negative long, total_value double, n_types long",
    )


HISTORY_MAX_EVENTS = 50


@register(
    "q_event_user_history_pack",
    oracle=f"""
    WITH r AS (
      SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    tot AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events_total
      FROM events GROUP BY user_id
    ),
    head AS (SELECT * FROM r WHERE rn <= {HISTORY_MAX_EVENTS}),
    p AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS seq_len,
             md5(string_agg(event_type, ' ' ORDER BY rn)) AS seq_md5,
             MAX(ts) AS last_ts
      FROM head GROUP BY user_id
    )
    SELECT p.user_id, tot.n_events_total, p.seq_len, p.seq_md5, p.last_ts
    FROM p JOIN tot USING (user_id)
    ORDER BY user_id
    """,
    doc="Per-user training-sequence packing (the behavior-modeling input "
    "builder): each user's chronological event-type history, truncated to "
    f"the first {HISTORY_MAX_EVENTS} events ((ts, event_id)-ordered — "
    "event_id breaks same-second ties deterministically), packed to one "
    "row per user with the sequence fingerprinted by md5 so the gate "
    "hashes content, not just counts. One shuffle on user_id; the window "
    "is user-partitioned (bounded per-user state) and the truncation caps "
    "the in-row string, so no user's sequence grows unbounded — at 100 TB "
    "the same plan runs with the cap as the context-length budget.",
)
def q_event_user_history_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    head = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HISTORY_MAX_EVENTS)
    )
    tot = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events_total")
    )
    packed = head.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("seq_len"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s.event_type,
                ),
                " ",
            )
        ).alias("seq_md5"),
        F.max("ts").alias("last_ts"),
    )
    return (
        packed.join(tot, "user_id")
        .select("user_id", "n_events_total", "seq_len", "seq_md5", "last_ts")
        .orderBy("user_id")
    )
