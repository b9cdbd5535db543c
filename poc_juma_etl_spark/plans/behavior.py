"""Behavioral analytics over the events stream: conversion funnels, cohort
retention, and RFM segmentation.

These are the gold-layer queries every product team runs on the reference's
BigQuery warehouse (SURVEY.md §2.5's outsourced relational surface). Each
is expressed as shuffles on the user key plus tiny broadcast anchors, so
the same plan holds when the events table is 100 TB: per-user state is an
aggregate, never a collected list, and nothing global is materialized
beyond scalar cut points.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dec_to_double, dsum, register

FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "q_event_funnel",
    oracle="""
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS ts1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts2
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts3
      FROM events e JOIN t2 ON t2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
      GROUP BY e.user_id
    ),
    counts AS (
      SELECT 1 AS step, 'view' AS step_name, CAST(COUNT(*) AS BIGINT) AS n_users FROM t1
      UNION ALL
      SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM t2
      UNION ALL
      SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM t3
    )
    SELECT step, step_name, n_users,
           CAST(n_users AS DOUBLE)
             / CAST(lag(n_users, 1, n_users) OVER (ORDER BY step) AS DOUBLE)
             AS conversion_from_prev
    FROM counts
    ORDER BY step
    """,
    doc="Ordered conversion funnel (view → click → purchase): step N counts "
    "users whose earliest step-N event happens strictly AFTER their "
    "committed step-N-1 time — the strict-sequence semantics product "
    "funnels need (a purchase before the first click does not convert). "
    "Each stage is one groupBy(user_id) MIN plus an equi-join back to the "
    "event stream on the user key, so the funnel is K shuffles on user_id "
    "for K steps — per-user event lists are never collected, and the "
    "final step table is three scalar counts. Conversion ratios via a "
    "shifted self-join of the 3-row summary (the oracle uses LAG — same "
    "values).",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    steps: list[DataFrame] = []
    prev: DataFrame | None = None
    for i, step in enumerate(FUNNEL_STEPS, start=1):
        stage = ev.filter(F.col("event_type") == step)
        if prev is not None:
            stage = stage.join(prev, "user_id").filter(F.col("ts") > F.col("prev_ts"))
        cur = stage.groupBy("user_id").agg(F.min("ts").alias("prev_ts"))
        steps.append(
            cur.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
                F.lit(i).alias("step"), F.lit(step).alias("step_name"), "n_users"
            )
        )
        prev = cur
    counts = steps[0].unionByName(steps[1]).unionByName(steps[2])
    # step-over-step conversion via a shifted self-join of the (3-row,
    # step-count-bounded) summary — not a lag window, which would be the
    # suite's only partition-less windowspec (harmless on 3 rows, but the
    # pattern is banned repo-wide so plan audits stay clean)
    prev_counts = counts.select(
        (F.col("step") + 1).alias("step"), F.col("n_users").alias("prev_users")
    )
    return (
        counts.join(F.broadcast(prev_counts), "step", "left")
        .withColumn(
            "conversion_from_prev",
            F.coalesce(
                F.col("n_users").cast("double") / F.col("prev_users").cast("double"),
                F.lit(1.0),
            ),
        )
        .select("step", "step_name", "n_users", "conversion_from_prev")
        .orderBy("step")
    )


@register(
    "q_retention_cohorts",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first_day AS (
      SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM activity a JOIN first_day f ON f.user_id = a.user_id
    GROUP BY f.cohort_day, datediff('day', f.cohort_day, a.day)
    ORDER BY cohort_day, day_offset
    """,
    doc="Cohort retention matrix: users grouped by first-activity day, "
    "activity counted per (cohort, days-since-first) cell — the classic "
    "retention triangle. Distinct (user, day) activity first (one "
    "shuffle), first-day per user as an aggregate (second shuffle on the "
    "same user key — co-partitioned, AQE reuses the exchange), then a "
    "user-key join and a cell count. Offsets are integer day arithmetic; "
    "no window functions, no per-user sequences, so the matrix scales "
    "with distinct users, not events.",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first_day = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(first_day, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "q_rfm_segments",
    oracle="""
    WITH stats AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS money,
             MAX(CAST(ts AS DATE)) AS last_day
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    anchor AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
    rfm AS (
      SELECT s.user_id, s.freq, s.money,
             CAST(datediff('day', s.last_day, a.max_day) AS BIGINT) AS recency
      FROM stats s CROSS JOIN anchor a
    ),
    cuts AS (
      SELECT quantile_cont(CAST(recency AS DOUBLE), 0.25) AS r25,
             quantile_cont(CAST(recency AS DOUBLE), 0.50) AS r50,
             quantile_cont(CAST(recency AS DOUBLE), 0.75) AS r75,
             quantile_cont(CAST(freq AS DOUBLE), 0.25) AS f25,
             quantile_cont(CAST(freq AS DOUBLE), 0.50) AS f50,
             quantile_cont(CAST(freq AS DOUBLE), 0.75) AS f75,
             quantile_cont(money, 0.25) AS m25,
             quantile_cont(money, 0.50) AS m50,
             quantile_cont(money, 0.75) AS m75
      FROM rfm
    )
    SELECT 'R' ||
           CASE WHEN CAST(recency AS DOUBLE) <= r25 THEN '4'
                WHEN CAST(recency AS DOUBLE) <= r50 THEN '3'
                WHEN CAST(recency AS DOUBLE) <= r75 THEN '2' ELSE '1' END ||
           'F' ||
           CASE WHEN CAST(freq AS DOUBLE) <= f25 THEN '1'
                WHEN CAST(freq AS DOUBLE) <= f50 THEN '2'
                WHEN CAST(freq AS DOUBLE) <= f75 THEN '3' ELSE '4' END ||
           'M' ||
           CASE WHEN money <= m25 THEN '1'
                WHEN money <= m50 THEN '2'
                WHEN money <= m75 THEN '3' ELSE '4' END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(CAST(SUM(CAST(money AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_money
    FROM rfm CROSS JOIN cuts
    GROUP BY 1
    ORDER BY segment
    """,
    doc="RFM segmentation: per purchasing user, Recency (days since last "
    "purchase vs corpus anchor), Frequency and Monetary value, each cut "
    "into quartiles, users bucketed into 'R4F2M3'-style segments. The "
    "anchor and the 9 cut points are 1-row broadcast sides; quartile "
    "assignment is pure CASE arithmetic; the segment rollup is one hash "
    "aggregate. The OPERATOR defaults to approx_percentile cuts (the GK "
    "mergeable sketch — map-side partials, nothing holds all values, the "
    "100 TB path); this registered query pins exact=True because exact "
    "interpolated percentiles are what DuckDB's quantile_cont replays. "
    "tests/test_m4_operators.py bounds the sketch path's segment drift "
    "against the exact path.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact=True: oracle parity only — production callers take the default
    return rfm_segments(load_table(spark, sf_dir, "events"), exact=True)


def rfm_segments(ev: DataFrame, exact: bool = False) -> DataFrame:
    """RFM quartile segmentation over an events table.

    ``exact=False`` (default, the at-scale path) computes the 9 cut points
    with ``approx_percentile`` — a mergeable quantile sketch whose reduce
    step carries sketch state, not values, so the 1-row cut aggregate stays
    1-row at any corpus size. ``exact=True`` swaps in exact interpolated
    ``percentile`` (holds all values in the final reduce — only for
    fixture-scale oracle parity)."""
    stats = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            dsum("value", "money"),
            F.max(F.to_date("ts")).alias("last_day"),
        )
    )
    anchor = ev.agg(F.max(F.to_date("ts")).alias("max_day"))
    rfm = stats.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "freq",
        "money",
        F.datediff("max_day", "last_day").cast("bigint").alias("recency"),
    )
    if exact:
        def pctl(expr: str, q: float) -> Column:
            return F.expr(f"percentile({expr}, {q})")
    else:
        def pctl(expr: str, q: float) -> Column:
            # accuracy 10000 ≈ 1e-4 rank error — segment boundaries move by
            # at most that fraction of users at any scale
            return F.expr(f"approx_percentile({expr}, {q}, 10000)").cast("double")

    cuts = rfm.agg(
        pctl("CAST(recency AS DOUBLE)", 0.25).alias("r25"),
        pctl("CAST(recency AS DOUBLE)", 0.50).alias("r50"),
        pctl("CAST(recency AS DOUBLE)", 0.75).alias("r75"),
        pctl("CAST(freq AS DOUBLE)", 0.25).alias("f25"),
        pctl("CAST(freq AS DOUBLE)", 0.50).alias("f50"),
        pctl("CAST(freq AS DOUBLE)", 0.75).alias("f75"),
        pctl("money", 0.25).alias("m25"),
        pctl("money", 0.50).alias("m50"),
        pctl("money", 0.75).alias("m75"),
    )
    r = F.col("recency").cast("double")
    f = F.col("freq").cast("double")
    m = F.col("money")
    seg = F.concat(
        F.lit("R"),
        F.when(r <= F.col("r25"), "4").when(r <= F.col("r50"), "3").when(r <= F.col("r75"), "2").otherwise("1"),
        F.lit("F"),
        F.when(f <= F.col("f25"), "1").when(f <= F.col("f50"), "2").when(f <= F.col("f75"), "3").otherwise("4"),
        F.lit("M"),
        F.when(m <= F.col("m25"), "1").when(m <= F.col("m50"), "2").when(m <= F.col("m75"), "3").otherwise("4"),
    )
    return (
        rfm.crossJoin(F.broadcast(cuts))
        .groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            dec_to_double(F.sum(F.col("money").cast("decimal(25,6)"))).alias("total_money"),
        )
        .orderBy("segment")
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    outs AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out FROM trans GROUP BY from_type)
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / o.n_out AS p_transition
    FROM trans t JOIN outs o ON o.from_type = t.from_type
    ORDER BY t.from_type, t.to_type
    """,
    doc="Markov transition matrix over per-user event sequences: next event "
    "via LEAD over (user, event-time) with the unique event_id as "
    "deterministic tie-break, then transition counts and row-normalized "
    "probabilities — the path-analysis primitive behind 'what do users do "
    "after X'. One shuffle on the user key for the sequence window, one "
    "tiny K×K aggregate after; per-user history is never collected. "
    "Probabilities are single integer divisions — exact in both engines.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    outs = trans.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("n_out"))
    return (
        trans.join(F.broadcast(outs), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("n_out")).alias("p_transition"),
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "q_rolling_wau",
    oracle="""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM du)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           COUNT(DISTINCT du.user_id) AS wau,
           COUNT(DISTINCT CASE WHEN du.d = days.d THEN du.user_id END) AS dau
    FROM days JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d
    ORDER BY day
    """,
    doc="Rolling 7-day distinct actives (WAU) alongside same-day actives "
    "(DAU) — the sliding distinct-count every product dashboard needs and "
    "plain windows cannot express (COUNT DISTINCT over a moving frame). "
    "Scale shape: reduce to distinct (user, day) first (one shuffle), "
    "then each row fans out to the <= 7 target days it contributes to and "
    "a second shuffle counts distinct users per target — work is "
    "O(actives x 7), never a self-join of the raw event stream. The "
    "oracle states the same thing as a range join.",
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = du.select("d").distinct().select(F.col("d").alias("target"))
    fanout = du.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("target"),
    ).join(days, "target")
    return (
        fanout.groupBy("target")
        .agg(
            F.countDistinct("user_id").alias("wau"),
            F.countDistinct(F.when(F.col("d") == F.col("target"), F.col("user_id"))).alias(
                "dau"
            ),
        )
        .select(F.date_format("target", "yyyy-MM-dd").alias("day"), "wau", "dau")
        .orderBy("day")
    )


ATTR_WINDOW_S = 7 * 86400  # attribution lookback


@register(
    "q_event_attribution",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec, value
      FROM events
    ),
    w AS (
      SELECT user_id, event_type, sec, value,
             MAX(CASE WHEN event_type = 'click' THEN sec END) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN {ATTR_WINDOW_S} PRECEDING AND 1 PRECEDING
             ) AS last_click_sec,
             MIN(CASE WHEN event_type = 'click' THEN sec END) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN {ATTR_WINDOW_S} PRECEDING AND 1 PRECEDING
             ) AS first_click_sec
      FROM ev
    ),
    p AS (SELECT * FROM w WHERE event_type = 'purchase'),
    attr AS (
      SELECT 'first' AS touch, first_click_sec // 86400 AS attr_day, value
      FROM p WHERE first_click_sec IS NOT NULL
      UNION ALL
      SELECT 'last', last_click_sec // 86400, value
      FROM p WHERE last_click_sec IS NOT NULL
    )
    SELECT touch, CAST(attr_day AS BIGINT) AS attr_day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS attributed_value
    FROM attr
    GROUP BY touch, attr_day
    ORDER BY touch, attr_day
    """,
    doc="Marketing attribution: each purchase's value is credited to the "
    "user's first and last click inside a 7-day lookback, then revenue is "
    "rolled up by attribution day (epoch-day integer — no tz arithmetic) "
    "and touch model. The lookup is a conditional RANGE-frame window "
    "(MAX/MIN of click times over the preceding-seconds frame) partitioned "
    "per user — no self-join of the event stream, state bounded by the "
    "frame, parallel across users at any event volume. Value totals are "
    "decimal-summed for order independence.",
)
def q_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("sec"),
        "value",
    )
    frame = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-ATTR_WINDOW_S, -1)
    )
    click_sec = F.when(F.col("event_type") == "click", F.col("sec"))
    p = (
        ev.withColumn("last_click_sec", F.max(click_sec).over(frame))
        .withColumn("first_click_sec", F.min(click_sec).over(frame))
        .filter(F.col("event_type") == "purchase")
    )
    first = p.filter(F.col("first_click_sec").isNotNull()).select(
        F.lit("first").alias("touch"),
        F.expr("CAST(first_click_sec DIV 86400 AS BIGINT)").alias("attr_day"),
        "value",
    )
    last = p.filter(F.col("last_click_sec").isNotNull()).select(
        F.lit("last").alias("touch"),
        F.expr("CAST(last_click_sec DIV 86400 AS BIGINT)").alias("attr_day"),
        "value",
    )
    return (
        first.unionByName(last)
        .groupBy("touch", "attr_day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            dsum("value", "attributed_value"),
        )
        .orderBy("touch", "attr_day")
    )
