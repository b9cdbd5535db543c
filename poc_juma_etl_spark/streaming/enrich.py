"""Stream-static enrichment: an unbounded event stream joined to a static
(slowly-changing) dimension.

The most common production streaming join: the stream side is unbounded,
the dimension side is a plain batch DataFrame re-read per micro-batch and
broadcast to the stream tasks — no stream-side state, no watermark needed
(unlike the stream-stream join in streaming/join.py, nothing buffers).
With a table format underneath, dimension updates between micro-batches
are picked up automatically; on plain parquet the snapshot at query start
is used. The test drives the bounded stream and checks exact convergence
to the equivalent batch join + aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import stream_table
from ..plans.queries import dec_to_double, register
from .events import drain_to_memory


def user_tier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static dimension: user_id → tier (a deterministic derivation standing
    in for a customer-tier table). Sized to the OBSERVED user-id domain —
    a hard-coded range(0, 1000) silently left users ≥ 1000 tierless
    (invisible at sf0.01's 150 users, caught by the sf0.1 soak as a
    phantom NULL-tier row). The bound comes from ONE 1-row max aggregate
    collected at build time, so the dimension itself is a pure range —
    embedding a distinct(scan(events)) in the dim plan would re-scan and
    re-shuffle the fact table every micro-batch the stream re-reads the
    dimension. A real deployment reads the customer table; the lesson
    (dimension must cover the fact key domain, or the join needs an
    explicit unknown-key tier) is the same."""
    from ..catalog import load_table

    max_id = (
        load_table(spark, sf_dir, "events").agg(F.max("user_id")).collect()[0][0]
    )
    # max() over an empty fact table is NULL — yield an EMPTY dimension
    # (zero enriched rows) rather than crash on int(None)
    if max_id is None:
        max_id = -1
    return spark.range(0, int(max_id) + 1).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 10 == 0, "gold")
        .when(F.col("id") % 3 == 0, "silver")
        .otherwise("bronze")
        .alias("tier"),
    )


def stream_enriched_tier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the bounded events stream enriched with the tier dimension;
    returns per-tier event counts and decimal-exact value sums."""
    stream = stream_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    enriched = stream.join(F.broadcast(user_tier_dim(spark, sf_dir)), "user_id", "left")
    # explicit unknown-key tier (r8 review fix): a NULL user_id can never
    # match the dimension, but the oracle's CASE falls through NULL % 10 to
    # ELSE 'bronze' — the left join's NULL tier must take the same default
    # (the docstring's own lesson, applied to the NULL key as well as to
    # out-of-domain keys)
    enriched = enriched.withColumn("tier", F.coalesce("tier", F.lit("bronze")))
    agg = enriched.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_to_double(F.sum(F.col("value").cast("decimal(25,6)"))).alias("total_value"),
    )
    return drain_to_memory(agg, "stream_tier_out", "complete")


@register(
    "q_stream_static_enrich",
    oracle="""
    SELECT CASE WHEN user_id % 10 = 0 THEN 'gold'
                WHEN user_id % 3 = 0 THEN 'silver'
                ELSE 'bronze' END AS tier,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    ORDER BY tier
    """,
    doc="Stream-static enrichment, driver-gated: the unbounded event "
    "stream left-joined to a broadcast customer-tier dimension (the "
    "dimension re-reads and re-broadcasts per micro-batch — no stream "
    "state, no watermark), rolled up per tier. The oracle computes the "
    "tier inline from the same derivation the dimension encodes, so the "
    "gate proves the broadcast join enriched every event exactly once.",
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_enriched_tier_counts(spark, sf_dir).orderBy("tier")
