"""Stream-stream interval join: pairs of same-user events within a time
bound, computed incrementally.

The hardest streaming primitive the engine exposes: both sides are
unbounded, so each side buffers state and the watermark + time-range
condition bound how much state is retained (without them the join would
buffer forever — Spark rejects it in append mode). The batch twin is
q_range_join_close_events (plans/advanced.py); the test drives this bounded
stream and checks it converges to exactly the batch answer.

The LEFT OUTER variant (q_stream_interval_join_outer) adds the null-
emission-on-watermark semantics: unmatched left rows emit (b = NULL) only
once the watermark passes their join horizon. Under an availableNow drain
the watermark stops at max(ts) − delay, which would withhold the last
watermark-horizon of unmatched rows forever — so the outer drain streams
the events file PLUS a far-future sentinel row (user_id = −1, ts weeks
past the tail): the final no-data micro-batch sees a watermark beyond
every real event's eviction point and flushes every pending null row,
making the stream converge exactly to the batch LEFT JOIN. The sentinel
itself stays withheld in state (its own horizon is past the final
watermark) and is filtered defensively anyway. In production the same
trick is a per-partition heartbeat/punctuation event — the standard way
to close out watermark-held state in any event-time system."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.queries import register
from .events import drain_to_memory

RANGE_GAP_S = 300  # keep in lockstep with plans/advanced.q_range_join_close_events


def stream_close_event_pairs(
    spark: SparkSession, sf_dir: str, rows_per_batch: int = 50_000
) -> DataFrame:
    """Drain the bounded stream-stream join; returns (event_a, event_b,
    user_id, gap_s) as a batch DataFrame. Sources are staged as
    time-ordered micro-batch file groups (same round-9 treatment as the
    outer variant): an unthrottled availableNow drain would build BOTH
    sides' full-table state in one micro-batch — the sf1 stall class —
    while N range-ordered batches build and evict state incrementally.
    The far-future sentinel row the staging adds is inert here: it is
    alone at max(ts)+35d, pairs with nothing inside the gap, and an inner
    join emits matched pairs only."""
    import shutil

    from ..catalog import normalize_timestamps

    d = _sentinel_events_dir(spark, sf_dir, rows_per_batch=rows_per_batch)
    physical = spark.read.parquet(d).schema

    def side(alias: str) -> DataFrame:
        raw = (
            spark.readStream.schema(physical)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        return normalize_timestamps(raw, "events").select(
            F.col("event_id").alias(f"{alias}_event_id"),
            F.col("user_id").alias(f"{alias}_user_id"),
            F.col("ts").alias(f"{alias}_ts"),
        )

    left = side("a").withWatermark("a_ts", "1 hour")
    right = side("b").withWatermark("b_ts", "1 hour")
    # same predicate discipline as the OUTER variant below (r8 review fix):
    # the interval term (+1 s superset) bounds the state watermark; the
    # floor-second term is the exact batch-twin gap semantics — without it
    # a pair like a=.2s, b=+300.9s (true gap 300.7, floor-second gap 300)
    # is dropped here but counted by the oracle. Latent on today's
    # fixtures (verified 771/771 at sf0.1); bites on any denser one.
    joined = left.join(
        right,
        F.expr(
            f"""
            a_user_id = b_user_id AND
            b_ts > a_ts AND
            b_ts <= a_ts + INTERVAL {RANGE_GAP_S + 1} SECONDS AND
            CAST(b_ts AS LONG) - CAST(a_ts AS LONG) <= {RANGE_GAP_S}
            """
        ),
    ).select(
        F.col("a_event_id").alias("event_a"),
        F.col("b_event_id").alias("event_b"),
        F.col("a_user_id").alias("user_id"),
        (F.col("b_ts").cast("long") - F.col("a_ts").cast("long")).alias("gap_s"),
    )
    try:
        return drain_to_memory(joined, "stream_pairs_out", "append")
    finally:
        # memory sink holds the drained rows on the driver; the staged
        # fixture copy is dead weight once the stream terminates
        shutil.rmtree(d, ignore_errors=True)


def _sentinel_events_dir(
    spark: SparkSession, sf_dir: str, rows_per_batch: int = 50_000
) -> str:
    """Stage a temp directory holding the events table re-cut into
    TIME-ORDERED micro-batch file groups plus ONE far-future sentinel row
    (user_id = −1, ts = max(ts) + 35 days) whose arrival pushes the final
    watermark past every real event's outer-join eviction point.

    Why groups (round-8 soak lesson): the old staging copied the fixture's
    part files verbatim, and an availableNow drain with no rate limit
    processes them all in ONE micro-batch — the stream-stream join built
    its entire state (the whole table, both sides) in a single batch, a
    ~30-minute memory-bound stall at sf1. Re-cutting the source with
    ``repartitionByRange(ts)`` into ~rows_per_batch files, named and
    mtime-stamped in range order, plus ``maxFilesPerTrigger=1`` on the
    reader, makes the drain process N micro-batches in event-time order:
    the join builds AND EVICTS state incrementally as the watermark
    advances between batches — which is also the honest production shape
    (a live stream arrives roughly time-ordered). Range staging guarantees
    batch k+1's min ts >= batch k's max ts, so the advancing watermark can
    never late-drop a row (cross-batch disorder is 0, far under the 1 h
    delay)."""
    import glob
    import os
    import shutil
    import tempfile

    from ..catalog import physical_schema, table_path

    d = tempfile.mkdtemp(prefix="stream_outer_")
    src = table_path(sf_dir, "events")
    # raw physical encoding on purpose: the streams normalize the staged copy
    events = spark.read.schema(physical_schema(spark, src)).parquet(src)
    # one aggregation returns both (a separate count() would be a second
    # full read, paid on every drain of both streaming gates — r9 review)
    stats = events.agg(
        F.count(F.lit(1)).alias("n"), F.max("ts").alias("mx")
    ).collect()[0]
    n_rows, max_ts = int(stats["n"]), stats["mx"]
    if max_ts is None:  # empty source: any fixed anchor works — no real
        # event exists for the watermark to evict
        import datetime as dt

        max_ts = dt.datetime(2024, 1, 1)
    n_groups = max(1, min(64, -(-n_rows // max(rows_per_batch, 1))))
    stage = tempfile.mkdtemp(prefix="stream_outer_stage_")
    try:
        # part-file index == range-partition index == ascending ts order
        events.repartitionByRange(n_groups, "ts").write.parquet(
            stage, mode="overwrite"
        )
        base_mtime = 1_000_000_000  # deterministic: file-stream batch order
        # follows mod time, which copy would otherwise leave near-tied
        for i, part in enumerate(sorted(glob.glob(f"{stage}/part-*.parquet"))):
            dst = f"{d}/events_{i:05d}.parquet"
            shutil.copy(part, dst)
            os.utime(dst, (base_mtime + i, base_mtime + i))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    stage = tempfile.mkdtemp(prefix="stream_outer_stage_")
    (
        events.limit(1)
        .select(
            F.lit(-1).cast("bigint").alias("event_id"),
            (F.lit(max_ts) + F.expr("INTERVAL 35 DAYS")).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("__sentinel__").alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .coalesce(1)
        .write.parquet(stage, mode="overwrite")
    )
    try:
        sentinel = f"{d}/zz_sentinel.parquet"
        shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], sentinel)
        os.utime(sentinel, (base_mtime + n_groups, base_mtime + n_groups))
    finally:
        # the staging dir's job ends at the copy; don't let repeated gate
        # runs accumulate one-file dirs in /tmp
        shutil.rmtree(stage, ignore_errors=True)
    return d


def stream_close_event_pairs_outer(
    spark: SparkSession, sf_dir: str, rows_per_batch: int = 50_000
) -> DataFrame:
    """Drain the LEFT OUTER stream-stream interval join (sentinel-flushed);
    returns (event_a, event_b|NULL, user_id, gap_s|NULL) as a batch
    DataFrame covering every real left event exactly once per match, plus
    one NULL row per unmatched left event. The drain runs one time-ordered
    file group per micro-batch (maxFilesPerTrigger=1 over the range-staged
    source — see _sentinel_events_dir), so join state builds and evicts
    incrementally instead of buffering the whole table in one batch."""
    from ..catalog import normalize_timestamps

    import shutil

    d = _sentinel_events_dir(spark, sf_dir, rows_per_batch=rows_per_batch)
    physical = spark.read.parquet(d).schema  # staged dir: fixture copy + sentinel

    def side(alias: str) -> DataFrame:
        raw = (
            spark.readStream.schema(physical)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        return normalize_timestamps(raw, "events").select(
            F.col("event_id").alias(f"{alias}_event_id"),
            F.col("user_id").alias(f"{alias}_user_id"),
            F.col("ts").alias(f"{alias}_ts"),
        )

    left = side("a").withWatermark("a_ts", "1 hour")
    right = side("b").withWatermark("b_ts", "1 hour")
    # state bound: the interval term (a superset horizon, +1 s) is what
    # Spark derives the state watermark from; the floor-second term is the
    # exact batch-twin gap semantics (same-second pairs count, gap_s is
    # whole seconds — see q_range_join_close_events' soak-caught lesson),
    # so the outer's null rows appear for exactly the left rows the batch
    # LEFT JOIN leaves unmatched
    joined = left.join(
        right,
        F.expr(
            f"""
            a_user_id = b_user_id AND
            b_ts > a_ts AND
            b_ts <= a_ts + INTERVAL {RANGE_GAP_S + 1} SECONDS AND
            CAST(b_ts AS LONG) - CAST(a_ts AS LONG) <= {RANGE_GAP_S}
            """
        ),
        "leftOuter",
    ).select(
        F.col("a_event_id").alias("event_a"),
        F.col("b_event_id").alias("event_b"),
        F.col("a_user_id").alias("user_id"),
        (F.col("b_ts").cast("long") - F.col("a_ts").cast("long")).alias("gap_s"),
    )
    try:
        out = drain_to_memory(joined, "stream_pairs_outer_out", "append")
    finally:
        # memory sink holds the drained rows on the driver; the staged
        # fixture copy is dead weight once the stream terminates
        shutil.rmtree(d, ignore_errors=True)
    # the sentinel's own left row stays withheld in state; the filter makes
    # that a contract rather than a timing accident
    return out.filter(F.col("user_id") >= 0)


@register(
    "q_stream_interval_join_outer",
    oracle=f"""
    WITH j AS (
      SELECT a.user_id, a.event_id AS ea, b.event_id AS eb,
             CAST(epoch_us(b.ts) // 1000000 - epoch_us(a.ts) // 1000000 AS BIGINT) AS gap_s
      FROM events a LEFT JOIN events b
        ON a.user_id = b.user_id
       AND b.ts > a.ts
       AND epoch_us(b.ts) // 1000000 - epoch_us(a.ts) // 1000000 <= {RANGE_GAP_S}
    )
    SELECT user_id,
           CAST(COUNT(eb) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN eb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
           CAST(COALESCE(SUM(gap_s), 0) AS BIGINT) AS sum_gap_s
    FROM j GROUP BY user_id ORDER BY user_id
    """,
    doc=f"LEFT OUTER stream-stream interval join, driver-gated: same-user "
    f"pairs within {RANGE_GAP_S}s plus a NULL row per event with no "
    "successor — emitted incrementally as the watermark passes each "
    "event's join horizon, flushed to completion by a far-future sentinel "
    "row (see stream_close_event_pairs_outer). The oracle is the batch "
    "LEFT JOIN rolled up per user (matched-pair count, unmatched count, "
    "whole-second gap sum): bounded-state incremental execution with "
    "watermark-driven null emission must converge to exactly the batch "
    "outer join.",
)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = stream_close_event_pairs_outer(spark, sf_dir)
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("event_b").cast("bigint").alias("n_pairs"),
            F.sum(F.col("event_b").isNull().cast("int")).cast("bigint").alias("n_unmatched"),
            F.coalesce(F.sum("gap_s"), F.lit(0)).cast("bigint").alias("sum_gap_s"),
        )
        .orderBy("user_id")
    )


@register(
    "q_stream_interval_join",
    oracle=f"""
    WITH pairs AS (
      SELECT a.user_id,
             CAST(epoch_us(b.ts) // 1000000 - epoch_us(a.ts) // 1000000 AS BIGINT) AS gap_s
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND b.ts > a.ts
       AND epoch_us(b.ts) // 1000000 - epoch_us(a.ts) // 1000000 <= {RANGE_GAP_S}
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s
    FROM pairs GROUP BY user_id
    ORDER BY user_id
    """,
    doc=f"Stream-stream interval join, driver-gated: same-user event pairs "
    f"within {RANGE_GAP_S}s computed incrementally — both sides watermarked "
    "so the join buffers only the 1h+gap state horizon — then rolled up "
    "per user. The oracle is the batch self-join: incremental execution "
    "with bounded state must produce exactly the pairs a full-table join "
    "produces (integer gap arithmetic, so equality is exact). The batch "
    "twin q_range_join_close_events pins the bucketed O(events·density) "
    "candidate plan; this entry pins the streaming execution of the same "
    "semantics.",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = stream_close_event_pairs(spark, sf_dir)
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("gap_s").cast("bigint").alias("sum_gap_s"),
        )
        .orderBy("user_id")
    )
