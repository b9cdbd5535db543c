"""MERGE INTO emulation: keyed upsert and SCD2 history tracking on plain
parquet.

Spark without a table format (Delta/Iceberg/Hudi, none in this image) has no
MERGE INTO; the standard emulation (pyspark_guide.md "CDC / SCD2") is
anti-join + union + overwrite:

- upsert:  target rows whose key appears in the updates are dropped
           (anti-join), updates appended, result overwritten atomically.
- SCD2:    instead of dropping, superseded rows are *closed*
           (valid_to = change date) and updates open new current rows —
           full history, point-in-time queries via valid_from/valid_to.

Scale note: both rewrite only what they touch when the table is partitioned
and updates are partition-aligned; with a table format underneath the same
call sites become real MERGE INTO — the operator surface is what's stable.
The reference's closest behavior is the delete-range+insert idempotent load
(utils.py:255-283), which is a *range* merge; this module adds the *keyed*
merge family.
"""

from __future__ import annotations

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.queries import register


def dedupe_updates(updates: DataFrame, key: str) -> DataFrame:
    """Resolve duplicate keys in an update batch deterministically: per key,
    the row that sorts highest over all non-key columns (descending,
    nulls last) wins. One shuffle on the key — same cost class as the
    anti-join that follows, so free at scale."""
    order_cols = [
        F.col(c).desc_nulls_last() for c in updates.columns if c != key
    ] or [F.col(key)]
    w = Window.partitionBy(key).orderBy(*order_cols)
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    spark: SparkSession, path: str, updates: DataFrame, key: str
) -> None:
    """Keyed upsert: last-write-wins per key. Updates may contain keys not
    in the target (inserts) and duplicate keys (resolved per
    :func:`dedupe_updates` before the merge, so the target never gains
    duplicate key rows).

    Only a *missing target* (first load) falls back to writing the updates
    alone; any other read failure (corrupt footer, permissions) propagates —
    silently overwriting the table with just the update batch would be data
    loss."""
    updates = dedupe_updates(updates, key)
    try:
        target = spark.read.parquet(path)
    except AnalysisException:
        merged = updates  # first load: no target yet
    else:
        retained = target.join(updates.select(key).distinct(), key, "left_anti")
        merged = retained.unionByName(updates).localCheckpoint()
    merged.write.mode("overwrite").parquet(path)


SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(df: DataFrame, as_of: str) -> DataFrame:
    """Open an initial SCD2 state: every row current from ``as_of``."""
    return df.select(
        "*",
        F.lit(as_of).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    spark: SparkSession, path: str, changes: DataFrame, key: str, as_of: str
) -> None:
    """Apply a change batch to an SCD2 table at ``path``:

    - keys present in ``changes``: current row closed (valid_to = as_of,
      is_current = false), new current row opened (valid_from = as_of);
    - unchanged keys: untouched;
    - brand-new keys: inserted as current.
    """
    target = spark.read.parquet(path)
    changed_keys = changes.select(key).distinct()
    untouched = target.join(changed_keys, key, "left_anti")
    closed = (
        target.join(changed_keys, key, "left_semi")
        .filter(F.col("is_current"))
        .withColumn("valid_to", F.lit(as_of).cast("date"))
        .withColumn("is_current", F.lit(False))
    )
    history = target.join(changed_keys, key, "left_semi").filter(~F.col("is_current"))
    opened = scd2_init(changes, as_of)
    merged = (
        untouched.unionByName(closed).unionByName(history).unionByName(opened)
    ).localCheckpoint()
    merged.write.mode("overwrite").parquet(path)


def merge_latest(
    spark: SparkSession, path: str, updates: DataFrame, key: str, order_cols: list[str]
) -> None:
    """CDC compaction merge: keep, per key, the row that sorts highest on
    ``order_cols`` (descending) across the existing target AND the update
    batch — the upsert rule of a change-data stream where the newest
    version wins. Commutative over batch order: any interleaving of update
    batches converges to the same table, which is what makes it safe under
    out-of-order micro-batch delivery. One shuffle on the key; with a
    key-partitioned target only touched partitions rewrite."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc_nulls_last() for c in order_cols])
    try:
        target = spark.read.parquet(path)
    except AnalysisException:
        source = updates  # first load: no target yet
    else:
        source = target.unionByName(updates)
    merged = (
        source.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint()
    )
    merged.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# CDC apply: fold an ordered change log (I/U/D rows with a sequence number)
# into a base snapshot — the log-consumer counterpart of merge_upsert
# (which folds full-row upserts) and scd2_apply (which keeps history).


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Last-writer-wins CDC fold. ``changes`` carries (key, seq, op,
    payload...) where op ∈ {'I','U','D'} and payload columns mirror
    ``base``'s non-key columns. Per key only the highest-seq change
    applies: D drops the row, I/U replace it, keys without changes pass
    through. One window over the (small) change log + ONE key equi-join
    against the base — the base is never window-sorted, so the fold costs
    a broadcast (or shuffled) join regardless of snapshot size.

    Sequence numbers should be unique per key (any real CDC log's
    contract); if a producer ever emits duplicate (key, seq) rows the
    (op, payload...) tie-break below still makes the winner deterministic
    across runs and partitionings, like dedupe_updates above."""
    payload = [c for c in base.columns if c != key]
    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(),
        F.col(op_col).desc(),
        *[F.col(c).desc_nulls_last() for c in payload],
    )
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", seq_col)
    )
    lastr = last.select(
        F.col(key),
        F.col(op_col).alias("_op"),
        *[F.col(c).alias(f"_new_{c}") for c in payload],
    )
    joined = base.join(lastr, key, "full")
    picked = [
        F.when(F.col("_op").isin("I", "U"), F.col(f"_new_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in payload
    ]
    return (
        joined.filter((F.col("_op").isNull()) | (F.col("_op") != "D"))
        .select(F.col(key), *picked, F.coalesce(F.col("_op"), F.lit("")).alias("last_op"))
    )


@register(
    "q_cdc_apply",
    oracle="""
    WITH chg AS (
      SELECT c_custkey AS k, 1 AS seq, 'U' AS op,
             c_acctbal + 100 AS bal, c_mktsegment AS seg
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, 3, 'D', NULL, NULL
      FROM customer WHERE c_custkey % 21 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 1, 'I', c_acctbal, 'NEW'
      FROM customer WHERE c_custkey % 13 = 0
      UNION ALL
      SELECT c_custkey, 2, 'U', c_acctbal + 50, c_mktsegment
      FROM customer WHERE c_custkey % 14 = 0
    ),
    last AS (
      SELECT k, op, bal, seg FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM chg
      ) WHERE rn = 1
    ),
    j AS (
      SELECT COALESCE(b.c_custkey, l.k) AS c_custkey,
             CASE WHEN l.op IN ('I','U') THEN l.bal ELSE b.c_acctbal END AS c_acctbal,
             CASE WHEN l.op IN ('I','U') THEN l.seg ELSE b.c_mktsegment END AS c_mktsegment,
             COALESCE(l.op, '') AS last_op
      FROM customer b FULL JOIN last l ON l.k = b.c_custkey
    )
    SELECT c_custkey, c_acctbal, c_mktsegment, last_op
    FROM j WHERE last_op <> 'D'
    ORDER BY c_custkey
    """,
    doc="CDC apply (last-writer-wins): a deterministic I/U/D change log "
    "derived from the customer snapshot (every 7th updated at seq 1, every "
    "14th updated again at seq 2 — the later update must win; every 21st "
    "deleted at seq 3 — the delete must beat both updates; every 13th "
    "inserted as a new "
    "key) folds into the base via one window over the log and one full "
    "outer key join. The base side is never sorted or windowed, so the "
    "fold is a single join at any snapshot size — the log-consumer "
    "pattern next to merge_upsert/scd2.",
    tags=("etl", "cdc", "merge"),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    c = load_table(spark, sf_dir, "customer")
    base = c.select("c_custkey", "c_acctbal", "c_mktsegment")
    k = F.col("c_custkey")
    changes = (
        base.filter(k % 7 == 0)
        .select(
            k.alias("c_custkey"),
            F.lit(1).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
            F.col("c_mktsegment"),
        )
        .unionByName(
            base.filter(k % 21 == 0).select(
                k.alias("c_custkey"),
                F.lit(3).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("c_acctbal"),
                F.lit(None).cast("string").alias("c_mktsegment"),
            )
        )
        .unionByName(
            base.filter(k % 13 == 0).select(
                (k + 1000000).alias("c_custkey"),
                F.lit(1).alias("seq"),
                F.lit("I").alias("op"),
                F.col("c_acctbal"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
        .unionByName(
            base.filter(k % 14 == 0).select(
                k.alias("c_custkey"),
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
                (F.col("c_acctbal") + 50).alias("c_acctbal"),
                F.col("c_mktsegment"),
            )
        )
    )
    return cdc_apply(base, changes, "c_custkey").orderBy("c_custkey")
