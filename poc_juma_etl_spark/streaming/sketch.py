"""STREAMING KMV/theta sketch maintenance — the incremental twin of
operators/kmv.q_sketch_kmv_setops, and the proof of the property that makes
KMV the right distinct sketch for a warehouse: the merge is associative and
order-independent, so a sketch maintained micro-batch by micro-batch equals
the sketch computed over the whole table in one pass, EXACTLY.

Shape: the orders source is staged as N parquet files drained with
``maxFilesPerTrigger=1`` (one micro-batch each, the staging idiom of
streaming/join.py); ``foreachBatch`` shrinks each batch to its per-segment
bottom-k (two TakeOrderedAndProject plans — per-partition bottom-k heaps
merged at the driver, the KMV merge itself), unions the tiny k-row state
table, keeps the k smallest distinct hashes per segment, and swaps the
state table atomically (staged, then swapped in through ``storage``). At
100 TB the state table is 2·k rows regardless of input volume — the whole
point of a sketch.

Because the result is DETERMINISTIC and batch-equal, the driver gate for
this query is the SAME oracle as the batch operator (KMV_ORACLE): the
stream's final estimates must hash-match the one-pass batch SQL — a
stronger statement than any streaming-specific oracle could make.
Mergeability across different batch slicings is additionally pinned by
tests/test_stream_sketch.py (2-batch == 5-batch == batch operator).

Registered as the driver gate ``q_stream_kmv_sketch`` in round 10 (the
round-9 queue drain); tests/test_stream_sketch.py runs the same
batch-equality gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage
from ..catalog import load_table
from ..operators.kmv import K, KMV_ORACLE, PRED_A, PRED_B, SPARK_H44, setops_result
from ..plans.queries import register, scoped_dir


def _batch_bottomk(df: DataFrame) -> DataFrame:
    """Per-segment bottom-k distinct hashes of one micro-batch: two
    TakeOrderedAndProject plans unioned — each is the per-partition KMV
    merge Spark already implements for ORDER BY .. LIMIT k."""
    out = None
    for label, pred in (("a", PRED_A), ("b", PRED_B)):
        part = (
            df.where(pred)
            .selectExpr(f"'{label}' AS label", f"{SPARK_H44} AS h")
            .distinct()
            .orderBy("h")
            .limit(K)
        )
        out = part if out is None else out.unionByName(part)
    return out


def merge_sketch_state(spark: SparkSession, state: str, df: DataFrame) -> None:
    """One KMV merge step: shrink ``df`` to per-segment bottom-k, union the
    state table (if any), keep the k smallest distinct hashes per segment,
    swap the state ATOMICALLY (``storage.staging``, then ``storage.swap_in``
    — an in-place overwrite would be delete-then-write, and a crash inside
    that window silently drops every earlier batch's hashes because the
    checkpoint will not re-deliver them). IDEMPOTENT: merging the same
    batch twice is a no-op (bottom-k of a set union is insensitive to
    re-unioning a subset), which is what makes the stream exact under the
    at-least-once re-delivery a checkpoint restart can produce."""
    from pyspark.sql.window import Window

    fresh = _batch_bottomk(df)
    w = Window.partitionBy("label").orderBy("h")
    # entered first: a crash inside a previous merge's swap is rolled back
    with storage.staging(spark, state) as stage:
        if storage.list_files(spark, state) is not None:  # none before the first batch
            merged_src = fresh.unionByName(spark.read.parquet(state))
        else:
            merged_src = fresh
        merged = (
            merged_src.distinct()
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= K)
            .drop("rk")
        )
        merged.write.parquet(stage)
        storage.swap_in(spark, stage, state)


def read_sketch_state(spark: SparkSession, state: str) -> dict[str, list[int]]:
    if storage.list_files(spark, state) is None:  # zero micro-batches ever fired
        return {"a": [], "b": []}
    rows = spark.read.parquet(state).orderBy("label", "h").collect()
    sketches: dict[str, list[int]] = {"a": [], "b": []}
    for r in rows:
        sketches[r.label].append(r.h)
    return sketches


def stream_kmv_state(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> dict[str, list[int]]:
    """Drain the staged orders stream, maintaining the bottom-k state table
    across micro-batches; returns the final per-segment sketches."""
    ev = load_table(spark, sf_dir, "orders")
    tmp = scoped_dir("stream_kmv_")
    src, state, ckpt = f"{tmp}/src", f"{tmp}/state", f"{tmp}/ckpt"
    ev.repartition(n_batches).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    q = (
        stream.writeStream.foreachBatch(
            lambda df, epoch_id: merge_sketch_state(spark, state, df)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_sketch_state(spark, state)


@register(
    "q_stream_kmv_sketch",
    oracle=KMV_ORACLE,
    doc="Streaming KMV sketch maintenance: the orders table arrives "
    "as a file stream (maxFilesPerTrigger=1, availableNow) and "
    "foreachBatch merges each micro-batch's per-segment bottom-k "
    "hashes into a bounded 2k-row state table (atomic directory "
    "swap, crash-safe); the final sketches feed the same set-algebra "
    "estimates as the batch twin q_sketch_kmv_setops, and the gate "
    "is batch equality — the stream must land value-for-value on "
    "the one-pass batch SQL's output (micro-batch slicing invariance "
    "is separately property-tested). State is bounded at 2k rows "
    "regardless of stream length — the 100 TB shape for distinct "
    "counting over unbounded arrivals.",
)
def q_stream_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same output contract as operators/kmv.q_sketch_kmv_setops (and the
    same DuckDB oracle — batch-equality IS the gate), with the sketches
    coming from the incremental stream instead of one batch pass."""
    sk = stream_kmv_state(spark, sf_dir)
    return setops_result(spark, sf_dir, sk["a"], sk["b"])
