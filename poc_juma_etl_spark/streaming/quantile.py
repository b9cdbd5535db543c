"""Streaming QUANTILE-sketch maintenance — the q-digest twin of the
streaming KMV sketch (streaming/sketch.py): order totals arrive as a
file stream and foreachBatch maintains the value histogram the digest is
a pure function of; the final micro-batch state compresses through the
SAME build as the batch operator, so the gate is batch equality against
the SAME DuckDB oracle (operators/qdigest.qdigest_oracle_sql) — the
strongest statement a streaming gate can make.

State layout and exactness: histogram ADDITION is not idempotent (the
KMV bottom-k merge is; a count merge re-applied double-counts), so the
state is an EPOCH-KEYED log of per-batch histograms — foreachBatch
writes batch ``e{epoch_id}`` by full overwrite, and the at-least-once
re-delivery a checkpoint restart produces simply overwrites its own
epoch directory with identical content (exact under retries by
construction, no read-modify-write window at all). Each epoch holds at
most min(batch rows, value domain) rows; the final read folds all
epochs with one groupBy-sum — the append-log + fold shape a warehouse
uses for streaming aggregates, with compaction available via the same
fold if epochs ever grow numerous.

Scale: per-batch work is one aggregation of the micro-batch; state is
bounded by epochs x domain regardless of stream length; the final digest
build is the batch operator's (domain-bounded node tables, B small
passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage
from ..catalog import load_table
from ..operators.qdigest import VALUE_EXPR, digest_result, qdigest_oracle_sql
from ..plans.queries import register, scoped_dir


def merge_quantile_state(state_dir: str, df: DataFrame, epoch_id: int) -> None:
    """One maintenance step: reduce the micro-batch to its value histogram
    and write it as this epoch's log entry (full overwrite — idempotent
    under re-delivery because the epoch id IS the key)."""
    hist = df.selectExpr(f"{VALUE_EXPR} AS v").groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hist.write.mode("overwrite").parquet(f"{state_dir}/e{epoch_id}")


def read_quantile_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the epoch log into the current corpus histogram."""
    epochs = [
        d for name, d in storage.list_dirs(spark, state_dir).items() if name.startswith("e")
    ]
    if not epochs:
        return spark.createDataFrame([], "v bigint, cnt bigint")
    return (
        spark.read.parquet(*epochs)
        .groupBy("v")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_quantile_state(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Drain the staged orders stream, maintaining the epoch histogram log;
    returns the folded (v, cnt) histogram."""
    # round-11 staging recut (r10 verdict #7): project to the ONE column
    # the digest reads BEFORE the staging copy (a write boundary defeats
    # scan-level column pruning — staging all 9 order columns shipped ~10x
    # the bytes), and keep the copy SHUFFLE-FREE when the scan already has
    # enough splits to slice into micro-batches: the round-robin
    # repartition was a full shuffle of the fact table, paid only to
    # manufacture file boundaries a multi-split scan provides for free.
    # Tiny single-split fixtures still repartition so the multi-epoch fold
    # stays exercised at every SF.
    ev = load_table(spark, sf_dir, "orders").select("o_totalprice")
    tmp = scoped_dir("stream_qdigest_")
    src, state, ckpt = f"{tmp}/src", f"{tmp}/state", f"{tmp}/ckpt"
    parts = ev.rdd.getNumPartitions()
    if parts >= n_batches:
        ev.write.parquet(src)
        files_per_trigger = -(-parts // n_batches)  # ceil
    else:
        ev.repartition(n_batches).write.parquet(src)
        files_per_trigger = 1
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, epoch_id: merge_quantile_state(state, df, epoch_id)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_quantile_state(spark, state)


@register(
    "q_stream_quantile_digest",
    oracle=qdigest_oracle_sql(),
    doc="Streaming q-digest maintenance: epoch-keyed histogram log "
    "(exact under at-least-once), fold + the shared digest build; "
    "gate is batch equality on the batch operator's own oracle.",
)
def q_stream_quantile_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same output contract as operators/qdigest.q_sketch_quantile_digest
    (and the same DuckDB oracle — batch equality IS the gate), with the
    histogram coming from the incremental stream instead of one batch
    pass."""
    return digest_result(spark, stream_quantile_state(spark, sf_dir))
