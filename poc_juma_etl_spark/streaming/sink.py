"""Streaming ingestion into the warehouse: foreachBatch with epoch-keyed
idempotent writes.

The streaming twin of etl.run_table's batch load: a bounded (or unbounded)
event stream lands in the same parquet warehouse the batch writers maintain.
``foreachBatch`` is at-least-once — a crash after a (partial) write but
before the checkpoint commit re-runs the batch on restart — so the write
itself must be idempotent. Each micro-batch is written under its own
``_epoch=<epoch_id>`` partition with dynamic partition overwrite: a
redelivered epoch *replaces* its own partitions instead of appending
duplicates, which composes with the checkpoint into effectively-exactly-once
delivery (the reference achieved the same intent by delete+insert on every
run, utils.py:391-398).

Within an epoch, rows stay date-partitioned (``p_date``) so downstream
date-pruned scans work; readers drop both derived columns via
``range_replace.read_table``. See tests/test_stream_sink.py for the
redelivery contract."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import stream_table
from ..operators.range_replace import PARTITION_COL
from ..plans.queries import register, scoped_dir, ts_str

EPOCH_COL = "_epoch"


def write_epoch(df: DataFrame, table_path: str, epoch_id: int) -> bool:
    """Idempotently land one micro-batch: dynamic partition overwrite of the
    batch's own ``_epoch`` partitions. Re-running the same (df, epoch_id)
    pair leaves the table byte-identical — the redelivery path foreachBatch
    needs to be safe. Returns True when rows were written.

    The emptiness check costs one limit-1 job per batch, and it is NOT
    optional: an empty partitioned parquet write to a never-written path
    leaves a footerless directory (just _SUCCESS) that every later
    read.parquet crashes on — the no-data micro-batch Structured Streaming
    emits at watermark advances would brick a fresh table."""
    if df.isEmpty():
        return False
    (
        df.withColumn(EPOCH_COL, F.lit(int(epoch_id)))
        .withColumn(PARTITION_COL, F.to_date("ts"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(EPOCH_COL, PARTITION_COL)
        .parquet(table_path)
    )
    return True


def stream_events_to_warehouse(
    spark: SparkSession, sf_dir: str, table_path: str, checkpoint_dir: str
) -> int:
    """Drain the bounded events stream into a date-partitioned warehouse
    table; returns the number of micro-batches written. Safe to call again
    with the same checkpoint (committed batches are not reprocessed) AND
    safe under redelivery of an uncommitted batch (epoch-keyed overwrite)."""
    stream = stream_table(spark, sf_dir, "events")
    n_batches = [0]

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        if write_epoch(df, table_path, epoch_id):  # count WRITTEN batches only
            n_batches[0] += 1

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches[0]


@register(
    "q_stream_upsert_e2e",
    oracle="""
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           event_type, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    ORDER BY user_id
    """,
    doc="Streaming CDC upsert end-to-end: the events fixture is split into "
    "three source files and streamed one file per micro-batch; each batch "
    "foreachBatch-merges into a keyed table where the newest (ts, event_id) "
    "version per user wins (operators/merge.merge_latest). The merge rule "
    "is commutative over batch order, so any delivery interleaving "
    "converges to the same table — verified by the oracle computing "
    "latest-event-per-user directly from the batch source. The streaming "
    "twin of the reference's idempotent re-load intent (utils.py:391-398) "
    "for keyed rather than range data.",
)
def q_stream_upsert_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators.merge import merge_latest

    ev = load_table(spark, sf_dir, "events")
    tmp = scoped_dir("stream_upsert_")
    src, tgt, ckpt = f"{tmp}/src", f"{tmp}/target", f"{tmp}/ckpt"
    # three source files -> three micro-batches (maxFilesPerTrigger=1)
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def upsert_batch(df: DataFrame, epoch_id: int) -> None:
        merge_latest(spark, tgt, df, "user_id", ["ts", "event_id"])

    q = (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(tgt)
        .select("user_id", "event_id", ts_str("ts", "ts", frac=True), "event_type", "value")
        .orderBy("user_id")
    )
