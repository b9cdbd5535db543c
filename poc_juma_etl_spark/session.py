"""SparkSession factory with scale-appropriate defaults.

The reference has no engine of its own (it delegates execution to BigQuery,
reference utils.py:313-314, materialize_gold.py:74); this module is where our
engine pins the execution posture instead:

- AQE on (runtime partition coalescing, skew-join splitting, broadcast demotion)
- static partition overwrite, Spark's own default: a write replaces its
  whole target; the partial-replace writers (R1, Gold refresh, the stream
  sink) ask for dynamic overwrite on their own write
- UTC session timezone (oracle parity with DuckDB's UTC-naive timestamps)
- Arrow transfer on (fast pandas/Pandas-UDF boundary)

On a real cluster only ``master`` and the memory knobs change; everything else
is scale-neutral.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The engine's runtime SQL confs: get_spark builds sessions with them,
# tune_session sets them on a session the engine did not create.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # a full-replace write (S4, the merges, Gold's DROP+CTAS) must not keep
    # partitions its input lacks; partial-replace writers opt into dynamic
    "spark.sql.sources.partitionOverwriteMode": "static",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # events.parquet stores TIMESTAMP(NANOS) which the Spark reader
    # rejects; read as long and convert in catalog.load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # parquet timestamp[us] with isAdjustedToUTC=false would otherwise
    # infer as TIMESTAMP_NTZ; infer as session-TZ TIMESTAMP instead so
    # epoch arithmetic stays legal AND timestamp predicates still push
    # into the scan (a post-read NTZ→LTZ cast would block pushdown).
    # Session TZ is UTC, so the two types are value-identical here.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # scan granularity: 128 MiB splits keep one task's input within
    # executor memory at any SF; AQE coalesces small post-shuffle
    # partitions toward the 64 MiB advisory target instead of leaving
    # shuffle_partitions-many slivers
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "67108864",
    # honor the advisory size instead of defaultParallelism when
    # coalescing: with parallelismFirst (the default) AQE keeps
    # shuffle_partitions-many sliver tasks at small data volumes, paying
    # per-task overhead for nothing; at 100 TB partitions exceed the
    # advisory anyway, so this only changes the small end
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


def get_spark(
    app_name: str = "poc_juma_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's execution defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to an externally-created session
    (a caller of ``__spark_entry__`` passes its own SparkSession)."""
    for k, v in ENGINE_CONF.items():
        spark.conf.set(k, v)
    return spark
