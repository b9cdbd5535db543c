"""SparkSession factory with scale-appropriate defaults.

The reference has no engine of its own (it delegates execution to BigQuery,
reference utils.py:313-314, materialize_gold.py:74); this module is where our
engine pins the execution posture instead:

- AQE on (runtime partition coalescing, skew-join splitting, broadcast demotion)
- static partition overwrite, Spark's own default: every warehouse writer
  stages and commits through ``storage``, so the mode governs only a plain
  ``mode("overwrite")`` write (query scratch dirs), which replaces its target
- UTC session timezone (oracle parity with DuckDB's UTC-naive timestamps)
- Arrow transfer on (fast pandas/Pandas-UDF boundary)

On a local master, :func:`get_spark` also makes local-disk warehouse I/O
fork-free and job-free. ``file:`` resolves to ``jvm/NioLocalFileSystem``
(built into ``jvm/nio-local-fs.jar`` by ``tools/build_jvm.py``): Hadoop's
checksummed local FileSystem, whose chmod is a syscall instead of a forked
``chmod`` process per file, checksum file and directory a write creates.
And partition discovery lists on the driver at any directory count: there
the listing job's tasks would run in the driver's own JVM against the same
disk. A cluster keeps Spark's defaults (distributed listing on object
stores, executors without the jar), as does :func:`tune_session`, whose
session's classpath is fixed before the engine sees it.

Every :func:`get_spark` session also compiles each generated class once
(two static confs, so :func:`tune_session` cannot apply them). Figures from
perfbench, seed 5, on a 4-core host:

- Spark's generated-class cache holds 1000 classes instead of 100. The
  ``analytics_query_mix`` workload compiles ~375 Janino classes in one
  session (285 in its oracle-checked warm-up, 88 more for its ``count()``
  plans on the first timed pass). Under the 100-entry LRU that set evicts
  itself, so every warm pass recompiled 189–240 classes; at 1000 entries
  the passes after the first compile 0–2. ``etl_load_refresh`` compiles
  84 classes in its warm-up and 14–33 per pass at either bound. 1000
  holds the mix's set with room to spare; peak memory did not grow on
  either workload.
- PySpark's DataFrame call-site capture is off. With it on, every
  ``pyspark.sql.functions`` and ``Column`` call reads the active session,
  a conf and the Python stack and sets and clears the JVM origin: a mix
  pass took ~12,100–12,400 py4j round trips instead of ~5,300–5,700.
  What it gives up: an analysis error no longer names the PySpark line in
  its DataFrame query context; it keeps Spark's error class and message.

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
    # no warehouse writer overwrites in place (each stages and commits
    # through storage); a plain mode("overwrite") replaces its whole target
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

JVM_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar")

# Confs get_spark adds on a local master (module docstring), where JVM_JAR
# also joins spark.driver.extraClassPath ahead of any caller value: a
# caller's classpath must not drop the class fs.file.impl names.
LOCAL_CONF: dict[str, str] = {
    "spark.hadoop.fs.file.impl": "poc_juma_etl_spark.jvm.NioLocalFileSystem",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "2147483647",
}


def get_spark(
    app_name: str = "poc_juma_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's execution defaults."""
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    local = master.startswith("local")
    conf = {**ENGINE_CONF, **(LOCAL_CONF if local else {}), **(extra_conf or {})}
    if local:
        classpath = (JVM_JAR, conf.get("spark.driver.extraClassPath"))
        conf["spark.driver.extraClassPath"] = os.pathsep.join(filter(None, classpath))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # static, so not in ENGINE_CONF: spark.conf.set (tune_session)
        # rejects them once the session exists (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to an externally-created session
    (a caller of ``__spark_entry__`` passes its own SparkSession).

    The generated-class cache bound and call-site capture that
    :func:`get_spark` sets are static confs, so the caller's session keeps
    its own. PySpark reads the capture flag once per process, at the first
    wrapped ``functions``/``Column`` call; if no session is active then,
    capture is off for the whole process.

    Each call sets every ``ENGINE_CONF`` key, one py4j round trip per key.
    Reading them first does not save any: ``spark.conf.getAll`` walks
    the JVM map entry by entry (158 round trips on a 40-key session)."""
    for k, v in ENGINE_CONF.items():
        spark.conf.set(k, v)
    return spark
