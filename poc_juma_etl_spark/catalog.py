"""Table catalog: explicit schemas + loaders for the engine's star schema.

The reference infers every schema from JSON via pandas (reference
utils.py:357 ``pd.DataFrame(records)``); at 100 TB inference is a foot-gun
(one bad page flips a column's type for the whole load), so the engine declares
an explicit ``StructType`` per registered table and validates reads against it.

Tables are the driver's TPC-H-ish fixtures (TESTDATA.md) plus the
LLM-pipeline extension tables ``documents`` / ``embeddings``.

Reads pin the file's physical schema instead of re-inferring it: Spark's
parquet inference costs one footer-reading job per ``spark.read.parquet``,
paid on every query that loads the table. :func:`physical_schema` infers
once per file version, keyed by the (path, length, mtime) of the one file
it infers from — the file itself, or a directory's first data file in
sorted order (:func:`storage.data_files`, no Spark job) — plus the two
session confs that change parquet inference. A rewritten file or a
flipped conf is a new key, so a stale schema is never served; the
name-based drift check in :func:`load_table` still runs on every call,
cache hit or not.

:func:`read_parquet` is the one pinned read for source and warehouse
tables alike (``load_table``, ``range_replace.read_table``, the merges,
keyed erasure and compaction). A warehouse table is a partitioned
directory: the pinned schema holds the data columns of one file, and
Spark adds the partition columns from the directory names, which costs no
job once the session lists on the driver (``session`` on a local master).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import storage

# -- explicit schemas -------------------------------------------------------
# Matches the parquet footers under /root/testdata/sf*/ exactly (verified via
# pyarrow). TimestampType == parquet timestamp (events ts is ns in the file;
# Spark reads it as microsecond timestamp, which is fine for our semantics).

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = list(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs whose value changes the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (path, inference conf values) -> (inferred file's (path, length, mtime),
# inferred schema). Process-wide: the schema depends only on the file and
# those confs, never on the session. One entry per path; a rewrite replaces
# it. No lock: concurrent misses each infer and store a correct entry.
_PHYSICAL: dict[tuple, tuple[tuple, T.StructType]] = {}


def physical_schema(spark: SparkSession, path: str) -> T.StructType:
    """Spark's own inferred schema of the parquet file at ``path``, or of a
    directory's first data file (so a partitioned table's schema holds its
    data columns only), inferred once per file version and session
    inference confs (module docstring). A missing path, or a directory with
    no data file, is not cached: Spark infers over ``path`` as usual, and
    raises its usual error."""
    files = storage.data_files(spark, path)
    if not files:
        return spark.read.parquet(path).schema
    first = files[0]
    key = (path, *(spark.conf.get(k) for k in _INFERENCE_CONFS))
    hit = _PHYSICAL.get(key)
    if hit is not None and hit[0] == first:
        return hit[1]
    schema = spark.read.parquet(first[0]).schema
    _PHYSICAL[key] = (first, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema :func:`physical_schema`
    pins: no inference job once cached, and a directory's partition columns
    still come from its directory names."""
    return spark.read.schema(physical_schema(spark, path)).parquet(path)


def normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Normalize timestamp columns to session-TZ TIMESTAMP regardless of how
    the file stores them. Generations of the testdata have used
    TIMESTAMP(NANOS) (read as long nanos via
    spark.sql.legacy.parquet.nanosAsLong) and timestamp[us] with
    isAdjustedToUTC=false (read as TIMESTAMP_NTZ). The session timezone is
    pinned to UTC, so NTZ→TIMESTAMP is value-preserving and matches
    DuckDB's UTC-naive timestamps; a uniform TIMESTAMP type keeps
    epoch arithmetic (`cast(ts as long)`) legal everywhere downstream.
    Shared by the batch loader and the streaming source so both absorb a
    fixture encoding flip identically."""
    for f in df.schema.fields:
        declared_t = next(
            (d.dataType for d in SCHEMAS[name].fields if d.name == f.name.lower()), None
        )
        if not isinstance(declared_t, T.TimestampType):
            continue
        dt = f.dataType.simpleString()
        if dt == "bigint":  # nanos-as-long legacy path
            df = df.withColumn(f.name, F.expr(f"timestamp_micros({f.name} div 1000)"))
        elif dt == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one registered table with its cached physical schema
    (:func:`physical_schema`: inferred once per file version and inference
    confs, so a warm call runs no Spark job; pushdown + pruning intact).
    Every call, cache hit or not, asserts the schema matches the declared
    catalog schema by field name so drift fails fast instead of mid-query."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    df = normalize_timestamps(read_parquet(spark, table_path(sf_dir, name)), name)
    declared = [f.name for f in SCHEMAS[name].fields]
    if [c.lower() for c in df.columns] != declared:
        raise ValueError(
            f"schema drift for {name}: file has {df.columns}, catalog declares {declared}"
        )
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of :func:`load_table`. The read schema is the
    fixture's own parquet footer schema (:func:`physical_schema`: one
    inference job per file version, none when cached), NOT a hardcoded DDL
    string, so a testdata regeneration that flips the ``ts`` physical type
    (TIMESTAMP(NANOS) ↔ timestamp[us]/NTZ) is absorbed by the same
    :func:`normalize_timestamps` path batch reads use instead of failing
    every streaming query at scan."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    physical = physical_schema(spark, table_path(sf_dir, name))
    stream = (
        spark.readStream.schema(physical)
        # the file stream source wants a directory: stream the sf dir with a
        # glob selecting just this table's file
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return normalize_timestamps(stream, name)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan under-parallelizes.

    A small single-file parquet scan yields one input partition, so every
    CPU-heavy per-row stage downstream (shingling, per-token hashing, regex
    tokenization) runs on one core. At 100 TB the scan has thousands of
    splits and this is a no-op — the guard makes the shuffle strictly a
    small-input optimization, never a large-input regression."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register every table as a temp view so the SQL surface can refer to
    them by bare name (mirrors how the reference's Gold SQL referred to
    BigQuery tables, reference materialize_gold.py:72)."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
