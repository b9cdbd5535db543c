"""Warehouse writers: overwrite / append / idempotent range replacement
(reference parity: S4, S5, S6, R1, O7).

The reference implements idempotent incremental loads as two *non-atomic*
BigQuery jobs: ``DELETE FROM t WHERE DATE(LOWER(f)) BETWEEN a AND b`` then a
``WRITE_APPEND`` load of the re-extracted rows (reference utils.py:255-283,
utils.py:391-398; "Idempotência" README.md:10). A crash between the two loses
the range. Spark's dynamic partition overwrite commits the new content of
every partition it writes in one job — same intent, no window in which the
range is gone.

Tables written by this module are date-partitioned parquet directories
(partition column ``p_date`` derived from the table's filter field).
Range replacement plans from partition metadata: the driver lists the
table's ``p_date=`` directories with the Hadoop FileSystem API (no Spark
job), keeps those inside the range, and reads retained rows from the at
most two edge partitions a day range can cut — never from a partition the
range does not touch. One planning job over the staged rows yields the
partitions to write (and doubles as the empty-input guard); then the write
job runs, and the in-range partitions the write did not replace are deleted.
On a real cluster you'd put Delta/Iceberg underneath for snapshot
isolation; the operator surface here stays identical.
"""

from __future__ import annotations

import datetime as dt
from urllib.parse import unquote

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "p_date"

# Partition granularity is a per-table choice (registry.TableSpec): a 7-year
# daily fact means ~2500 directories — death by file listing on any
# filesystem; monthly keeps it at ~84 while date-filter partition pruning
# still works (p_date is the truncated date, pruning compares ranges).
GRANULARITIES = ("day", "month")


def _partition_expr(filter_field: str, granularity: str):
    if granularity == "day":
        return F.to_date(F.col(filter_field))
    if granularity == "month":
        return F.to_date(F.date_trunc("month", F.col(filter_field)))
    raise ValueError(f"granularity must be one of {GRANULARITIES}, got {granularity!r}")


def _with_partition(df: DataFrame, filter_field: str, granularity: str = "day") -> DataFrame:
    return df.withColumn(PARTITION_COL, _partition_expr(filter_field, granularity))


def _partition_of(day: dt.date, granularity: str) -> dt.date:
    """The partition value a given day falls into."""
    return day if granularity == "day" else day.replace(day=1)


def partitions_in_range(
    spark: SparkSession, path: str, column: str, lo: dt.date, hi: dt.date
) -> dict[str, str]:
    """``{partition value: directory}`` of the ``column=`` directories
    directly under ``path`` whose date lies in ``[lo, hi]``.

    Listed on the driver through the Hadoop FileSystem API — no Spark job,
    and nothing below the table root is opened (local FS, HDFS and S3A
    alike). Values are unescaped the way Spark escapes directory names, so
    a timestamp partition stored as ``1995-01-01 00%3A00%3A00`` reads back
    as ``1995-01-01 00:00:00``, the string Spark casts that value to; its
    date is the leading ``YYYY-MM-DD``. A missing table lists as empty."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {}
    prefix = f"{column}="
    out: dict[str, str] = {}
    for status in fs.listStatus(root):
        d = status.getPath().toString()
        name = d.rsplit("/", 1)[1]
        if not (status.isDirectory() and name.startswith(prefix)):
            continue
        value = unquote(name[len(prefix):])
        try:
            day = dt.date.fromisoformat(value[:10])
        except ValueError:
            continue  # the null partition (__HIVE_DEFAULT_PARTITION__)
        if lo <= day <= hi:
            out[value] = d
    return out


def delete_partitions(spark: SparkSession, dirs) -> None:
    """Remove partition directories via the Hadoop FileSystem API (works on
    local FS, HDFS, and S3A alike — same code path a cluster uses)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for d in dirs:
        ppath = jvm.org.apache.hadoop.fs.Path(d)
        ppath.getFileSystem(conf).delete(ppath, True)


def _writer(df: DataFrame, filter_field: str | None, granularity: str):
    """``df``'s writer, partitioned by date when the table has a filter field
    so later incremental loads and date-pruned scans work."""
    if not filter_field:
        return df.write
    return _with_partition(df, filter_field, granularity).write.partitionBy(PARTITION_COL)


def overwrite_table(
    df: DataFrame, path: str, filter_field: str | None = None, granularity: str = "day"
) -> None:
    """S4 — full-replace load (reference WRITE_TRUNCATE, utils.py:309,
    config.py:72-90)."""
    if df.isEmpty():  # S6 guard (reference utils.py:287-292)
        return
    _writer(df, filter_field, granularity).mode("overwrite").parquet(path)


def append_table(
    df: DataFrame, path: str, filter_field: str | None = None, granularity: str = "day"
) -> None:
    """S5 — append load (reference WRITE_APPEND, utils.py:309-317)."""
    if df.isEmpty():
        return
    _writer(df, filter_field, granularity).mode("append").parquet(path)


def _retained_rows(
    spark: SparkSession,
    path: str,
    touched: dict[str, str],
    schema,
    day,
    start: dt.date,
    end: dt.date,
    granularity: str,
) -> DataFrame | None:
    """Rows of the touched partitions that fall outside ``[start, end]``,
    localCheckpoint'ed (Spark refuses to overwrite a path it is still
    reading from lineage). Only the partitions holding ``start`` and ``end``
    can hold such rows — every partition between them lies wholly inside
    the range — so only those (at most two) directories are read. They are
    read with the staged rows' schema rather than one inferred from a
    parquet footer, which would cost a Spark job; a column the old files
    lack reads as null."""
    if granularity == "day":
        return None
    edges = {str(_partition_of(d, granularity)) for d in (start, end)}
    dirs = [d for v, d in touched.items() if v in edges]
    if not dirs:
        return None
    old = spark.read.schema(schema).option("basePath", path).parquet(*dirs)
    return old.filter(~day.between(F.lit(start), F.lit(end))).localCheckpoint()


def replace_range(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    filter_field: str,
    start: str | dt.date | None = None,
    end: str | dt.date | None = None,
    granularity: str = "day",
) -> tuple[dt.date, dt.date] | None:
    """R1 — idempotent day-granular range replacement: after this call, the
    table's content for dates in ``[start, end]`` is exactly the in-range
    rows of ``new_rows`` (rows outside the range are ignored, mirroring the
    reference where extraction and delete share the same range). Returns
    the replaced range, or None when there was nothing to write; a
    reversed range (``start > end``) raises ValueError.

    Without ``start``/``end`` the range is the day span of ``new_rows``
    (a bootstrap load), found by the same planning job.

    Steps: list the in-range partitions on the driver; checkpoint the rows
    of the range's edge partitions that fall outside it (month granularity
    only); one planning job collects the partitions of the new and retained
    rows; one dynamic-overwrite job writes them; the in-range partitions
    the write did not cover are deleted. The write job is the atomic step:
    each partition it writes is replaced whole at commit, so a crash never
    leaves a half-written partition (the reference's delete+insert has a
    window with the range gone, utils.py:391-398). The delete runs after
    that commit; a crash between the two leaves stale in-range partitions
    the write did not cover, and re-running the call removes them.
    Re-running with the same inputs is a no-op change.

    With ``granularity="month"`` the day range need not align to partition
    boundaries: rows of the touched months *outside* the range are read
    back and re-staged alongside the new rows (retain ∪ new), so the
    overwrite of those months is still exact."""
    if (start is None) != (end is None):
        raise ValueError("replace_range needs both start and end, or neither")
    day = F.to_date(F.col(filter_field))
    part = F.col(PARTITION_COL).cast("string").alias("p")
    staged = _with_partition(new_rows, filter_field, granularity)
    if start is None:
        staged = staged.filter(day.isNotNull())
        plan = staged.groupBy(part).agg(F.min(day).alias("lo"), F.max(day).alias("hi")).collect()
        if not plan:
            return None  # S6: empty source
        # the edge partitions hold the first and last new day, so retained
        # rows add no partition beyond the new ones
        start, end = min(r.lo for r in plan), max(r.hi for r in plan)
    else:
        plan = None
        start, end = dt.date.fromisoformat(str(start)), dt.date.fromisoformat(str(end))
        if start > end:
            raise ValueError(f"replace_range got a reversed range [{start}, {end}]")
        staged = staged.filter(day.between(F.lit(start), F.lit(end)))
    touched = partitions_in_range(
        spark, path, PARTITION_COL,
        _partition_of(start, granularity), _partition_of(end, granularity),
    )
    retained = _retained_rows(spark, path, touched, staged.schema, day, start, end, granularity)
    if plan is None:
        parts = staged.select(part, F.lit(True).alias("new"))
        if retained is not None:
            parts = parts.unionByName(retained.select(part, F.lit(False).alias("new")))
        plan = parts.distinct().collect()
        if not any(r.new for r in plan):
            # The reference skips the delete when extraction returns no rows
            # (extract-before-delete ordering, utils.py:379-398): absence of
            # new data must never destroy existing data.
            return None
    desired = {r.p for r in plan}
    if retained is not None:
        staged = staged.unionByName(retained)
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )
    # Dynamic overwrite only rewrites partitions present in the staged data —
    # a touched partition with no new (or retained) rows would keep stale
    # in-range rows (caught by tests/test_property_range_replace.py), so
    # those are deleted explicitly, mirroring the reference's DELETE of the
    # full range (utils.py:266-269).
    delete_partitions(spark, [d for v, d in touched.items() if v not in desired])
    return start, end


def refresh_recent(
    spark: SparkSession,
    path: str,
    source_df: DataFrame,
    filter_field: str,
    days: int = 7,
    today: dt.date | None = None,
    granularity: str = "day",
) -> tuple[dt.date, dt.date] | None:
    """O7 — recent-refresh window: re-replace the last ``days`` days from the
    source (reference utils.py:406-451, constant config.py:19). Returns
    ``replace_range``'s result: the window, or None when the source has no
    rows in it. Skipped (None) when days <= 0, like the reference
    (utils.py:410)."""
    if days <= 0:
        return None
    today = today or dt.date.today()
    start = today - dt.timedelta(days=days)
    return replace_range(spark, path, source_df, filter_field, start, today, granularity)


def read_table(
    spark: SparkSession, path: str, like: DataFrame | None = None
) -> DataFrame:
    """Read a warehouse table written by this module or the streaming sink
    (drops the derived partition/epoch columns so round-trips are
    schema-stable). With ``like``, a missing/never-written table (the S6
    empty-guard skips the write entirely on empty input) reads back as an
    empty frame with ``like``'s schema instead of PATH_NOT_FOUND — so
    empty-source pipelines produce empty results, not crashes."""
    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        if like is None:
            raise
        return spark.createDataFrame([], like.schema)
    for derived in (PARTITION_COL, "_epoch"):
        if derived in df.columns:
            df = df.drop(derived)
    return df


def delete_keys(spark: SparkSession, path: str, key: str, keys: DataFrame) -> None:
    """Keyed hard delete (the GDPR right-to-erasure path): drop every row
    whose ``key`` appears in ``keys`` from the table at ``path``.

    Anti-join rewrite on plain parquet: read, LEFT ANTI against the
    (deduplicated) key set, checkpoint, overwrite. Idempotent — re-running
    with the same key set is a no-op rewrite. Scale notes: the key set
    ships as a broadcast when small (the common case — an erasure batch);
    unlike the range delete, a keyed delete cannot prune by partition
    unless the table is partitioned by the key, so at 100 TB this is one
    full rewrite per erasure *batch* — which is why erasure requests are
    batched, exactly as the reference batches its range reloads."""
    keyset = keys.select(key).distinct()
    try:
        existing = spark.read.parquet(path)
    except AnalysisException:
        return  # never-written table (S6 empty-guard): nothing to delete
    retained = existing.join(F.broadcast(keyset), key, "left_anti").localCheckpoint()
    retained.write.mode("overwrite").parquet(path)
