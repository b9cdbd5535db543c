"""Small-files compaction for warehouse tables.

Incremental loads (R1 range replacement, streaming foreachBatch appends)
accumulate small files per partition; at 100 TB the file count — not the
byte count — becomes the bottleneck (driver listing time, task overhead,
NameNode/S3 metadata pressure). Compaction rewrites each partition's files
into ~target-sized outputs without changing content.

Implementation (one code path, plan-driven): window over ``_metadata`` file
stats → start-offset output groups (oversized partitions SPLIT into
~target-sized groups; tiny neighbours pack) → one shuffle keyed on
(partition_dir, group) → rewrite to a ``storage.staging`` directory →
atomic directory swap (``storage.swap_in``); entering the staging first
heals a half-swapped prior compaction. The staging+swap avoids the
read-overwrite conflict and leaves the table readable until the swap. File
counts come from ``storage.list_files``, a driver-side listing with no
Spark job."""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import storage
from ..catalog import physical_schema
from ..plans.queries import register, scoped_dir

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def table_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet table directory: the
    ``.parquet`` files of :func:`storage.list_files` whose name does not
    start with ``_``. A never-written table (S6 empty-guard) is (0, 0)."""
    sizes = []
    for f, n, _ in storage.list_files(spark, path) or ():
        name = f.rsplit("/", 1)[-1]
        if name.endswith(".parquet") and not name.startswith("_"):
            sizes.append(n)
    return len(sizes), sum(sizes)


def compact_table(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> tuple[int, int]:
    """Rewrite ``path`` with ~target_bytes files; returns (files_before,
    files_after). Partitioned tables keep their partition layout
    (auto-detected from the hive directory structure).

    Thin wrapper over :func:`compact_execute` — the simple path used to
    repartition on ``PARTITION_COL`` alone, which could never SPLIT an
    oversized partition (all rows of one partition value hash to one task →
    one file regardless of ``target_bytes``; round-8 verdict item). The
    plan-driven executor's start-offset groups split within a partition,
    so there is exactly one compaction code path now."""
    stats = compact_execute(spark, path, target_bytes=target_bytes)
    return stats["files_before"], stats["files_after"]


def plan_output_groups(meta, target_bytes: int):
    """The start-offset grouping of q_compaction_plan over REAL file
    metadata: ``meta`` is (__fpath, __pdir, __bytes); a file joins group
    floor(bytes_before_it / target) within its partition dir's name-ordered
    cumulative stream, so an oversized file occupies a group alone.
    Returns (__fpath, __pdir, __grp). Window is per partition dir — file-
    count-bounded rows, partition-parallel at any table size."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("__pdir")
        .orderBy("__fpath")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return meta.withColumn(
        "__cum_before", F.coalesce(F.sum("__bytes").over(w), F.lit(0))
    ).select(
        "__fpath",
        "__pdir",
        F.expr(f"__cum_before div {int(target_bytes)}").alias("__grp"),
    )


def compact_execute(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    partition_cols: list[str] | None = None,
) -> dict:
    """EXECUTE a compaction plan: pack each storage partition's files into
    output groups by the start-offset rule (the exact grouping of
    plans/extra8.py::q_compaction_plan — a file joins group
    floor(bytes_before_it / target) in its partition's name-ordered
    cumulative stream, so oversized files keep a group to themselves), then
    rewrite the table in ONE distributed job where rows route to their
    file's group, and atomically swap the result in (compact_table's
    staging discipline).

    Scale shape: the plan is a window over file METADATA — the hidden
    ``_metadata`` columns (file_path, file_size), so plan rows are
    file-count-bounded, never data-bounded, and row->group provenance joins
    on the exact same path representation with no URI normalization. The
    rewrite is one scan + one shuffle keyed on (partition_dir, out_group)
    with numPartitions = n_groups, so each reduce task writes
    ~target_bytes — the Delta OPTIMIZE / Iceberg rewrite_data_files
    execution shape. The plan side is broadcast only while small (file
    metadata reaches manifest scale on a huge table; past the bound it
    joins by shuffle). Hash-collision groups that co-land in one task
    merely co-write a file per partition dir — compaction targets are
    advisory.

    Zero-row parquet files: the plan is derived from ``_metadata`` rows, so
    a file with no rows contributes nothing to any group — it is counted in
    ``files_before`` (filesystem stat) but not in ``n_groups``, and the
    rewrite drops it. That is the desired compaction outcome (dead files
    are garbage-collected, content is preserved exactly), with one visible
    corollary: a partition directory containing ONLY empty files disappears
    from the layout after the rewrite. Pinned by
    ``tests/test_compact.py::test_compact_execute_drops_empty_files``.

    Returns {"files_before", "files_after", "n_groups", "bytes_total"}.
    """
    from pyspark.sql import functions as F

    # entered first: a half-swapped prior compaction is healed before planning
    with storage.staging(spark, path) as stage:
        before, total = table_file_stats(spark, path)
        if before == 0:  # nothing on disk: no-op, not a crash (S6 contract)
            return {"files_before": 0, "files_after": 0, "n_groups": 0, "bytes_total": 0}
        physical = physical_schema(spark, path)
        df = spark.read.schema(physical).parquet(path)
        data_cols = df.columns
        if partition_cols is None:
            # auto-detect the hive layout so an omitted argument can never
            # silently flatten a partitioned table: partition columns appear in
            # the DataFrame schema but not in the data file's own footer
            partition_cols = [c for c in data_cols if c not in physical.fieldNames()]
        elif bad := [c for c in partition_cols if c not in data_cols]:
            raise ValueError(f"partition_cols not in table schema: {bad}")
        tagged = df.select(
            "*",
            F.col("_metadata.file_path").alias("__fpath"),
            F.regexp_replace(F.col("_metadata.file_path"), "/[^/]+$", "").alias("__pdir"),
        )
        meta = (
            tagged.select(
                "__fpath", "__pdir", F.col("_metadata.file_size").alias("__bytes")
            )
            .distinct()
        )
        # The plan is file-count-bounded: up to the same 100k bound the
        # broadcast below uses, collect the (fpath, pdir, bytes) rows once and
        # run the start-offset rule on the driver — the distributed form pays
        # a persist plus three shuffle stages over a few-hundred-row table,
        # ~1 s of stage latency. Python's str sort equals Spark's UTF-8 binary
        # sort, and the floor-div grouping is plan_output_groups' exact-integer
        # rule, which stays the path past the bound.
        plan = None
        if before <= 100_000:
            rows = sorted(
                ((r["__pdir"], r["__fpath"], int(r["__bytes"])) for r in meta.collect())
            )
            plan_rows, cum, cur_dir = [], 0, None
            for pdir, fpath, nbytes in rows:
                if pdir != cur_dir:
                    cur_dir, cum = pdir, 0
                plan_rows.append((fpath, pdir, cum // int(target_bytes)))
                cum += nbytes
            groups = len({(p_, g) for _f, p_, g in plan_rows})
            fmap = F.broadcast(
                spark.createDataFrame(
                    [(f, g) for f, p_, g in plan_rows],
                    "__fpath string, __grp bigint",
                )
            )
        else:
            plan = plan_output_groups(meta, target_bytes).persist()
            groups = plan.select("__pdir", "__grp").distinct().count()
            fmap = plan.select("__fpath", "__grp")
        try:
            routed = tagged.join(fmap, "__fpath")
            # Range partitioning, not hash: hash(pdir, grp) % n_groups lands
            # distinct plan groups in shared reduce tasks (~1/e of tasks empty
            # at scale, collided groups co-write one ~2x-target file, and the
            # output file count varies with the path string's hash — observed
            # as a rare test flake). Range sampling over the group keys gives
            # each key its own contiguous task; a boundary miss can only merge
            # ADJACENT groups of the same directory, never arbitrary ones. The
            # partition count stays explicit so AQE cannot coalesce the
            # exchange back below n_groups.
            writer = routed.repartitionByRange(
                max(int(groups), 1), "__pdir", "__grp"
            ).select(*data_cols)
            wtr = writer.write
            if partition_cols:
                wtr = wtr.partitionBy(*partition_cols)
            wtr.parquet(stage)
        finally:
            if plan is not None:
                plan.unpersist()
        storage.swap_in(spark, stage, path)
    after, _ = table_file_stats(spark, path)
    return {
        "files_before": before,
        "files_after": after,
        "n_groups": int(groups),
        "bytes_total": total,
    }


ETL_COMPACT_FRAG = 6  # fragmentation factor: small files per date partition


@register(
    "etl_compact_plan_exec_e2e",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           TRUE AS files_reduced,
           TRUE AS packed_to_plan,
           TRUE AS content_match
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="PLAN-DRIVEN small-file compaction executed end-to-end "
    "(q_compaction_plan is the planner; etl_compact_e2e covers the "
    "whole-table compact_table rewrite; THIS executes the planner's "
    "start-offset groups): the daily events table is written "
    f"date-partitioned and deliberately fragmented ({ETL_COMPACT_FRAG} "
    "files per date dir — the state incremental loads leave behind), then "
    "compact_execute packs each partition's files into start-offset "
    "groups over the _metadata file listing and rewrites the table in one "
    "shuffle keyed on (partition_dir, out_group), atomically swapping the "
    "result in. The emitted booleans are REAL post-swap checks: "
    "files_reduced (file count strictly fell), packed_to_plan (exactly "
    "one output file per planned group — deterministic here because tiny "
    "date dirs pack to one group each), and content_match (pre/post "
    "exact-integer reconciliation: row count, event_id checksum, distinct "
    "dates — integer sums, never float). The per-type aggregates are "
    "computed FROM the compacted table, so a row lost or duplicated in "
    "the rewrite fails the hash gate, not just a boolean. At 100 TB the "
    "plan is a manifest-sized window and the rewrite shuffles each "
    "partition once — the Delta OPTIMIZE / Iceberg rewrite_data_files "
    "maintenance loop the gold layer (S7) needs between refreshes.",
)
def etl_compact_plan_exec_e2e(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        "event_type",
        "event_id",
    )

    def per_type(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("id_checksum"),
        )

    if ev.isEmpty():
        return (
            per_type(ev)
            .select(
                "event_type",
                "n_events",
                "id_checksum",
                F.lit(True).alias("files_reduced"),
                F.lit(True).alias("packed_to_plan"),
                F.lit(True).alias("content_match"),
            )
            .orderBy("event_type")
        )
    tbl = f"{scoped_dir('compact_e2e_')}/events_tbl"
    ev.repartition(ETL_COMPACT_FRAG).write.partitionBy("event_date").parquet(tbl)

    def checksum(df):
        return df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("event_id").alias("ck"),
            F.countDistinct("event_date").alias("days"),
        ).collect()[0]

    pre = checksum(spark.read.parquet(tbl))
    stats = compact_execute(spark, tbl, partition_cols=["event_date"])
    compacted = spark.read.parquet(tbl)
    post = checksum(compacted)
    content_match = tuple(pre) == tuple(post)
    # strict reduction on any real fixture; a degenerate one (every date
    # dir already holds a single file, so before == n_groups) has
    # legitimately nothing to reduce and must not fail the gate
    files_reduced = (
        stats["files_after"] < stats["files_before"]
        or stats["files_before"] == stats["n_groups"]
    )
    packed_to_plan = stats["files_after"] == stats["n_groups"]
    return (
        per_type(compacted)
        .select(
            "event_type",
            "n_events",
            "id_checksum",
            F.lit(files_reduced).alias("files_reduced"),
            F.lit(packed_to_plan).alias("packed_to_plan"),
            F.lit(content_match).alias("content_match"),
        )
        .orderBy("event_type")
    )
