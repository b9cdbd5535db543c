"""Batched-POST sink as a Spark 4 Python DataSource WRITER (the write-side
twin of sources/rest_api.py).

The reference's write path is BigQuery load jobs (reference utils.py
WRITE_TRUNCATE/WRITE_APPEND via pandas-gbq); its API side only reads. A
real ingestion service's bulk-write protocol is: batch rows into pages,
POST each page to a staging session, then FINALIZE the session — and
abort discards the staged pages. That is exactly Spark's DataSourceWriter
contract, so this module implements it end to end:

- ``write(iterator)`` runs per task: rows batch into ``page_size`` pages,
  each page "POSTs" through the pluggable transport (the fixture
  transport stages one parquet file per page under ``<path>/_staging``);
  the returned commit message lists the task's staged pages.
- ``commit(messages)`` runs once on the driver after ALL tasks succeed:
  it publishes exactly the staged pages named in the messages (atomic
  same-filesystem renames) and writes a ``_SUCCESS`` manifest with the
  page list and row counts — the finalize call.
- ``abort(messages)`` deletes whatever was staged.

Two-phase commit is the load-bearing part: a failed/retried/speculative
task's pages stay in _staging forever (or are aborted) because only the
messages of the task attempts Spark *chose* reach ``commit`` — no
partial/duplicate publish, the same reason DBIO/FileOutputCommitter
exist. tests/test_round5_ops.py pins that property without Spark;
``etl_python_sink_e2e`` drives the whole path under Spark and
hash-checks the published data against the source.

A requests-based transport would replace FixtureSinkTransport's
``post_page``/``finalize`` with HTTP calls; everything Spark-side is
transport-agnostic.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)

from ..catalog import load_table
from ..plans.queries import dec_to_double, register, scoped_dir

STAGING = "_staging"
MANIFEST = "_SUCCESS"


@dataclass
class PageCommitMessage(WriterCommitMessage):
    """One task's staged pages (file names relative to _staging) + rows."""

    pages: list = field(default_factory=list)
    n_rows: int = 0


class FixtureSinkTransport:
    """Serves the bulk-write protocol on the local filesystem: each POSTed
    page becomes one parquet file in the staging area; finalize publishes
    named pages and writes the manifest."""

    def __init__(self, dest: str):
        self.dest = dest
        self.staging = os.path.join(dest, STAGING)

    def post_page(self, rows: list[dict]) -> str:
        """POST one page; returns the server-side page id (file name)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.staging, exist_ok=True)
        name = f"page-{uuid.uuid4().hex}.parquet"
        pq.write_table(
            pa.Table.from_pylist(rows), os.path.join(self.staging, name)
        )
        return name

    def finalize(
        self, pages: list[str], n_rows: int, schema_json: str | None = None
    ) -> None:
        """Publish exactly ``pages`` (atomic renames) + manifest.  The
        manifest records the writer-side schema so a zero-page commit (an
        empty source table) is still readable with the right columns."""
        for name in pages:
            os.rename(
                os.path.join(self.staging, name), os.path.join(self.dest, name)
            )
        os.makedirs(self.dest, exist_ok=True)
        with open(os.path.join(self.dest, MANIFEST), "w") as fh:
            json.dump(
                {"pages": sorted(pages), "n_rows": n_rows, "schema": schema_json},
                fh,
            )

    def abort(self, pages: list[str]) -> None:
        for name in pages:
            try:
                os.remove(os.path.join(self.staging, name))
            except FileNotFoundError:
                pass


class BatchPostWriter(DataSourceWriter):
    def __init__(self, options, schema=None):
        self.dest = options["path"]
        self.page_size = int(options.get("page_size", "1000"))
        self.schema_json = schema.json() if schema is not None else None

    # -- executor side -----------------------------------------------------
    def write(self, iterator) -> PageCommitMessage:
        transport = FixtureSinkTransport(self.dest)
        msg = PageCommitMessage()
        buf: list[dict] = []
        for row in iterator:
            buf.append(row.asDict())
            if len(buf) >= self.page_size:
                msg.pages.append(transport.post_page(buf))
                msg.n_rows += len(buf)
                buf = []
        if buf:
            msg.pages.append(transport.post_page(buf))
            msg.n_rows += len(buf)
        return msg

    # -- driver side, after all tasks succeeded ----------------------------
    def commit(self, messages) -> None:
        transport = FixtureSinkTransport(self.dest)
        pages: list[str] = []
        n_rows = 0
        for m in messages:
            pages.extend(m.pages)
            n_rows += m.n_rows
        transport.finalize(pages, n_rows, self.schema_json)

    def abort(self, messages) -> None:
        transport = FixtureSinkTransport(self.dest)
        for m in messages:
            if m is not None:
                transport.abort(m.pages)


class BatchPostDataSource(DataSource):
    """spark.dataSource.register(BatchPostDataSource);
    df.write.format("batched_post").option("path", dest).save()"""

    @classmethod
    def name(cls) -> str:
        return "batched_post"

    def writer(self, schema, overwrite: bool):
        return BatchPostWriter(self.options, schema)


def read_published(spark, dest: str):
    """Read back ONLY the pages the manifest committed (the consumer-side
    contract: uncommitted staging files are invisible)."""
    with open(os.path.join(dest, MANIFEST)) as fh:
        manifest = json.load(fh)
    paths = [os.path.join(dest, p) for p in manifest["pages"]]
    if not paths:
        # zero-page commit (empty source): honor the manifest's recorded
        # schema instead of crashing on a path-less parquet read
        from pyspark.sql.types import StructType

        schema_json = manifest.get("schema")
        schema = (
            StructType.fromJson(json.loads(schema_json))
            if schema_json
            else StructType([])
        )
        return spark.createDataFrame([], schema), manifest
    return spark.read.parquet(*paths), manifest


@register(
    "etl_python_sink_e2e",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(user_id) AS BIGINT) AS user_id_sum,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Custom Python DataSource SINK end to end: events write through "
    "the batched-POST writer (per-task page batching, two-phase "
    "commit: stage → finalize manifest), the consumer reads back ONLY "
    "manifest-committed pages, and the per-type rollup hash-matches "
    "the source table — proving no row was lost, duplicated, or "
    "mangled crossing the custom sink. The protocol is the real "
    "bulk-ingestion shape (staging session + finalize); a failed or "
    "speculative task can never leak pages into the published set "
    "because commit publishes only the messages Spark accepted "
    "(abort/duplicate-staging semantics unit-pinned without Spark in "
    "tests/test_round5_ops.py).",
)
def etl_python_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.dataSource.register(BatchPostDataSource)
    dest = scoped_dir("batched_post_")
    (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "user_id", "value")
        .write.format("batched_post")
        .option("path", dest)
        .option("page_size", "500")
        .mode("append")
        .save()
    )
    back, manifest = read_published(spark, dest)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("user_id").cast("bigint").alias("user_id_sum"),
            dec_to_double(F.sum(F.col("value").cast("decimal(25,6)")))
            .alias("total_value"),
        )
        .orderBy("event_type")
    )
