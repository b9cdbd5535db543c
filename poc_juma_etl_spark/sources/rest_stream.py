"""Streaming twin of the paginated-REST connector (S1, as a stream).

The reference ingests the paginated API in one batch run
(fe-malveira-87/poc-juma-etl utils.py:150-235: loop pages, accumulate,
return). The batch connector (sources/rest_api.py) mirrors that contract
with one Spark InputPartition per page; THIS module re-expresses the same
protocol as a Spark 4 **streaming Python DataSource**
(``SimpleDataSourceStreamReader``): each micro-batch reads the next K
pages, the page number IS the stream offset (restart-safe, replayable via
``readBetweenOffsets``), and an exhausted API reports no progress so the
bounded drain loop terminates — the shape of a production incremental
ingest (new pages appear → new micro-batches), run here against the
fixture transport. (availableNow is NOT usable here: the prefetch cache
of a simple stream reader holds exactly one read() of data when the
trigger fires, so it would stop after the first K pages.)

At 100 TB the page cursor becomes a change token / log sequence number;
the offset-dict contract and the replay path are identical.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from ..plans.queries import register


STREAM_PAGE_SIZE = 400
PAGES_PER_BATCH = 3


class RestStreamReader(SimpleDataSourceStreamReader):
    """Page-cursor stream: offset {'page': n} → rows of pages [n, n+K)."""

    def __init__(self, options):
        from .rest_api import FixtureTransport

        self.transport = FixtureTransport(
            options["path"], int(options.get("page_size", STREAM_PAGE_SIZE))
        )

    def initialOffset(self) -> dict:
        return {"page": 0}

    def _rows(self, first: int, last: int):
        # a LIST ITERATOR, not a generator: the prefetch cache both
        # next()s and copy.copy()s what it stores — list iterators support
        # both, generators support neither copy nor pickle
        return iter(
            [
                tuple(rec.values())
                for page in range(first, last)
                for rec in self.transport.fetch_page(page).to_pylist()
            ]
        )

    def read(self, start: dict):
        first = int(start["page"])
        n = self.transport.n_pages()
        if first >= n:
            # API exhausted: no progress — availableNow terminates here; a
            # live deployment would keep polling and new pages would resume
            # the cursor
            return iter([]), {"page": first}
        # batch size scales with the backlog (>= PAGES_PER_BATCH, ~1/20 of
        # the page count): micro-batch COUNT stays bounded as the table
        # grows — 250 fixed-size batches at 10× scale is pure per-batch
        # scheduling overhead, the streaming analogue of tiny-file reads
        per_batch = max(PAGES_PER_BATCH, n // 20)
        last = min(first + per_batch, n)
        return self._rows(first, last), {"page": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay for recovery: same pages, same rows (the transport is
        # deterministic; a real API needs this contract from the server)
        return self._rows(int(start["page"]), int(end["page"]))

    def commit(self, end: dict) -> None:  # pages need no server-side ack
        pass


class PaginatedRestStreamSource(DataSource):
    """spark.readStream.format("paginated_rest_stream").option("path", p)"""

    @classmethod
    def name(cls) -> str:
        return "paginated_rest_stream"

    def schema(self):
        from .rest_api import PaginatedRestDataSource

        return PaginatedRestDataSource(self.options).schema()

    def simpleStreamReader(self, schema):
        return RestStreamReader(self.options)


def register_stream_source(spark) -> None:
    spark.dataSource.register(PaginatedRestStreamSource)


@register(
    "q_stream_rest_source_scan",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="S1 as a STREAM: the paginated-REST protocol served through a "
    "Spark 4 streaming Python DataSource — page number as the stream "
    f"offset, {PAGES_PER_BATCH} pages per micro-batch, replay via "
    "readBetweenOffsets, a continuous-trigger drain loop stopping on an "
    "idle cursor (availableNow only sees one prefetched read() for simple "
    "stream readers). The drained rows must aggregate to exactly what a "
    "relational scan of the same table yields (counts, id checksums, id "
    "bounds per type) — connector parity for the streaming path, like "
    "etl_rest_source_scan proves for the batch path.",
)
def q_stream_rest_source_scan(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..catalog import table_path

    register_stream_source(spark)
    stream = (
        spark.readStream.format("paginated_rest_stream")
        .option("path", table_path(sf_dir, "events"))
        .option("page_size", str(STREAM_PAGE_SIZE))
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )
    # shared, LOCKED sink sequence (r8 review fix: a module-local unlocked
    # counter could hand two concurrent gate threads the same sink name)
    from ..streaming.events import alloc_sink

    sink = alloc_sink("rest_stream_out")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(processingTime="0 seconds")
        .start()
    )
    # drain loop: a SimpleDataSourceStreamReader prefetches ONE read() per
    # trigger, so availableNow would stop after the first K pages. Idle
    # heuristics don't work either (the sf1 soak caught a truncated drain:
    # polls can re-see the same empty progress, and after exhaustion Spark
    # simply stops emitting progress entries, so "N idle batches" never
    # fires). The DETERMINISTIC stop is the protocol's own total_paginas:
    # poll until a COMPLETED batch's endOffset reaches the known page count.
    from .rest_api import FixtureTransport

    expected = FixtureTransport(
        table_path(sf_dir, "events"), STREAM_PAGE_SIZE
    ).n_pages()
    drain_until_page(q, expected)
    q.stop()
    q.awaitTermination()
    return spark.table(sink).orderBy("event_type")


def drain_until_page(q, min_page: int, poll_s: float = 0.1, max_polls: int = 6000) -> int:
    """Poll ``q.lastProgress`` until a completed batch's endOffset page
    reaches ``min_page``; returns the page reached. The deterministic drain
    stop for the page-cursor protocol (see the comment in
    q_stream_rest_source_scan for why availableNow/idle heuristics fail).
    A DEAD query breaks out immediately (r8 review fix: a failed source
    used to spin the whole cap before awaitTermination surfaced the error)
    and a cap trip RAISES rather than letting the caller read a partial
    sink as if the drain had finished."""
    import ast
    import json as _json
    import time

    seen = -1
    for _ in range(max_polls):
        time.sleep(poll_s)
        if not q.isActive:
            # surface the real failure now (exception() is None only for a
            # clean external stop, in which case the caller's stop/await
            # path takes over)
            exc = q.exception()
            if exc is not None:
                raise exc
            break
        progress = q.lastProgress
        if progress is None or not progress.get("sources"):
            continue
        end = progress["sources"][0].get("endOffset")
        if isinstance(end, str):
            try:
                end = _json.loads(end)
            except ValueError:
                # the offset dict round-trips as a Python repr, not JSON
                end = ast.literal_eval(end)
        if end:
            seen = int(end.get("page", -1))
            if seen >= min_page:
                break
    else:
        raise TimeoutError(
            f"stream drain stalled: reached page {seen} < {min_page} after "
            f"{max_polls * poll_s:.0f}s — refusing to return a partial sink"
        )
    return seen


@register(
    "q_stream_rest_restart_scan",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Exactly-once across an INDUCED RESTART: drain the paginated-REST "
    "stream into a parquet sink with a checkpoint, stop the query mid-drain "
    "(cursor ~1/3 through the pages), start a fresh query on the SAME "
    "checkpoint, finish the drain, and aggregate the sink through its "
    "_spark_metadata transaction log. The page-cursor WAL replays the "
    "interrupted batch via readBetweenOffsets; committed-but-unlogged files "
    "are invisible to the log-aware read — so counts AND distinct "
    "event_ids must equal a relational scan's (n_distinct_ids == n_events "
    "is the no-duplicates proof the hash can't fake). At 100 TB this is "
    "the recovery drill for any incremental ingest: offsets in the "
    "checkpoint, sink dedup via the sink's own commit log.",
)
def q_stream_rest_restart_scan(spark, sf_dir: str):
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import table_path
    from .rest_api import FixtureTransport

    register_stream_source(spark)
    path = table_path(sf_dir, "events")
    # smaller pages than the plain scan so even the smallest fixture yields
    # enough micro-batches to interrupt between (sf0.001: 20 pages / ~7
    # batches; the batch-size heuristic still scales the page count down to
    # a bounded batch COUNT at sf1+)
    page_size = 50
    transport = FixtureTransport(path, page_size)
    n_pages = transport.n_pages()
    empty = spark.createDataFrame([], "event_type string, n_events bigint, "
                                      "id_checksum bigint, n_distinct_ids bigint")
    # zero-row table: nothing to stream, nothing to recover. n_pages()
    # floors at 1 (an empty table still serves one empty page), so the
    # emptiness test must be on ROWS (r8 review fix: the old n_pages == 0
    # guard was unreachable)
    if transport.total_rows() == 0:
        return empty
    scratch = tempfile.mkdtemp(prefix="rest_restart_")
    out, ckpt = f"{scratch}/out", f"{scratch}/ckpt"

    def start():
        return (
            spark.readStream.format("paginated_rest_stream")
            .option("path", path)
            .option("page_size", str(page_size))
            .load()
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    try:
        # phase 1: drain to ~1/3 of the cursor range, then stop. (If the
        # fixture drains in one batch the restart is a no-op and the
        # exactly-once claim holds trivially; the unit test asserts the
        # interruption is real at its page size.)
        q1 = start()
        drain_until_page(q1, max(1, n_pages // 3))
        q1.stop()
        q1.awaitTermination()
        # phase 2: fresh query, same checkpoint — resume and finish
        q2 = start()
        drain_until_page(q2, n_pages)
        q2.stop()
        q2.awaitTermination()
        from pathlib import Path

        meta = Path(out) / "_spark_metadata"
        if not (meta.exists() and any(meta.iterdir())):  # no batch committed
            return empty
        return (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("event_id").cast("bigint").alias("id_checksum"),
                F.countDistinct("event_id").cast("bigint").alias("n_distinct_ids"),
            )
            .orderBy("event_type")
            .localCheckpoint()  # materialize before the scratch dir dies
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
