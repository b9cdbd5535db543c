"""Paginated-REST source as a Spark 4 Python DataSource (reference parity:
S1 paginated scan, S2 source-side predicate pushdown, S3 token cache).

The reference extracts by POSTing page numbers in a loop and accumulating
every row in driver memory (reference utils.py:150-235, the ``all_records``
list at utils.py:221) — the exact pattern that cannot scale. Here the same
protocol becomes a *distributed* scan: each page range is an InputPartition,
so executors fetch pages in parallel and rows stream straight into Arrow
batches without ever collecting on the driver.

There is no live CISSPoder-like API in this environment, so the transport is
pluggable: ``FixtureTransport`` serves pages out of a parquet file (pyarrow,
no Spark) with server-side date filtering — simulating the reference API's
``clausulas`` BETWEEN payload (utils.py:177-183). A requests-based transport
would implement the same three methods against HTTP; everything Spark-side
is transport-agnostic.

Usage::

    spark.dataSource.register(PaginatedRestDataSource)
    df = (spark.read.format("paginated_rest")
          .option("path", ".../events.parquet")   # fixture transport
          .option("page_size", "1000")
          .option("filter_field", "ts")           # optional S2 pushdown
          .option("filter_start", "2024-01-01")
          .option("filter_end", "2024-01-31")
          .load())
"""

from __future__ import annotations

import time

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..plans.queries import register


# --------------------------------------------------------------------- S3
# Token provider with TTL cache (reference get_auth_token + TOKEN_CACHE,
# utils.py:24-28, 90-144). No network here: the shape is the contract.

TOKEN_TTL_SECONDS = 600
_token_cache: dict[str, tuple[str, float]] = {}


def get_auth_token(realm: str = "default") -> str:
    tok = _token_cache.get(realm)
    now = time.monotonic()
    if tok and now - tok[1] < TOKEN_TTL_SECONDS:
        return tok[0]
    fresh = f"token-{realm}-{time.monotonic_ns()}"  # a real transport would POST here
    _token_cache[realm] = (fresh, now)
    return fresh


# --------------------------------------------------------------------- S1/S2


# (path, filter...) → filtered pyarrow Table, per executor process
_TABLE_CACHE: dict[tuple, object] = {}


class FixtureTransport:
    """Serves the paginated-API protocol from a local parquet file.

    Mirrors the reference API's behavior: rows come back page by page
    (``registros`` array), and a date-range clause filters *server-side*
    before pagination (S2) — so the client never sees out-of-range rows."""

    def __init__(
        self,
        path: str,
        page_size: int,
        filter_field: str | None = None,
        filter_start: str | None = None,
        filter_end: str | None = None,
    ):
        self.path = path
        self.page_size = page_size
        self.filter_field = filter_field
        self.filter_start = filter_start
        self.filter_end = filter_end

    def _table(self):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # Worker-local cache: every page an executor process serves re-uses
        # the one filtered table instead of re-reading + re-filtering the
        # parquet per page (a real HTTP transport has no such luxury, but it
        # also has no file to re-read).
        key = (self.path, self.filter_field, self.filter_start, self.filter_end)
        cached = _TABLE_CACHE.get(key)
        if cached is not None:
            return cached

        t = pq.read_table(self.path)
        # API contract serves microsecond timestamps (Spark cannot ingest ns)
        fields = [
            pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
            for f in t.schema
        ]
        t = t.cast(pa.schema(fields), safe=False)  # truncate ns → us
        if self.filter_field and self.filter_start and self.filter_end:
            import datetime as dt

            col = t[self.filter_field]
            lo = pc.strptime(f"{self.filter_start} 00:00:00", "%Y-%m-%d %H:%M:%S", "us")
            # day-granular inclusive end (reference widens to 23:59:59.999999,
            # utils.py:427-428): half-open [start, end+1d) is the robust form
            end_next = dt.date.fromisoformat(self.filter_end) + dt.timedelta(days=1)
            hi = pc.strptime(f"{end_next} 00:00:00", "%Y-%m-%d %H:%M:%S", "us")
            mask = pc.and_(pc.greater_equal(col, lo), pc.less(col, hi))
            t = t.filter(mask)
        _TABLE_CACHE[key] = t
        return t

    def total_rows(self) -> int:
        return self._table().num_rows

    def n_pages(self) -> int:
        # floors at 1: an empty table still serves one empty page, so
        # emptiness tests must use total_rows(), never n_pages() == 0
        return max((self.total_rows() + self.page_size - 1) // self.page_size, 1)

    def fetch_page(self, page: int):
        """Returns the page's rows as a pyarrow Table ('registros')."""
        get_auth_token()  # S3: token fetched (cached) per worker
        t = self._table()
        return t.slice(page * self.page_size, self.page_size)


class HttpTransport:
    """requests-backed implementation of the same page protocol against a
    live API (reference utils.py:150-235): POST ``{page, page_size,
    clausulas: [...]}`` with a bearer token; responses carry ``registros``
    (row dicts) and ``total_paginas``. The session is injectable so the
    protocol is unit-testable without network (tests/test_sources_streaming
    drives it with a fake session; this sandbox has no egress)."""

    def __init__(
        self,
        url: str,
        page_size: int,
        filter_field: str | None = None,
        filter_start: str | None = None,
        filter_end: str | None = None,
        session=None,
        partial_ok: bool = False,
    ):
        if session is None:  # pragma: no cover - requires network
            import requests

            session = requests.Session()
        self.url = url
        self.page_size = page_size
        self.filter_field = filter_field
        self.filter_start = filter_start
        self.filter_end = filter_end
        self._http = session
        # Mid-pagination failure contract: the reference BREAKS and returns
        # the records accumulated so far when a page request fails partway
        # through (reference utils.py:228-233) — silently partial data. The
        # default here is the opposite, deliberate divergence: raise, naming
        # the failed page, so a transient API error can never masquerade as
        # a short table. ``partial_ok=True`` restores bug-for-bug reference
        # parity for consumers that depended on the salvage behavior.
        self.partial_ok = partial_ok

    def _payload(self, page: int) -> dict:
        payload: dict = {"pagina": page, "tamanho_pagina": self.page_size}
        if self.filter_field and self.filter_start and self.filter_end:
            # server-side BETWEEN clause (S2; reference utils.py:177-183)
            payload["clausulas"] = [
                {
                    "campo": self.filter_field,
                    "operador": "BETWEEN",
                    "valores": [self.filter_start, self.filter_end],
                }
            ]
        return payload

    def _post(self, page: int) -> dict:
        resp = self._http.post(
            self.url,
            json=self._payload(page),
            headers={"Authorization": f"Bearer {get_auth_token()}"},
            timeout=60,
        )
        resp.raise_for_status()
        return resp.json()

    def n_pages(self) -> int:
        return max(int(self._post(0).get("total_paginas", 1)), 1)

    def fetch_page(self, page: int):
        import pyarrow as pa

        data = self._post(page)
        return pa.Table.from_pylist(data.get("registros", data.get("data", [])))

    def fetch_all(self):
        """Reference-parity sequential page loop (reference utils.py:200-226):
        advance a page counter, accept rows under ``registros`` or ``data``,
        and stop on an empty page or ``hasNext`` false — for servers whose
        ``total_paginas`` cannot be trusted (or is absent). The Spark
        DataSource path prefers :meth:`n_pages` + one InputPartition per page
        (parallel fetch); this loop is the sequential fallback and the
        protocol-compatibility surface for reference-shaped servers.

        On a mid-pagination request failure: raises a RuntimeError naming
        the failed page (default), or — with ``partial_ok=True`` — returns
        the pages accumulated so far, matching the reference's salvage
        behavior (utils.py:228-233). See ``__init__`` for the rationale."""
        import pyarrow as pa

        page, chunks = 0, []
        while True:
            try:
                data = self._post(page)
            except Exception as exc:
                if self.partial_ok:
                    break
                raise RuntimeError(
                    f"paginated fetch failed at page {page} "
                    f"({len(chunks)} pages accumulated, discarded): {exc}"
                ) from exc
            recs = data.get("registros", data.get("data", []))
            if not recs:
                break
            chunks.append(pa.Table.from_pylist(recs))
            has_next = data.get("hasNext")
            if has_next is None:
                has_next = page + 1 < int(data.get("total_paginas", 1))
            if not has_next:
                break
            page += 1
        if not chunks:
            return pa.Table.from_pylist([])
        return pa.concat_tables(chunks)


class PaginatedRestReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema_ = schema
        self.options = options

    def _transport(self):
        o = self.options
        common = dict(
            page_size=int(o.get("page_size", "1000")),
            filter_field=o.get("filter_field"),
            filter_start=o.get("filter_start"),
            filter_end=o.get("filter_end"),
        )
        if o.get("transport", "fixture") == "http":
            return HttpTransport(url=o["url"], **common)
        return FixtureTransport(path=o["path"], **common)

    def partitions(self):
        # one partition per page → executors fetch pages concurrently
        # (the reference's sequential page loop, distributed)
        return [InputPartition(p) for p in range(self._transport().n_pages())]

    def read(self, partition):
        # Spark 4 readers may yield pyarrow RecordBatches directly —
        # rows stay columnar end-to-end (no per-row Python tuples, the
        # one thing that made this connector slower than a native scan)
        table = self._transport().fetch_page(partition.value)
        yield from table.to_batches()

class PaginatedRestDataSource(DataSource):
    @classmethod
    def name(cls):
        return "paginated_rest"

    def schema(self):
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options["path"]
        # a parquet "table" may be a single file (the fixtures) or a
        # Spark-written directory of part files — resolve to one footer
        import os

        if os.path.isdir(path):
            import glob

            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                raise FileNotFoundError(f"no parquet part files under {path}")
            path = parts[0]
        schema = pq.read_schema(path)
        # nanosecond timestamps are not Spark-readable; the transport
        # casts to microseconds, declare accordingly
        import pyarrow as pa

        fields = [
            pa.field(f.name, pa.timestamp("us"))
            if pa.types.is_timestamp(f.type)
            else f
            for f in schema
        ]
        return from_arrow_schema(pa.schema(fields))

    def reader(self, schema):
        return PaginatedRestReader(schema, self.options)


def register_source(spark) -> None:
    """Register the connector on a session."""
    spark.dataSource.register(PaginatedRestDataSource)


@register(
    "etl_rest_source_scan",
    oracle="""
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           user_id, event_type, value, props
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-11 00:00:00'
    ORDER BY event_id
    """,
    doc="S1/S2/S3 connector parity: the paginated-REST Python DataSource "
    "(one InputPartition per page, server-side date filter, token cache) "
    "must return exactly the rows a direct relational scan returns.",
)
def etl_rest_source_scan(spark, sf_dir: str):
    from ..catalog import table_path

    register_source(spark)
    df = (
        spark.read.format("paginated_rest")
        .option("path", table_path(sf_dir, "events"))
        .option("page_size", "500")
        .option("filter_field", "ts")
        .option("filter_start", "2024-01-01")
        .option("filter_end", "2024-01-10")
        .load()
    )
    from ..plans.queries import ts_str

    return df.select(
        "event_id",
        ts_str("ts", "ts", frac=True),
        "user_id",
        "event_type",
        "value",
        "props",
    ).orderBy("event_id")

