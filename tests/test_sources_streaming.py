"""Connector (S1/S2/S3) and Structured Streaming coverage."""

import time

from poc_juma_etl_spark.sources import rest_api

from .conftest import SF_SMOKE


def test_token_cache_ttl(monkeypatch):
    rest_api._token_cache.clear()
    t1 = rest_api.get_auth_token("r1")
    t2 = rest_api.get_auth_token("r1")
    assert t1 == t2  # cached within TTL (reference TOKEN_CACHE utils.py:24-28)
    # expire the cache
    tok, born = rest_api._token_cache["r1"]
    rest_api._token_cache["r1"] = (tok, born - rest_api.TOKEN_TTL_SECONDS - 1)
    assert rest_api.get_auth_token("r1") != t1


def test_fixture_transport_pagination_and_filter():
    tr = rest_api.FixtureTransport(
        f"{SF_SMOKE}/events.parquet",
        page_size=100,
        filter_field="ts",
        filter_start="2024-01-01",
        filter_end="2024-01-05",
    )
    n = tr.n_pages()
    total = sum(tr.fetch_page(p).num_rows for p in range(n))
    assert total == tr._table().num_rows  # pages partition the filtered rows
    assert tr.fetch_page(0).num_rows == 100


class _FakeResponse:
    def __init__(self, body):
        self._body = body

    def raise_for_status(self):
        pass

    def json(self):
        return self._body


class _FakeSession:
    """Duck-typed requests.Session serving 3 pages of 2 rows; records the
    payloads so the BETWEEN clause and auth header can be asserted."""

    def __init__(self):
        self.calls = []
        self.rows = [{"event_id": i, "v": float(i)} for i in range(6)]

    def post(self, url, json=None, headers=None, timeout=None):
        self.calls.append((url, json, headers))
        page, size = json["pagina"], json["tamanho_pagina"]
        return _FakeResponse(
            {
                "registros": self.rows[page * size : (page + 1) * size],
                "total_paginas": 3,
            }
        )


def test_http_transport_protocol():
    sess = _FakeSession()
    tr = rest_api.HttpTransport(
        "https://api.example.test/records",
        page_size=2,
        filter_field="ts",
        filter_start="2024-01-01",
        filter_end="2024-01-31",
        session=sess,
    )
    assert tr.n_pages() == 3
    total = sum(tr.fetch_page(p).num_rows for p in range(3))
    assert total == 6
    url, payload, headers = sess.calls[-1]
    assert payload["clausulas"][0]["operador"] == "BETWEEN"  # S2 server-side
    assert headers["Authorization"].startswith("Bearer ")  # S3 token
    assert tr.fetch_page(1).to_pylist()[0]["event_id"] == 2


def test_rest_source_distributed_scan(spark):
    rest_api.register_source(spark)
    df = (
        spark.read.format("paginated_rest")
        .option("path", f"{SF_SMOKE}/events.parquet")
        .option("page_size", "100")
        .load()
    )
    direct = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert df.count() == direct.count()
    # one Spark partition per page → the page loop is distributed
    assert df.rdd.getNumPartitions() == (direct.count() + 99) // 100


def test_streaming_converges_to_batch(spark):
    from poc_juma_etl_spark.plans.events import q_event_tumbling_hour
    from poc_juma_etl_spark.streaming.events import streaming_tumbling_hour

    stream_out = streaming_tumbling_hour(spark, SF_SMOKE)
    batch_out = q_event_tumbling_hour(spark, SF_SMOKE)
    s = {tuple(r) for r in stream_out.collect()}
    b = {tuple(r) for r in batch_out.collect()}
    assert s == b


# ----------------------------------------------------------------- live HTTP


class _LoopbackApi:
    """Reference-protocol API server handler (POST {pagina, tamanho_pagina,
    clausulas}) over a real socket: filters rows server-side on the BETWEEN
    clause, pages them, and reports both total_paginas and hasNext — the
    response shape the reference client consumes (utils.py:177-226)."""

    rows: list = []
    calls: list = []

    @classmethod
    def make_handler(cls):
        import json
        from http.server import BaseHTTPRequestHandler

        outer = cls

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                outer.calls.append(
                    {"body": body, "auth": self.headers.get("Authorization")}
                )
                rows = outer.rows
                for c in body.get("clausulas", []):
                    if c["operador"] == "BETWEEN":
                        lo, hi = c["valores"]
                        f = c["campo"]
                        rows = [r for r in rows if lo <= r[f][:10] <= hi]
                page, size = body["pagina"], body["tamanho_pagina"]
                chunk = rows[page * size : (page + 1) * size]
                total = max((len(rows) + size - 1) // size, 1)
                resp = json.dumps(
                    {
                        "registros": chunk,
                        "total_paginas": total,
                        "hasNext": page + 1 < total,
                    }
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                self.wfile.write(resp)

            def log_message(self, *args):
                pass

        return Handler


def _loopback_server():
    import threading
    from http.server import ThreadingHTTPServer

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _LoopbackApi.make_handler())
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_http_transport_against_loopback_server():
    """HttpTransport driven over a real HTTP socket (http.server loopback):
    pagination, server-side BETWEEN, bearer auth, and the hasNext page loop
    must all match the reference protocol (utils.py:177-226)."""
    import requests

    _LoopbackApi.rows = [
        {"event_id": i, "dtmovimento": f"2024-01-{(i % 9) + 1:02d} 12:00:00", "v": float(i)}
        for i in range(57)
    ]
    _LoopbackApi.calls = []
    srv = _loopback_server()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/api/records"
        tr = rest_api.HttpTransport(
            url,
            page_size=10,
            filter_field="dtmovimento",
            filter_start="2024-01-02",
            filter_end="2024-01-04",
            session=requests.Session(),
        )
        expected = [
            r
            for r in _LoopbackApi.rows
            if "2024-01-02" <= r["dtmovimento"][:10] <= "2024-01-04"
        ]
        # page-partitioned path (what the Spark DataSource distributes)
        n = tr.n_pages()
        assert n == (len(expected) + 9) // 10
        got = [row for p in range(n) for row in tr.fetch_page(p).to_pylist()]
        assert got == expected
        # the server actually received the reference-shaped BETWEEN clause
        body = _LoopbackApi.calls[-1]["body"]
        assert body["clausulas"] == [
            {
                "campo": "dtmovimento",
                "operador": "BETWEEN",
                "valores": ["2024-01-02", "2024-01-04"],
            }
        ]
        assert _LoopbackApi.calls[-1]["auth"].startswith("Bearer ")
        # hasNext-driven sequential loop converges to the same rows
        assert tr.fetch_all().to_pylist() == expected
    finally:
        srv.shutdown()


def test_http_transport_loopback_empty_range():
    """A range matching no rows: one empty page, zero-row tables from both
    the partitioned path and the hasNext loop (reference empty-guard S6)."""
    import requests

    _LoopbackApi.rows = [
        {"event_id": i, "dtmovimento": "2024-03-01 00:00:00"} for i in range(5)
    ]
    _LoopbackApi.calls = []
    srv = _loopback_server()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/api/records"
        tr = rest_api.HttpTransport(
            url,
            page_size=10,
            filter_field="dtmovimento",
            filter_start="2020-01-01",
            filter_end="2020-01-02",
            session=requests.Session(),
        )
        assert tr.n_pages() == 1
        assert tr.fetch_page(0).num_rows == 0
        assert tr.fetch_all().num_rows == 0
    finally:
        srv.shutdown()
