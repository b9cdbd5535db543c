"""WARC ingestion — the container format web-scale LLM corpora actually
arrive in (Common Crawl ships WARC/1.0): a spec-valid multi-record WARC
file is synthesized per document and an INDEPENDENT parser walks it for
real — WARC version line, CRLF header block, Content-Length-delimited
payload, the two-CRLF record separator, then the nested HTTP/1.1
response parse (status line, headers, body split) — exactly the
ingest stage that turns a crawl archive into a documents table.

The fixture idiom is decode_real's (operators/multimodal.py): the
generator and the parser share NO code, and every extracted value has a
closed form, so the DuckDB oracle reconstructs each record's body string
and the gate hash-fails on a flipped byte anywhere in the container
walk, the header parse, the length accounting, or the HTTP split. Body
identity is pinned by the repo's portable 60-bit md5 (text.SQL_MD5_LONG)
over the exact body text — DuckDB builds the identical string and hashes
it, so the checksum verifies CONTENT, not just lengths.

Corruption fails typed (ValueError), never as a raw slice/decode error —
the shared multimodal fuzz contract; truncated files, broken
Content-Length, and missing separators are all exercised in tests.

Scale shape: one narrow Arrow map over doc_id (or a binaryFile scan of
real .warc files — the etl_binaryfile_decode_e2e plumbing applies
verbatim), zero shuffles before the final per-document sort. Parse
parallelism = partition count; at 100 TB each task streams its own
archive members, the Common Crawl access pattern.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
ingests REST/JSON only; this extends the engine's source-format breadth
(SURVEY.md §2.5) to the de-facto web-corpus container.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register
from .text import SQL_MD5_LONG

# fixture geometry: 1 warcinfo + (1 + doc_id % 3) response records; body
# text "page {doc_id}-{r} " repeated 3 + (doc_id + r) % 5 times
R_BASE, R_MOD = 1, 3
REP_BASE, REP_MOD = 3, 5

OUT_SCHEMA = (
    "doc_id long, n_records long, n_responses long, "
    "total_content_length long, body_hash_sum long"
)


def _body_text(doc_id: int, r: int) -> str:
    return f"page {doc_id}-{r} " * (REP_BASE + (doc_id + r) % REP_MOD)


def _record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
    head = "".join(f"{k}: {v}\r\n" for k, v in headers)
    return (
        f"WARC/1.0\r\n{head}Content-Length: {len(payload)}\r\n\r\n"
    ).encode() + payload + b"\r\n\r\n"


def encode_warc(doc_id: int) -> bytes:
    """Spec-valid WARC/1.0: a warcinfo record then HTTP response records."""
    out = _record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Record-ID", f"<urn:uuid:info-{doc_id}>"),
        ],
        f"software: poc-juma-etl-spark fixture {doc_id}\r\n".encode(),
    )
    for r in range(R_BASE + doc_id % R_MOD):
        body = _body_text(doc_id, r).encode()
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
        )
        out += _record(
            [
                ("WARC-Type", "response"),
                ("WARC-Record-ID", f"<urn:uuid:resp-{doc_id}-{r}>"),
                ("WARC-Target-URI", f"https://example.test/{doc_id}/{r}"),
                ("Content-Type", "application/http;msgtype=response"),
            ],
            http,
        )
    return out


def parse_warc(payload: bytes) -> list[dict]:
    """Independent WARC walk: returns one dict per record with the parsed
    headers, raw payload length, and (for HTTP responses) the body text.
    Malformed input fails TYPED (ValueError), never as a raw slice error."""
    records = []
    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 5] != b"WARC/":
            raise ValueError("record does not start with a WARC version line")
        hdr_end = payload.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("unterminated WARC header block")
        lines = payload[pos:hdr_end].split(b"\r\n")
        if lines[0] != b"WARC/1.0":
            # the module contract is a WARC/1.0 parser: a mangled version
            # line (WARC/0.9, WARC/garbage) must fail typed, not be
            # silently accepted as if it were a header
            raise ValueError(
                f"unsupported WARC version line: {lines[0][:32]!r}"
            )
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            if b":" not in ln:
                raise ValueError("malformed WARC header line")
            k, v = ln.split(b":", 1)
            headers[k.strip().lower().decode()] = v.strip().decode()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError(f"bad or missing Content-Length: {e}") from e
        if clen < 0:
            # a negative length would move pos BACKWARD: a crafted
            # self-referential record then re-parses forever (hung task,
            # unbounded memory) — reproduced in review; lengths are sizes
            raise ValueError(f"negative Content-Length: {clen}")
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end + 4 > n:
            raise ValueError("payload truncated inside a record")
        if payload[body_end : body_end + 4] != b"\r\n\r\n":
            raise ValueError("missing record separator")
        raw = payload[body_start:body_end]
        rec: dict = {
            "warc_type": headers.get("warc-type", ""),
            "record_id": headers.get("warc-record-id", ""),
            "content_length": clen,
            "body": None,
        }
        if rec["warc_type"] == "response":
            http_split = raw.find(b"\r\n\r\n")
            if http_split < 0 or not raw.startswith(b"HTTP/1.1 "):
                raise ValueError("response record payload is not HTTP/1.1")
            rec["body"] = raw[http_split + 4 :].decode("utf-8")
        records.append(rec)
        pos = body_end + 4
    return records


def synth_warc_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        yield pd.DataFrame(
            {
                "doc_id": b["doc_id"],
                "payload": [encode_warc(int(d)) for d in b["doc_id"]],
            }
        )


def warc_ingest_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse each archive and reduce to per-document ingest statistics;
    body identity rides the portable 60-bit md5 so the oracle can verify
    CONTENT, not just byte counts."""
    import hashlib

    for b in batches:
        rows = []
        for doc_id, payload in zip(b["doc_id"], b["payload"]):
            recs = parse_warc(bytes(payload))
            responses = [r for r in recs if r["warc_type"] == "response"]
            rows.append(
                {
                    "doc_id": int(doc_id),
                    "n_records": len(recs),
                    "n_responses": len(responses),
                    "total_content_length": sum(r["content_length"] for r in recs),
                    "body_hash_sum": sum(
                        int(hashlib.md5(r["body"].encode()).hexdigest()[:15], 16)
                        for r in responses
                    ),
                }
            )
        yield pd.DataFrame(rows)


# closed-form replay: reconstruct each response body string and the HTTP +
# WARC length accounting from the fixture formulas
def warc_oracle_sql(doc_source: str = "documents") -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, {R_BASE} + doc_id % {R_MOD} AS n_resp FROM {doc_source}
    ),
    r AS (SELECT doc_id, n_resp, unnest(range(0, n_resp)) AS rr FROM d),
    bodies AS (
      SELECT doc_id, n_resp, rr,
             repeat('page ' || doc_id || '-' || rr || ' ',
                    {REP_BASE} + (doc_id + rr) % {REP_MOD}) AS body
      FROM r
    ),
    per_resp AS (
      SELECT doc_id, n_resp,
             -- the record's Content-Length is the full HTTP message:
             -- status line (17) + Content-Type header (26) +
             -- 'Content-Length: ' (16) + digits + CRLF (2) + CRLF (2) + body
             17 + 26 + 16 + length(CAST(length(body) AS VARCHAR)) + 2 + 2
               + length(body) AS http_len,
             {SQL_MD5_LONG.format(x="body")} AS bh
      FROM bodies
    )
    SELECT doc_id,
           CAST(MAX(n_resp) + 1 AS BIGINT) AS n_records,
           CAST(MAX(n_resp) AS BIGINT) AS n_responses,
           -- + the warcinfo record: 'software: poc-juma-etl-spark
           -- fixture ' (37) + doc_id digits + CRLF (2)
           CAST(SUM(http_len)
                + 39 + length(CAST(MAX(doc_id) AS VARCHAR)) AS BIGINT)
             AS total_content_length,
           CAST(SUM(bh) AS BIGINT) AS body_hash_sum
    FROM per_resp GROUP BY doc_id ORDER BY doc_id
    """


WARC_ORACLE = warc_oracle_sql()


@register(
    "q_multimodal_warc_ingest",
    oracle=WARC_ORACLE,
    doc="WARC/1.0 ingestion: independent record walk + nested "
    "HTTP/1.1 parse; body content pinned by portable md5.",
)
def q_multimodal_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    media = d.mapInPandas(synth_warc_kernel, schema="doc_id long, payload binary")
    return media.mapInPandas(warc_ingest_kernel, schema=OUT_SCHEMA).orderBy(
        "doc_id"
    )


# --- real-file e2e sibling: multi-record .warc shards on disk --------------

N_WARC_DOCS = 240  # bounded like N_BINFILES: fixed doc count at every sf
N_WARC_SHARDS = 24  # docs round-robin into shards -> ~10 docs per archive


def warc_file_ingest_kernel(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Parse MULTI-document archives (the Common Crawl shape: one .warc
    holds many pages) and attribute every record back to its document via
    the WARC-Record-ID header — the same per-doc stats as
    ``warc_ingest_kernel`` so the two gates share one oracle family."""
    import hashlib
    import re

    cols = [
        "doc_id",
        "n_records",
        "n_responses",
        "total_content_length",
        "body_hash_sum",
    ]
    rid = re.compile(r"urn:uuid:(?:info|resp)-(\d+)")
    for b in batches:
        rows = []
        for payload in b["payload"]:
            recs = parse_warc(bytes(payload))
            per: dict[int, dict] = {}
            for r in recs:
                m = rid.search(r["record_id"])
                if not m:
                    raise ValueError(
                        "record has no doc-attributable WARC-Record-ID: "
                        f"{r['record_id']!r}"
                    )
                st = per.setdefault(
                    int(m.group(1)),
                    {
                        "n_records": 0,
                        "n_responses": 0,
                        "total_content_length": 0,
                        "body_hash_sum": 0,
                    },
                )
                st["n_records"] += 1
                st["total_content_length"] += r["content_length"]
                if r["warc_type"] == "response":
                    st["n_responses"] += 1
                    st["body_hash_sum"] += int(
                        hashlib.md5(r["body"].encode()).hexdigest()[:15], 16
                    )
            rows.extend({"doc_id": d, **st} for d, st in sorted(per.items()))
        yield pd.DataFrame(rows, columns=cols)


WARC_FILE_ORACLE = warc_oracle_sql(
    f"(SELECT doc_id FROM documents ORDER BY doc_id LIMIT {N_WARC_DOCS}) docs"
)


@register(
    "etl_warc_file_ingest_e2e",
    oracle=WARC_FILE_ORACLE,
    doc="Multi-record .warc shard files on disk read back through "
    "binaryFile; records attributed to documents via WARC-Record-ID.",
)
def etl_warc_file_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof that the parser plumbing applies verbatim to real
    archive FILES (the module docstring's claim): write multi-record
    .warc shards to disk (a concatenation of spec-valid records IS a
    spec-valid WARC), scan them back with Spark's binaryFile source, and
    parse each archive inside an Arrow batch — the
    ``etl_binaryfile_decode_e2e`` idiom (operators/multimodal.py).

    Scale shape: one file per task out of the binaryFile scan, the
    per-archive streaming walk, zero shuffles before the final bounded
    sort; at 100 TB each executor parses its own crawl shards."""
    import shutil
    import tempfile

    ids = [
        int(r.doc_id)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(N_WARC_DOCS)
        .collect()
    ]
    if not ids:
        return spark.createDataFrame([], OUT_SCHEMA)
    shards: dict[int, list[int]] = {}
    for did in ids:
        shards.setdefault(did % N_WARC_SHARDS, []).append(did)
    d = tempfile.mkdtemp(prefix="warcfiles_")
    try:
        for k, docs in shards.items():
            with open(f"{d}/shard_{k:03d}.warc", "wb") as fh:
                for did in sorted(docs):
                    fh.write(encode_warc(did))
        scanned = (
            spark.read.format("binaryFile")
            .load(f"{d}/*.warc")
            .select(F.col("content").alias("payload"))
        )
        out = scanned.mapInPandas(
            warc_file_ingest_kernel, schema=OUT_SCHEMA
        ).orderBy("doc_id")
        # materialize before the temp files vanish
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)
