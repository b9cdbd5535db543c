"""TAR / WebDataset ingestion — the shard container multimodal training
corpora actually ship in (WebDataset = POSIX tar archives whose members
group by basename: ``{key}.txt`` + ``{key}.json`` + media per sample;
loaders stream shards member-by-member): a spec-valid ustar archive is
synthesized per document by the STDLIB ``tarfile`` writer (the public
reference implementation — deterministic bytes via fixed uid/gid/mtime
and USTAR_FORMAT), and an INDEPENDENT parser walks the 512-byte block
structure for real — magic/version check, the spaces-substituted header
CHECKSUM recomputation, octal size fields, content-block rounding, the
two-zero-block terminator, then WebDataset-style member grouping by
basename — exactly the ingest stage that turns a shard into a samples
table.

The generator and the parser share NO code (writer = stdlib tarfile,
reader = this module's block walk), and every member body has a closed
form, so the DuckDB oracle reconstructs each sample's text and json
byte-for-byte and the gate hash-fails on a flipped byte anywhere in the
header parse, the checksum accounting, the size stepping, or the member
grouping. Text identity is pinned by the portable 60-bit md5
(text.SQL_MD5_LONG) over the exact member body.

Corruption fails typed (ValueError), never as a raw slice error — the
shared multimodal fuzz contract: bad magic, corrupted checksum,
non-octal size, and truncation mid-member are all exercised in tests.

Scale shape: one narrow Arrow map over doc_id (or a binaryFile scan of
real .tar shard files — ``etl_tar_shard_ingest_e2e`` proves the
plumbing), zero shuffles before the final bounded sort; at 100 TB each
task streams its own shards, the WebDataset access pattern.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
ingests REST/JSON only; this extends the engine's source-format breadth
(SURVEY.md north-star multimodal family, next to WARC / MP3 / binary
media).
"""

from __future__ import annotations

import io
import tarfile
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..plans.queries import register, scoped_dir
from .text import SQL_MD5_LONG

# fixture geometry: text body "sample {doc_id} segment {s} " repeated
# 2 + (doc_id + s) % 4 times over 1 + doc_id % 3 segments, joined by
# newlines; json is a fixed-shape metadata record
SEG_BASE, SEG_MOD = 1, 3
REP_BASE, REP_MOD = 2, 4

OUT_SCHEMA = (
    "doc_id long, n_members long, text_bytes long, json_bytes long, "
    "total_stored long, text_hash long"
)


def _text_body(doc_id: int) -> str:
    return "\n".join(
        f"sample {doc_id} segment {s} " * (REP_BASE + (doc_id + s) % REP_MOD)
        for s in range(SEG_BASE + doc_id % SEG_MOD)
    )


def _json_body(doc_id: int) -> str:
    return f'{{"doc_id": {doc_id}, "lang": "en", "split": {doc_id % 10}}}'


def _add_member(tf: tarfile.TarFile, name: str, body: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(body)
    info.mtime = 0  # deterministic bytes: no wall-clock in the header
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    tf.addfile(info, io.BytesIO(body))


def encode_tar(doc_id: int) -> bytes:
    """One WebDataset-style sample: ``{doc_id:08d}.txt`` + ``.json``
    members written by the stdlib tarfile writer (USTAR format)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        _add_member(tf, f"{doc_id:08d}.txt", _text_body(doc_id).encode())
        _add_member(tf, f"{doc_id:08d}.json", _json_body(doc_id).encode())
    return buf.getvalue()


def encode_tar_shard(doc_ids: list[int]) -> bytes:
    """A multi-sample WebDataset SHARD: members for every doc in order."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for doc_id in doc_ids:
            _add_member(tf, f"{doc_id:08d}.txt", _text_body(doc_id).encode())
            _add_member(tf, f"{doc_id:08d}.json", _json_body(doc_id).encode())
    return buf.getvalue()


BLOCK = 512


def parse_tar(payload: bytes) -> list[dict]:
    """Independent ustar block walk: returns one dict per member with name,
    size, and body bytes. Validates the magic, RECOMPUTES the header
    checksum (spaces-substituted rule), and steps content blocks; any
    malformation fails TYPED (ValueError), never as a raw slice error."""
    members = []
    pos = 0
    n = len(payload)
    while True:
        if pos + BLOCK > n:
            raise ValueError("payload truncated inside a header block")
        hdr = payload[pos : pos + BLOCK]
        if hdr == b"\0" * BLOCK:
            # terminator: two zero blocks (accept EOF after the first —
            # writers pad, readers must not over-require)
            return members
        if hdr[257:262] != b"ustar":
            raise ValueError(f"bad ustar magic at offset {pos}")
        stored = hdr[148:156]
        try:
            want = int(stored.rstrip(b"\0 ").lstrip(), 8)
        except ValueError as e:
            raise ValueError(f"non-octal checksum field: {stored!r}") from e
        calc = sum(hdr[:148]) + 8 * ord(" ") + sum(hdr[156:])
        if calc != want:
            raise ValueError(
                f"header checksum mismatch at offset {pos}: "
                f"stored {want}, computed {calc}"
            )
        name = hdr[0:100].rstrip(b"\0").decode()
        size_field = hdr[124:136]
        try:
            size = int(size_field.rstrip(b"\0 ").lstrip(), 8)
        except ValueError as e:
            raise ValueError(f"non-octal size field: {size_field!r}") from e
        body_start = pos + BLOCK
        body_end = body_start + size
        if body_end > n:
            raise ValueError("payload truncated inside a member body")
        members.append(
            {"name": name, "size": size, "body": payload[body_start:body_end]}
        )
        # content occupies whole blocks
        pos = body_start + ((size + BLOCK - 1) // BLOCK) * BLOCK


def _member_stats(recs: list[dict]) -> list[dict]:
    """Group members by WebDataset basename and reduce to per-sample
    ingest stats; text identity rides the portable 60-bit md5."""
    import hashlib

    per: dict[int, dict] = {}
    for m in recs:
        stem, _, ext = m["name"].rpartition(".")
        if not stem.isdigit() or ext not in ("txt", "json"):
            raise ValueError(f"member is not a WebDataset sample file: {m['name']!r}")
        st = per.setdefault(
            int(stem),
            {"n_members": 0, "text_bytes": 0, "json_bytes": 0, "text_hash": 0},
        )
        st["n_members"] += 1
        if ext == "txt":
            st["text_bytes"] += m["size"]
            st["text_hash"] += int(
                hashlib.md5(m["body"]).hexdigest()[:15], 16
            )
        else:
            st["json_bytes"] += m["size"]
    return [
        {
            "doc_id": d,
            **st,
            "total_stored": st["text_bytes"] + st["json_bytes"],
        }
        for d, st in sorted(per.items())
    ]


COLS = [
    "doc_id",
    "n_members",
    "text_bytes",
    "json_bytes",
    "total_stored",
    "text_hash",
]


def synth_tar_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        yield pd.DataFrame(
            {
                "doc_id": b["doc_id"],
                "payload": [encode_tar(int(d)) for d in b["doc_id"]],
            }
        )


def tar_ingest_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        rows = []
        for payload in b["payload"]:
            rows.extend(_member_stats(parse_tar(bytes(payload))))
        yield pd.DataFrame(rows, columns=COLS)[COLS]


# closed-form replay: rebuild each member body string and its byte length
# from the fixture formulas (the text is ASCII, so characters == bytes)
def tar_oracle_sql(doc_source: str = "documents") -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, {SEG_BASE} + doc_id % {SEG_MOD} AS n_seg FROM {doc_source}
    ),
    seg AS (
      SELECT doc_id, n_seg, unnest(range(0, n_seg)) AS s FROM d
    ),
    seg_text AS (
      SELECT doc_id, n_seg, s,
             repeat('sample ' || doc_id || ' segment ' || s || ' ',
                    {REP_BASE} + (doc_id + s) % {REP_MOD}) AS seg_body
      FROM seg
    ),
    bodies AS (
      SELECT doc_id,
             string_agg(seg_body, chr(10) ORDER BY s) AS text_body,
             '{{"doc_id": ' || MAX(doc_id) || ', "lang": "en", "split": '
               || MAX(doc_id) % 10 || '}}' AS json_body
      FROM seg_text GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_members,
           CAST(length(text_body) AS BIGINT) AS text_bytes,
           CAST(length(json_body) AS BIGINT) AS json_bytes,
           CAST(length(text_body) + length(json_body) AS BIGINT)
             AS total_stored,
           {SQL_MD5_LONG.format(x="text_body")} AS text_hash
    FROM bodies ORDER BY doc_id
    """


TAR_ORACLE = tar_oracle_sql()


@register(
    "q_multimodal_tar_ingest",
    oracle=TAR_ORACLE,
    doc="TAR / WebDataset sample ingestion: ustar member walk per "
    "document, member byte counts and text body pinned by portable md5.",
)
def q_multimodal_tar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    media = d.mapInPandas(synth_tar_kernel, schema="doc_id long, payload binary")
    return media.mapInPandas(tar_ingest_kernel, schema=OUT_SCHEMA).orderBy(
        "doc_id"
    )


# --- real-file e2e sibling: multi-sample .tar shards on disk ---------------

N_TAR_DOCS = 240
N_TAR_SHARDS = 16

TAR_SHARD_ORACLE = tar_oracle_sql(
    f"(SELECT doc_id FROM documents ORDER BY doc_id LIMIT {N_TAR_DOCS}) docs"
)


@register(
    "etl_tar_shard_ingest_e2e",
    oracle=TAR_SHARD_ORACLE,
    doc="Multi-sample .tar shard files on disk (the WebDataset layout) "
    "read back through binaryFile and split into per-document samples.",
)
def etl_tar_shard_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end over real shard FILES (the WebDataset layout): documents
    round-robin into multi-sample .tar shards on disk, a binaryFile scan
    reads them back, each shard parses inside an Arrow batch."""
    from pyspark.sql import functions as F

    ids = [
        int(r.doc_id)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(N_TAR_DOCS)
        .collect()
    ]
    if not ids:
        return spark.createDataFrame([], OUT_SCHEMA)
    shards: dict[int, list[int]] = {}
    for did in ids:
        shards.setdefault(did % N_TAR_SHARDS, []).append(did)
    d = scoped_dir("tarshards_")
    for k, docs in shards.items():
        with open(f"{d}/shard_{k:03d}.tar", "wb") as fh:
            fh.write(encode_tar_shard(sorted(docs)))
    scanned = (
        spark.read.format("binaryFile")
        .load(f"{d}/*.tar")
        .select(F.col("content").alias("payload"))
    )
    return scanned.mapInPandas(tar_ingest_kernel, schema=OUT_SCHEMA).orderBy("doc_id")
