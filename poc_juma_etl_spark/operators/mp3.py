"""MP3 frame-header walk — MPEG-1 Layer III FRAMING metadata extraction
(the audio-container sibling of the WARC record walk): a spec-valid
frame sequence is synthesized per document and an INDEPENDENT parser
walks it for real — 11-bit sync scan, version/layer/CRC bits, the
PUBLIC bitrate and samplerate tables (ISO/IEC 11172-3), the exact
integer frame-length formula ``144000 * bitrate_kbps // samplerate +
padding``, and the 1152-samples-per-frame duration accounting — exactly
the probe stage an audio-corpus pipeline runs to catalog duration /
bitrate / VBR-ness WITHOUT decoding audio (full PCM decode needs a
synthesis filterbank; that tier stays out of scope per the documented
stdlib-only codec policy, and this operator extracts everything a
curation pass needs from headers alone).

Exactness: every extracted value is integer arithmetic on table lookups
(frame length and total duration via integer division), so the DuckDB
oracle reconstructs all of it in closed form from the fixture formulas
and the gate hash-fails on a flipped bit anywhere in the sync walk,
the table lookups, the length stepping, or the duration math.

Corruption fails typed (ValueError), never as a raw slice error — the
shared multimodal fuzz contract: bad sync, reserved bitrate/samplerate
indexes, free-format frames, and truncation mid-frame are all exercised
in tests.

Scale shape: one narrow Arrow map over doc_id (or a binaryFile scan of
real .mp3 files — the etl_binaryfile_decode_e2e / etl_warc_file_ingest
plumbing applies verbatim), zero shuffles before the final bounded
sort; parse parallelism = partition count.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
ingests REST/JSON only; this extends the engine's media-format breadth
(SURVEY.md north-star multimodal family, next to WAV/AVI/JPEG/PNG/WARC).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..plans.queries import register

# ISO/IEC 11172-3 tables, MPEG-1 Layer III. Index 0 is "free format" and
# index 15 is reserved — both fail typed in the parser; the fixture only
# emits 1..14.
BITRATE_KBPS = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
SAMPLE_RATES = (44100, 48000, 32000)  # sr index 3 is reserved
SAMPLES_PER_FRAME = 1152

# fixture geometry: 3 + doc_id % 7 frames; frame i uses bitrate index
# 1 + (doc_id + i) % 14, padding (doc_id + i) % 2; samplerate doc_id % 3
FR_BASE, FR_MOD = 3, 7
BR_MOD = 14
PAD_MOD = 2

OUT_SCHEMA = (
    "doc_id long, n_frames long, total_bytes long, bitrate_kbps_sum long, "
    "sample_rate long, total_samples long, duration_us long, is_vbr boolean"
)


def _frame_len(br_idx: int, sr: int, padding: int) -> int:
    return 144_000 * BITRATE_KBPS[br_idx] // sr + padding


def encode_mp3(doc_id: int) -> bytes:
    """Spec-valid MPEG-1 Layer III frame sequence (headers + deterministic
    filler payloads — no audio content, framing only). Filler bytes are
    vectorized (round-13, guide §4.2): the per-byte genexpr was ~60% of
    the probe kernel's CPU; (arange + c) % 251 is byte-identical."""
    import numpy as np

    sr_idx = doc_id % 3
    sr = SAMPLE_RATES[sr_idx]
    out = bytearray()
    for i in range(FR_BASE + doc_id % FR_MOD):
        br_idx = 1 + (doc_id + i) % BR_MOD
        padding = (doc_id + i) % PAD_MOD
        flen = _frame_len(br_idx, sr, padding)
        # sync(11) + version MPEG1(11) + layer III(01) + no-CRC(1) = FF FB
        hdr = bytes(
            (
                0xFF,
                0xFB,
                (br_idx << 4) | (sr_idx << 2) | (padding << 1),
                0xC0,  # mono, no mode extension, no copyright/original bits
            )
        )
        body = (
            ((np.arange(flen - 4) + (doc_id + i)) % 251).astype(np.uint8).tobytes()
        )
        out += hdr + body
    return bytes(out)


def parse_mp3(payload: bytes) -> list[dict]:
    """Independent frame walk: returns one dict per frame with the decoded
    header fields and byte length. Malformed input fails TYPED
    (ValueError), never as a raw slice error."""
    frames = []
    pos = 0
    n = len(payload)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("payload truncated inside a frame header")
        b0, b1, b2, _b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost frame sync at offset {pos}")
        if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
            raise ValueError("not an MPEG-1 Layer III frame")
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 0x1
        if br_idx == 0 or br_idx == 15:
            raise ValueError(f"free-format or reserved bitrate index {br_idx}")
        if sr_idx == 3:
            raise ValueError("reserved samplerate index")
        sr = SAMPLE_RATES[sr_idx]
        flen = _frame_len(br_idx, sr, padding)
        if pos + flen > n:
            raise ValueError("payload truncated inside a frame body")
        frames.append(
            {
                "bitrate_kbps": BITRATE_KBPS[br_idx],
                "sample_rate": sr,
                "frame_bytes": flen,
            }
        )
        pos += flen
    return frames


def mp3_probe_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Walk each document's frame sequence and reduce to the per-document
    probe stats a corpus catalog stores (duration via exact integer math:
    total_samples * 1e6 // samplerate)."""
    cols = [
        "doc_id",
        "n_frames",
        "total_bytes",
        "bitrate_kbps_sum",
        "sample_rate",
        "total_samples",
        "duration_us",
        "is_vbr",
    ]
    for b in batches:
        rows = []
        for doc_id, payload in zip(b["doc_id"], b["payload"]):
            frames = parse_mp3(bytes(payload))
            if not frames:
                # fail-loud contract (ADVICE r11): a zero-frame payload must
                # not vanish as row-count drift — it is a malformed input
                # like any truncation/sync failure
                raise ValueError(f"no frames in payload (doc_id={int(doc_id)})")
            srs = {f["sample_rate"] for f in frames}
            if len(srs) != 1:
                raise ValueError("mixed samplerates in one stream")
            sr = srs.pop()
            total_samples = len(frames) * SAMPLES_PER_FRAME
            brs = {f["bitrate_kbps"] for f in frames}
            rows.append(
                {
                    "doc_id": int(doc_id),
                    "n_frames": len(frames),
                    "total_bytes": sum(f["frame_bytes"] for f in frames),
                    "bitrate_kbps_sum": sum(f["bitrate_kbps"] for f in frames),
                    "sample_rate": sr,
                    "total_samples": total_samples,
                    "duration_us": total_samples * 1_000_000 // sr,
                    "is_vbr": len(brs) > 1,
                }
            )
        yield pd.DataFrame(rows, columns=cols)


def synth_mp3_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        yield pd.DataFrame(
            {
                "doc_id": b["doc_id"],
                "payload": [encode_mp3(int(d)) for d in b["doc_id"]],
            }
        )


# closed-form replay of the fixture formulas: per-frame bitrate index,
# padding, and the integer frame-length / duration math
def mp3_oracle_sql(doc_source: str = "documents") -> str:
    return f"""
    WITH d AS (
      SELECT doc_id,
             {FR_BASE} + doc_id % {FR_MOD} AS n_frames,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                             ELSE 32000 END AS sr
      FROM {doc_source}
    ),
    fr AS (
      SELECT doc_id, n_frames, sr, unnest(range(0, n_frames)) AS i FROM d
    ),
    per_frame AS (
      SELECT doc_id, n_frames, sr,
             list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                          1 + CAST((doc_id + i) % {BR_MOD} AS INTEGER)) AS br,
             (doc_id + i) % {PAD_MOD} AS pad
      FROM fr
    )
    SELECT doc_id,
           CAST(MAX(n_frames) AS BIGINT) AS n_frames,
           CAST(SUM(144000 * br // sr + pad) AS BIGINT) AS total_bytes,
           CAST(SUM(br) AS BIGINT) AS bitrate_kbps_sum,
           CAST(MAX(sr) AS BIGINT) AS sample_rate,
           CAST(MAX(n_frames) * {SAMPLES_PER_FRAME} AS BIGINT) AS total_samples,
           CAST(MAX(n_frames) * {SAMPLES_PER_FRAME} * 1000000 // MAX(sr)
                AS BIGINT) AS duration_us,
           COUNT(DISTINCT br) > 1 AS is_vbr
    FROM per_frame GROUP BY doc_id ORDER BY doc_id
    """


MP3_ORACLE = mp3_oracle_sql()


@register(
    "q_multimodal_mp3_probe",
    oracle=MP3_ORACLE,
    doc="MPEG-1 Layer III frame-header walk: frame count, byte total, "
    "bitrate sum, sample rate, duration and VBR flag per document, "
    "parsed inside an Arrow batch.",
)
def q_multimodal_mp3_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    media = d.mapInPandas(synth_mp3_kernel, schema="doc_id long, payload binary")
    return media.mapInPandas(mp3_probe_kernel, schema=OUT_SCHEMA).orderBy("doc_id")


# --- real-file e2e sibling: one .mp3 per document on disk ------------------

N_MP3_FILES = 200  # the N_BINFILES posture: bounded file count at every sf

MP3_FILE_ORACLE = mp3_oracle_sql(
    f"(SELECT doc_id FROM documents ORDER BY doc_id LIMIT {N_MP3_FILES}) docs"
)


@register(
    "etl_mp3_file_probe_e2e",
    oracle=MP3_FILE_ORACLE,
    doc="One .mp3 file per document on disk read back through binaryFile "
    "and probed with the same frame walk.",
)
def etl_mp3_file_probe_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof the frame walk applies verbatim to real FILES: one
    .mp3 per document written to disk, read back through Spark's
    binaryFile source (doc_id from the filename, the
    etl_binaryfile_decode_e2e idiom), probed inside an Arrow batch."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    ids = [
        int(r.doc_id)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(N_MP3_FILES)
        .collect()
    ]
    if not ids:
        return spark.createDataFrame([], OUT_SCHEMA)
    d = tempfile.mkdtemp(prefix="mp3files_")
    try:
        for did in ids:
            with open(f"{d}/doc_{did:06d}.mp3", "wb") as fh:
                fh.write(encode_mp3(did))
        scanned = (
            spark.read.format("binaryFile")
            .load(f"{d}/*.mp3")
            .select(
                F.regexp_extract(F.col("path"), r"doc_(\d+)\.mp3", 1)
                .cast("long")
                .alias("doc_id"),
                F.col("content").alias("payload"),
            )
        )
        out = scanned.mapInPandas(mp3_probe_kernel, schema=OUT_SCHEMA).orderBy(
            "doc_id"
        )
        # materialize before the temp files vanish
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)
