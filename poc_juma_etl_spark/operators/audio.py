"""Audio FEATURE EXTRACTION over decoded PCM — the frame-level half of the
multimodal pipeline (decode lives in operators/multimodal.decode_wav; this
is the "feature-extract" stage a training-data pipeline runs after it).

Shape: two Arrow-batched narrow maps, zero shuffles until the final
per-document row — synthesize a spec-valid PCM16 WAV per document (the
decode_real fixture idiom, multimodal.py:1967-1990), then a SECOND kernel
that knows nothing of the generator parses the RIFF container for real
(stdlib ``wave`` + ``struct``) and computes framed features in vectorized
numpy int64:

- fixed 32-sample frames (tail samples beyond the last full frame dropped,
  the standard hop=frame streaming framing),
- per-frame energy (sum of squares), zero-crossing count
  (``s[i]*s[i+1] < 0`` within the frame), peak amplitude,
- per-document rollup: frame count, total energy, total crossings, global
  peak, and the maximum single-frame energy (the "loudest frame" statistic
  an audio-quality filter thresholds on).

Everything is integer-exact, so the DuckDB oracle (:data:`AUDIO_ORACLE`)
replays the closed-form sample definition and hash-matches value for value —
a flipped bit anywhere in the encoder, the RIFF parse, or the framing
hash-fails. At 100 TB the whole plan is decode parallelism: per-partition
Arrow batches, no shuffle wider than the 500-row final ORDER BY.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
has no media surface at all; this extends the engine's multimodal toolbox
(SURVEY.md north-star extension families).

Registered as the driver gate ``q_multimodal_audio_features`` in round
10 (the round-9 queue drain); tests/test_audio.py runs the same
Spark-vs-DuckDB parity the gate runs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..plans.queries import register
from .multimodal import WAV_MIX, encode_wav_pcm16, wav_sample_sql

FRAME = 32  # samples per analysis frame (hop == frame: non-overlapping)
N_BASE, N_MOD = 96, 160  # n_samples = N_BASE + doc_id % N_MOD  (3..8 frames)
SR_BASE, SR_MOD = 8000, 100  # sample_rate = SR_BASE + doc_id % SR_MOD

OUT_SCHEMA = (
    "doc_id long, sample_rate long, n_frames long, energy long, "
    "zcr long, peak long, frame_energy_max long"
)


def synth_wav(doc_id: int) -> bytes:
    """Deterministic PCM16 mono WAV for ``doc_id`` — same integer-noise
    family as the decode_real fixture (multimodal.py:1982) but generated
    for EVERY document and long enough to span several analysis frames."""
    n = N_BASE + doc_id % N_MOD
    sr = SR_BASE + doc_id % SR_MOD
    samples = [((i * (doc_id + 7) * WAV_MIX) % 65536) - 32768 for i in range(n)]
    return encode_wav_pcm16(samples, sr)


def synth_wav_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage 1: doc_id -> WAV payload bytes."""
    for b in batches:
        yield pd.DataFrame(
            {"doc_id": b["doc_id"], "payload": [synth_wav(int(d)) for d in b["doc_id"]]}
        )


def wav_frame_features(payload: bytes) -> dict:
    """Parse the RIFF container for real and compute framed features —
    vectorized int64 numpy; exact integers end to end."""
    import io
    import struct
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                raise NotImplementedError("feature kernel contract is PCM16 mono")
            n = w.getnframes()
            rate = w.getframerate()
            raw = struct.unpack(f"<{n}h", w.readframes(n))
    # corrupt payloads fail TYPED, never raw (the shared fuzz contract —
    # see multimodal.decode_wav for the stdlib error-class inventory).
    # NotImplementedError subclasses RuntimeError: re-raise it first so the
    # valid-but-unsupported contract is not rewritten as corruption.
    except NotImplementedError:
        raise
    except (wave.Error, EOFError, RuntimeError, struct.error) as e:
        raise ValueError(f"corrupt WAV stream: {e}") from e
    n_frames = n // FRAME
    s = np.asarray(raw[: n_frames * FRAME], dtype=np.int64).reshape(n_frames, FRAME)
    fe = (s * s).sum(axis=1)
    fz = ((s[:, :-1] * s[:, 1:]) < 0).sum(axis=1).astype(np.int64)
    return {
        "sample_rate": rate,
        "n_frames": n_frames,
        "energy": int(fe.sum()),
        "zcr": int(fz.sum()),
        "peak": int(np.abs(s).max()) if n_frames else 0,
        "frame_energy_max": int(fe.max()) if n_frames else 0,
    }


def feature_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage 2: WAV payload -> per-document feature row."""
    for b in batches:
        rows = []
        for doc_id, payload in zip(b["doc_id"], b["payload"]):
            f = wav_frame_features(bytes(payload))
            rows.append({"doc_id": int(doc_id), **f})
        yield pd.DataFrame(rows)


# Closed-form replay of generator + framing: sample(i) and sample(i+1) both
# come straight from the formula (no window function needed), a pair counts
# toward zcr only when i+1 sits in the same full frame.
AUDIO_ORACLE = f"""
    WITH p AS (
      SELECT doc_id,
             {SR_BASE} + doc_id % {SR_MOD} AS sr,
             {N_BASE} + doc_id % {N_MOD} AS n
      FROM documents
    ),
    e AS (SELECT doc_id, sr, n, unnest(range(0, n)) AS i FROM p),
    s AS (
      SELECT doc_id, sr, n, i, i // {FRAME} AS frame,
             CAST({wav_sample_sql('i')} - 32768 AS BIGINT) AS v,
             CAST({wav_sample_sql('(i + 1)')} - 32768 AS BIGINT) AS vn
      FROM e
    ),
    f AS (
      SELECT doc_id, MAX(sr) AS sr, frame,
             SUM(v * v) AS fe,
             SUM(CASE WHEN (i + 1) % {FRAME} != 0 AND v * vn < 0
                      THEN 1 ELSE 0 END) AS fz,
             MAX(ABS(v)) AS fp
      FROM s WHERE frame < n // {FRAME}
      GROUP BY doc_id, frame
    )
    SELECT doc_id, CAST(MAX(sr) AS BIGINT) AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(fe) AS BIGINT) AS energy,
           CAST(SUM(fz) AS BIGINT) AS zcr,
           CAST(MAX(fp) AS BIGINT) AS peak,
           CAST(MAX(fe) AS BIGINT) AS frame_energy_max
    FROM f GROUP BY doc_id ORDER BY doc_id
    """


@register(
    "q_multimodal_audio_features",
    oracle=AUDIO_ORACLE,
    doc="Audio frame-feature extraction over a REAL RIFF parse — the "
    "feature-extract stage after WAV decode: a spec-valid PCM16 WAV "
    "is synthesized per document, a second kernel that knows nothing "
    "of the generator parses the container (stdlib wave + struct) "
    "and computes 32-sample framed energy / zero-crossings / peak in "
    "vectorized int64 numpy, rolled up per document. Integer-exact "
    "end to end, so the DuckDB oracle replays the closed-form sample "
    "definition and hash-matches value for value — a flipped bit in "
    "the encoder, the RIFF parse, or the framing hash-fails. Scale "
    "shape: two Arrow-batched narrow maps, decode parallelism = "
    "partition count, no shuffle before the final ORDER BY.",
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (round-12, measured and REJECTED): spread() here A/B'd 0.80x
    # with values identical — the PCM16 feature walk is
    # cheap enough that 32-way task fan-out overhead exceeds the
    # single-core kernel time, unlike the PNG/AVI decode gates where the
    # same guard won 1.6-3.0x. Kernel weight decides; re-measure if the
    # feature set ever grows a real DSP stage.
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    media = d.mapInPandas(synth_wav_kernel, schema="doc_id long, payload binary")
    return media.mapInPandas(feature_kernel, schema=OUT_SCHEMA).orderBy("doc_id")
