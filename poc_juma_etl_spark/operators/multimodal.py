"""Multimodal column handling (extension surface, BASELINE.json north_star).

Pattern for image/audio/video at 100 TB: the payload is an opaque ``binary``
column with typed metadata columns beside it; per-item decode / feature
extraction runs as Arrow-batched Pandas code via ``mapInPandas`` (one
Python worker per partition, whole-column batches over Arrow — never a
row-at-a-time UDF). Parallelism is partition-level; a decode that needs 10k
cores is just a repartition before the map.

Two decode tiers:

- ``decode_stub`` — deterministic pseudo-features from raw bytes; keeps
  the plumbing queries (features/frames/resize) oracle-exact on the
  text-derived fixture payloads.
- ``decode_real`` — GENUINE container decode with zero required
  dependencies: PNG via zlib inflate + the full five-filter unfilter
  pass (RFC 2083), WAV via RIFF/PCM16 parse (stdlib wave). Pillow, when
  installed, takes over PNG and adds JPEG. q_multimodal_decode_real
  hash-gates the whole encode→decode→stats chain against a closed-form
  DuckDB oracle.

The fixture corpus has no binary table, so the plumbing queries synthesize
payloads from ``documents.text`` (utf-8 bytes standing in for an encoded
image) and the real-decode query synthesizes spec-valid PNG/WAV containers
from ``doc_id`` — the shapes a real binaryFile ingest would have.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register, scoped_dir

FEATURE_DIM = 4

OUT_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, "
    "checksum long, features array<float>"
)


# Resolved ONCE per interpreter (round-13, profiled): the per-call import
# attempt inside decode_real cost ~0.25 ms of importlib path-finder work per
# document — a quarter of the whole PNG/WAV kernel's CPU. Guarding ONLY the
# import is unchanged (ADVICE r8): an ImportError raised from inside a
# Pillow decode (a missing optional plugin dep) still propagates.
try:
    from PIL import Image as _PIL_IMAGE  # type: ignore
except ImportError:
    _PIL_IMAGE = None


def decode_real(payload: bytes) -> dict:
    """Real media decode, dispatched on the container's magic bytes.

    PNG and WAV decode for real with the standard library alone (full
    zlib inflate + per-scanline unfilter for PNG, RIFF/PCM parse for WAV
    — see decode_png / decode_wav below); Pillow, when installed, takes
    over PNG and adds JPEG. No required dependency: only a format that
    genuinely needs an external codec (JPEG without Pillow) raises."""
    Image = _PIL_IMAGE

    def _pil_stats(kind: str) -> dict:
        import io

        im = Image.open(io.BytesIO(payload)).convert("L")
        px = list(im.getdata())
        return {
            "media_kind": kind,
            "width": im.width,
            "height": im.height,
            "sample_rate": None,
            "n_units": len(px),
            "pixel_sum": sum(px),
            "sample_sq_sum": None,
        }

    if payload[:8] == PNG_SIG:
        if Image is not None:  # optional fast path — identical stats
            return _pil_stats("png")
        return decode_png(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from .video import decode_avi  # real chunk-walk parser (round 9)

        v = decode_avi(payload)
        return {
            "media_kind": "avi",
            "width": v["width"],
            "height": v["height"],
            "sample_rate": None,
            "n_units": len(v["frames"]),  # units = frames for video
            "pixel_sum": sum(
                sum(sum(row) for row in frame) for frame in v["frames"]
            ),
            "sample_sq_sum": None,
        }
    if payload[:3] == b"\xff\xd8\xff":  # JPEG
        if Image is not None:
            return _pil_stats("jpeg")
        # pure-stdlib decoder (sequential baseline or progressive DCT,
        # grayscale or subsampled YCbCr); extended/lossless/arithmetic
        # flavors still raise the NotImplementedError contract inside
        return decode_jpeg(payload)
    raise ValueError(f"unrecognized media container: {payload[:8]!r}")


def decode_stub(payload: bytes) -> tuple[int, list[float]]:
    """Deterministic fake decode: (checksum, FEATURE_DIM features).

    Features are byte-sum statistics over fixed stripes — stable across
    runs/engines, cheap, and shaped like a real embedding head."""
    n = len(payload)
    checksum = sum(payload) % 1_000_000_007
    stripe = max(n // FEATURE_DIM, 1)
    feats = []
    for i in range(FEATURE_DIM):
        chunk = payload[i * stripe : (i + 1) * stripe] or b"\x00"
        feats.append(float(sum(chunk)) / (255.0 * len(chunk)))
    return checksum, feats


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batch in → feature frame out."""
    for pdf in batches:
        decoded = [decode_stub(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [len(p) for p in pdf["payload"]],
                "checksum": [c for c, _ in decoded],
                "features": [f for _, f in decoded],
            }
        )


def media_features(df: DataFrame) -> DataFrame:
    """The operator: (doc_id, media_type, payload binary) → features.

    At scale: repartition before this map sets decode parallelism; the
    output is a normal DataFrame (joinable with the ANN operators in
    operators/similarity.py for media near-dup search)."""
    return df.mapInPandas(extract_features, schema=OUT_SCHEMA)


@register(
    "q_multimodal_features",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image/fake' ELSE 'audio/fake' END
               AS media_type,
             text, length(text) AS n
      FROM documents
    ),
    ck AS (  -- ASCII fixture text: ord(char) == utf-8 byte, so the stub's
             -- byte checksum is expressible as a codepoint sum
      SELECT media_type, n,
             COALESCE(list_sum(list_transform(range(1, n + 1),
                                              i -> ord(substring(text, i, 1)))), 0)
               % 1000000007 AS checksum
      FROM m
    )
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n) AS BIGINT) AS total_bytes,
           CAST(SUM(checksum) AS BIGINT) AS checksum_sum
    FROM ck GROUP BY media_type ORDER BY media_type
    """,
    doc="Multimodal plumbing: synthesize a binary payload column from "
    "documents (stand-in for encoded images), run the Arrow-batched "
    "mapInPandas decode-stub, aggregate per media_type. The ASCII fixture "
    "payload makes the stub's byte checksum a SQL codepoint sum, so this "
    "Python-kernel pipeline is value-hash-gated like the frame sampler "
    "(the float feature stripes stay pinned by tests/test_m4_operators.py).",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "image/fake").otherwise("audio/fake").alias(
            "media_type"
        ),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = media_features(media)
    return (
        feats.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("checksum").alias("checksum_sum"),
        )
        .orderBy("media_type")
    )


# --------------------------------------------------------------------------
# Frame sampling: the video path's decode-side primitive. A real pipeline
# seeks N key frames per clip; the plumbing is byte-range extraction per
# item inside an Arrow-batched kernel. Because the synthetic payload is
# utf-8 ASCII text, the oracle can replicate the exact byte slicing and
# md5 in SQL (char slice == byte slice for ASCII) — giving this mapInPandas
# kernel a full value-hash gate, not just a rows-only check.

N_FRAMES = 4

FRAME_SCHEMA = (
    "doc_id long, frame_idx long, offset_bytes long, frame_len long, frame_md5 string"
)


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per item, slice N_FRAMES evenly-strided byte
    ranges from the payload and md5 each — the stand-in for an ffmpeg
    keyframe seek, with the same batch shape and output contract."""
    import hashlib

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in
                                ("doc_id", "frame_idx", "offset_bytes", "frame_len", "frame_md5")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            stride = max(n // N_FRAMES, 1)
            for i in range(N_FRAMES):
                off = i * stride
                if off >= n:
                    break
                frame = payload[off : off + stride]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["offset_bytes"].append(off)
                out["frame_len"].append(len(frame))
                out["frame_md5"].append(hashlib.md5(frame).hexdigest())
        yield pd.DataFrame(out)


@register(
    "q_multimodal_frame_sample",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, text, length(text) AS n_total,
             greatest(length(text) // {N_FRAMES}, 1) AS stride
      FROM documents
    ), f AS (
      SELECT doc_id, text, n_total, stride, unnest(range(0, {N_FRAMES})) AS frame_idx
      FROM m
    )
    SELECT doc_id, frame_idx,
           CAST(frame_idx * stride AS BIGINT) AS offset_bytes,
           CAST(length(substring(text, frame_idx * stride + 1, stride)) AS BIGINT)
             AS frame_len,
           md5(substring(text, frame_idx * stride + 1, stride)) AS frame_md5
    FROM f
    WHERE frame_idx * stride < n_total
    ORDER BY doc_id, frame_idx
    """,
    doc="Multimodal frame sampling: treat each payload as an encoded clip "
    "and extract 4 evenly-strided byte-range 'frames' per item inside an "
    "Arrow-batched mapInPandas kernel (hashlib md5 per frame — the slot "
    "where an ffmpeg/PIL decode goes). Embarrassingly parallel: no "
    "shuffle, decode parallelism = partition count. The ASCII fixture "
    "payload lets DuckDB replicate the byte slicing in SQL, so this "
    "Python-kernel operator is value-hash-gated, not rows-only.",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    frames = media.mapInPandas(sample_frames, schema=FRAME_SCHEMA)
    return frames.orderBy("doc_id", "frame_idx")


# --------------------------------------------------------------------------
# Resize plumbing: the image path's other decode-side primitive. The stub
# "resize" is a stride-4 byte subsample — the raw-bytes analog of a
# nearest-neighbor downsample — deterministic, so DuckDB replicates it in
# SQL (char slice == byte slice on the ASCII fixture payload) and the
# kernel is value-hash-gated like the frame sampler. A Pillow thumbnail
# call drops into the same kernel without touching the Spark plumbing.

RESIZE_STRIDE = 4

RESIZE_SCHEMA = "doc_id long, orig_bytes long, resized_bytes long, resized_md5 string"


def resize_items(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: stride-subsample each payload (the resize slot)."""
    import hashlib

    for pdf in batches:
        resized = [p[::RESIZE_STRIDE] for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "orig_bytes": [len(p) for p in pdf["payload"]],
                "resized_bytes": [len(r) for r in resized],
                "resized_md5": [hashlib.md5(r).hexdigest() for r in resized],
            }
        )


@register(
    "q_multimodal_resize",
    oracle=f"""
    WITH m AS (SELECT doc_id, text, length(text) AS n FROM documents),
    sub AS (
      SELECT doc_id, n,
             array_to_string(list_transform(range(1, n + 1, {RESIZE_STRIDE}),
                                            i -> substring(text, i, 1)), '') AS resized
      FROM m
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS orig_bytes,
           CAST(length(resized) AS BIGINT) AS resized_bytes,
           md5(resized) AS resized_md5
    FROM sub
    ORDER BY doc_id
    """,
    doc="Multimodal resize plumbing: per-item downsample inside an Arrow-"
    "batched mapInPandas kernel (stride-4 byte subsample standing in for "
    "a nearest-neighbor thumbnail; a Pillow call slots into the same "
    "kernel). Embarrassingly parallel, no shuffle; the ASCII fixture "
    "payload lets DuckDB replicate the subsample in SQL, so the resize "
    "kernel is value-hash-gated rather than rows-only.",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return media.mapInPandas(resize_items, schema=RESIZE_SCHEMA).orderBy("doc_id")


# --------------------------------------------------------------------------
# REAL media decode (no external dependency). PNG and WAV are both fully
# decodable with the standard library — zlib inflate + the five PNG
# scanline filters (public spec, RFC 2083 §6) for images, RIFF/PCM16 parse
# (the `wave` module) for audio — so the engine's real-decode path runs in
# this container rather than hiding behind a stub. Pillow, when present,
# replaces the pure-Python PNG path and adds JPEG (decode_real above).
#
# The q_multimodal_decode_real fixture SYNTHESIZES valid containers from
# doc_id (a deterministic gradient image; a deterministic integer-noise
# PCM track), so the decoded statistics have closed-form SQL — the kernel
# chain encode → inflate/unfilter → stats is value-hash-gated end to end
# against DuckDB computing the same stats from first principles.

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §6.6): nearest of left/up/up-left to
    the linear estimate a + b − c, ties to left then up."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png_gray(rows: list[bytes]) -> bytes:
    """Encode 8-bit grayscale scanlines as a real, spec-valid PNG.

    Filter type cycles y % 5 through None/Sub/Up/Average/Paeth, so a
    decoder must implement the whole filter suite to round-trip the
    fixture — the encoder is the test harness for the decoder, not its
    mirror image."""
    import struct
    import zlib

    h = len(rows)
    w = len(rows[0]) if rows else 0
    if h and w:
        # filters predict from ORIGINAL neighbors, so encoding has no
        # sequential dependency — all five filtered images compute in one
        # vectorized pass and each row selects its y % 5 variant
        # (round-13, guide §4.2; byte-identical to the per-pixel form)
        img = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w).astype(
            np.int16
        )
        left = np.zeros_like(img)
        left[:, 1:] = img[:, :-1]
        up = np.zeros_like(img)
        up[1:] = img[:-1]
        ul = np.zeros_like(img)
        ul[1:, 1:] = img[:-1, :-1]
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        cand = (
            np.stack([img, img - left, img - up, img - (left + up) // 2, img - paeth])
            & 0xFF
        )
        ftypes = np.arange(h) % 5
        out = np.empty((h, w + 1), dtype=np.uint8)
        out[:, 0] = ftypes
        out[:, 1:] = cand[ftypes, np.arange(h)]
        raw = out.tobytes()
    else:
        raw = bytes(y % 5 for y in range(h))  # zero-width rows: filter bytes only
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Pure-stdlib PNG decode for 8-bit grayscale (color type 0): walk
    the chunk stream, inflate the concatenated IDATs, reverse the per-
    scanline filter (all five types), return (width, height, scanlines)
    of real pixel bytes — the shared core of decode_png's statistics
    path and the perceptual-hash operator below."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    idat = bytearray()
    while pos < len(payload):
        if pos + 12 > len(payload):
            raise ValueError("truncated PNG chunk stream")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            raise ValueError(f"PNG {tag!r} chunk overruns the payload")
        body = payload[pos + 8 : pos + 8 + length]
        if struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])[0] != (
            zlib.crc32(tag + body) & 0xFFFFFFFF
        ):
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError("IHDR is not 13 bytes")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, color, comp, filt, interlace) != (8, 0, 0, 0, 0):
                raise NotImplementedError(
                    "stdlib decoder handles 8-bit non-interlaced grayscale; "
                    "install Pillow for other PNG flavors"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:  # corrupt web payloads fail TYPED, never raw
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    stride = width + 1
    if len(raw) != stride * height:
        raise ValueError("inflated size mismatch")
    # Unfilter vectorized where the filter allows it (round-13, §4.2):
    # None is a copy, Up a wrapping uint8 add, Sub a wrapping cumsum
    # (cur[i] = x[i] + cur[i-1] mod 256 IS the uint8 prefix sum); Average
    # and Paeth carry a true left-to-right dependency and keep the scalar
    # walk — byte-identical outputs either way.
    prev = bytes(width)
    lines: list[bytes] = []
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride) if height else None
    for y in range(height):
        ft = raw[y * stride]
        if ft == 0:
            cur = raw[y * stride + 1 : (y + 1) * stride]
        elif ft == 1:
            cur = np.cumsum(arr[y, 1:], dtype=np.uint8).tobytes()
        elif ft == 2:
            cur = (
                arr[y, 1:] + np.frombuffer(prev, dtype=np.uint8)
            ).tobytes()
        elif ft in (3, 4):
            line = raw[y * stride + 1 : (y + 1) * stride]
            out = bytearray(width)
            left = 0
            if ft == 3:
                for i in range(width):
                    left = (line[i] + (left + prev[i]) // 2) & 0xFF
                    out[i] = left
            else:
                for i in range(width):
                    up = prev[i]
                    upleft = prev[i - 1] if i else 0
                    # _paeth inlined (profiled: the call was a third of the
                    # filter-4 rows' cost)
                    p = left + up - upleft
                    pa = p - left if p >= left else left - p
                    pb = p - up if p >= up else up - p
                    pc = p - upleft if p >= upleft else upleft - p
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = up
                    else:
                        pred = upleft
                    left = (line[i] + pred) & 0xFF
                    out[i] = left
            cur = bytes(out)
        else:
            raise ValueError(f"bad filter type {ft}")
        prev = cur
        lines.append(cur)
    return width, height, lines


def decode_png(payload: bytes) -> dict:
    """decode_png_pixels reduced to the DECODE_SCHEMA statistics row."""
    width, height, lines = decode_png_pixels(payload)
    return {
        "media_kind": "png",
        "width": width,
        "height": height,
        "sample_rate": None,
        "n_units": width * height,
        "pixel_sum": sum(sum(ln) for ln in lines),
        "sample_sq_sum": None,
    }


def encode_wav_pcm16(samples: list[int], sample_rate: int) -> bytes:
    """Real RIFF/WAVE container, PCM16 mono, via the stdlib wave module."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """Real WAV decode (stdlib wave + struct): container parse, PCM16
    sample extraction, energy statistic."""
    import io
    import struct
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                raise NotImplementedError("decoder fixture contract is PCM16 mono")
            n = w.getnframes()
            rate = w.getframerate()
            samples = struct.unpack(f"<{n}h", w.readframes(n))
    # the stdlib wave/chunk modules signal malformed containers with
    # wave.Error, EOFError, and a bare RuntimeError (chunk.seek); a declared
    # frame count larger than the data raises struct.error — corrupt web
    # payloads must fail TYPED, never raw (the JPEG/AVI fuzz contract).
    # NotImplementedError is a RuntimeError SUBCLASS: re-raise it first or
    # the valid-but-unsupported contract above would read as corruption.
    except NotImplementedError:
        raise
    except (wave.Error, EOFError, RuntimeError, struct.error) as e:
        raise ValueError(f"corrupt WAV stream: {e}") from e
    return {
        "media_kind": "wav",
        "width": None,
        "height": None,
        "sample_rate": rate,
        "n_units": n,
        "pixel_sum": None,
        "sample_sq_sum": sum(s * s for s in samples),
    }


# ---------------------------------------------------------------------------
# Baseline JPEG, pure stdlib (round-8: closes the "multimodal web corpora are
# mostly JPEG" gap without Pillow). Same contract style as the PNG path: a
# spec-valid ENCODER is the test harness for an independent DECODER; both
# derive their Huffman code tables canonically from the DHT BITS/HUFFVAL
# lists (ITU T.81 Annex K standard luminance tables), and the decoder builds
# its tables from the FILE's own DQT/DHT segments, never from shared
# constants. Scope: baseline sequential DCT, 8-bit, grayscale AND
# interleaved YCbCr with 4:4:4 / 4:2:2 / 4:2:0 / 4:4:0 chroma subsampling
# (round-9 — web corpora are mostly 4:2:0) and full Annex-G PROGRESSIVE
# mode (round-9: spectral selection + successive approximation, see the
# progressive section below); extended/lossless/arithmetic flavors raise
# the NotImplementedError contract (Pillow, when present, takes over first
# in decode_real).

# header-declared dimension bound (8K x 8K): corrupt/adversarial SOF dims
# must fail typed before any O(width*height) allocation
MAX_JPEG_PIXELS = 1 << 26

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# fixed quantization table (zigzag order): DC step 8 makes a constant
# block's DC level exactly (v - 128) — integer, no rounding — which is what
# lets block-constant fixtures roundtrip bit-exactly; AC step 16 is an
# ordinary lossy step exercised by the gradient unit test.
_JPEG_QTAB = [8] + [16] * 63
# ITU T.81 Annex K.3 standard luminance Huffman specs (BITS[1..16], HUFFVAL)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


# ITU T.81 Annex K.3 standard CHROMINANCE Huffman specs (Tables K.4/K.6) —
# used as table-id 1 by the color encoder below, the two-table layout real
# web/camera JPEGs carry. The decoder never assumes these: it rebuilds every
# table from the file's own DHT segments.
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): {symbol: (code, length)}.
    Content-keyed memo (round-13, guide §4.5 heavyweight-init-once): the
    table is a pure function of the BITS/HUFFVAL lists, and rebuilding it
    per encode/decode was ~10% of the jpeg kernels' CPU. The decoder still
    derives every table from the file's own DHT — identical lists simply
    reuse the identical derived table."""
    return _huff_codes_cached(tuple(bits), tuple(vals))


from functools import lru_cache as _lru_cache


@_lru_cache(maxsize=256)
def _huff_codes_cached(
    bits: tuple[int, ...], vals: tuple[int, ...]
) -> dict[int, tuple[int, int]]:
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


import math as _math

_COS = [
    [_math.cos((2 * x + 1) * u * _math.pi / 16) for u in range(8)] for x in range(8)
]
_CU = [1 / _math.sqrt(2)] + [1.0] * 7
# DCT as two 8x8 matmuls (numpy): A[u,x] = Cu * cos((2x+1)u*pi/16);
# FDCT = 0.25 * A f A^T, IDCT = 0.25 * A^T F A. Order-of-summation noise
# (~1e-13) is far below both the quantizer steps (exactness argument in
# synth_jpeg_media) and the gradient unit's tolerance.
_DCT_A = np.array(
    [[_CU[u] * _COS[x][u] for x in range(8)] for u in range(8)], dtype=np.float64
)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 F.1.2.3) — the state a
        restart marker must be emitted in."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def marker(self, m: int) -> None:
        """Emit a standalone marker (RSTn) RAW — markers are never stuffed."""
        self.align()
        self.out += bytes([0xFF, m])

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


# vectorized zigzag/quant companions (round-13, guide §4.2: batch the whole
# plane through NumPy instead of per-block Python loops — profiled at 60% of
# the jpeg420 kernel's CPU)
_ZIG_ARR = np.array(_ZIGZAG)
_QTAB_F = np.array(_JPEG_QTAB, dtype=np.float64)


def _quantize_plane(rows, w: int, h: int, nbx: int, nby: int) -> np.ndarray:
    """FDCT + quantize EVERY 8x8 block of a plane in one batched NumPy
    pass; edge blocks replicate the last row/column (the conventional pad,
    np.pad edge mode). Returns an (nby, nbx, 64) int array of levels in
    zigzag order — q[by, bx, i] == round(coef[_ZIGZAG[i]] / _JPEG_QTAB[i])
    exactly as the per-block form computed (np.rint and Python round share
    half-to-even), with identical per-block matmuls."""
    a = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w)
    dh, dw = nby * 8 - h, nbx * 8 - w
    if dh or dw:  # manual edge pad: generic np.pad cost ~10% of the kernel
        padded = np.empty((nby * 8, nbx * 8), dtype=np.uint8)
        padded[:h, :w] = a
        if dw:
            padded[:h, w:] = a[:, -1:]
        if dh:
            padded[h:, :] = padded[h - 1, :]
    else:
        padded = a
    f = padded.astype(np.float64) - 128.0
    blocks = f.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
    coef = 0.25 * (_DCT_A @ blocks @ _DCT_A.T)
    zz = coef.reshape(nby, nbx, 64)[..., _ZIG_ARR]
    return np.rint(zz / _QTAB_F).astype(np.int64)


def _idct_plane(levels: np.ndarray, qt) -> np.ndarray:
    """Inverse of :func:`_quantize_plane` for the DECODER: (nbr, nbc, 64)
    zigzag levels + the FILE's quant table -> (nbr*8, nbc*8) uint8 pixel
    grid (dequantize, inverse zigzag, batched IDCT, rint, clamp). Math is
    the per-block form's, batched: px = rint(0.25 A^T F A) + 128."""
    nbr, nbc = levels.shape[:2]
    if nbr == 0 or nbc == 0:
        return np.zeros((nbr * 8, nbc * 8), dtype=np.uint8)
    deq = levels.astype(np.float64) * np.asarray(qt, dtype=np.float64)
    raster = np.empty_like(deq)
    raster[..., _ZIG_ARR] = deq  # coef[_ZIGZAG[i]] = zz[i] * qt[i]
    px = np.rint(0.25 * (_DCT_A.T @ raster.reshape(-1, 8, 8) @ _DCT_A)) + 128
    px = np.clip(px, 0, 255).astype(np.uint8)
    return (
        px.reshape(nbr, nbc, 8, 8).transpose(0, 2, 1, 3).reshape(nbr * 8, nbc * 8)
    )


def _block_last_nz(levels: np.ndarray) -> list:
    """Per-block index of the last nonzero AC level of a (nby, nbx, 64)
    zigzag-level array, vectorized (0 when the AC band is empty) — the
    per-block genexpr this replaces was ~10% of encode CPU."""
    rev = levels[..., :0:-1] != 0  # AC band reversed: index r == zigzag 63-r
    has = rev.any(-1)
    return np.where(has, 63 - rev.argmax(-1), 0).tolist()


def _encode_block(
    bw: "_BitWriter", q: list[int], prev_dc: int, dc_codes, ac_codes, last_nz=None
) -> int:
    """Entropy-encode one quantized block (DC differential + AC run-length,
    T.81 F.1.2); returns the new DC predictor. ``last_nz`` is the
    precomputed :func:`_block_last_nz` value when the caller has it."""
    # DC: differential, category + extra bits (T.81 F.1.2.1)
    diff = q[0] - prev_dc
    s = _category(diff)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    # AC: (run, size) symbols with ZRL/EOB (T.81 F.1.2.2)
    run = 0
    if last_nz is None:
        last_nz = max((i for i in range(1, 64) if q[i]), default=0)
    for i in range(1, last_nz + 1):
        if q[i] == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        s = _category(q[i])
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(q[i] if q[i] >= 0 else q[i] + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]
        bw.write(code, ln)
    return q[0]


def encode_jpeg_gray(rows: list[bytes], restart_interval: int = 0) -> bytes:
    """Encode 8-bit grayscale scanlines as a spec-valid baseline JPEG
    (SOI/DQT/SOF0/DHT/SOS/EOI, standard Annex-K luminance Huffman tables,
    fixed quant table, byte-stuffed entropy stream). Edge blocks replicate
    the last row/column (the conventional pad). ``restart_interval=N`` emits
    a DRI segment and an RSTn marker (byte-aligned, DC predictor reset)
    after every N MCUs — the error-resilience feature real camera/web
    baseline JPEGs carry."""
    import struct

    h = len(rows)
    w = len(rows[0]) if rows else 0
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    mcu = 0
    rst = 0
    nbx, nby = -(-w // 8), -(-h // 8)
    qarr = _quantize_plane(rows, w, h, nbx, nby)
    qplane = qarr.tolist()
    lnz = _block_last_nz(qarr)
    for by in range(nby):
        for bx in range(nbx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.marker(0xD0 + rst)  # RSTn cycles 0..7 (T.81 E.1.4)
                rst = (rst + 1) % 8
                prev_dc = 0
            mcu += 1
            prev_dc = _encode_block(
                bw, qplane[by][bx], prev_dc, dc_codes, ac_codes, lnz[by][bx]
            )
    entropy = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, bytes([0]) + bytes(_JPEG_QTAB))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)) + seg(
        0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    dri = seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + dri + sos + entropy + b"\xff\xd9"


def encode_jpeg_ycbcr(
    y_rows: list[bytes],
    cb_rows: list[bytes],
    cr_rows: list[bytes],
    sampling: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
) -> bytes:
    """Encode a YCbCr image as a spec-valid baseline JPEG with chroma
    subsampling — sampling (2,2) = 4:2:0 (the dominant web-corpus flavor),
    (2,1) = 4:2:2, (1,1) = 4:4:4. ``y_rows`` is full resolution (h x w);
    ``cb_rows``/``cr_rows`` are the subsampled planes the caller supplies at
    ceil(w/hs) x ceil(h/vs). Interleaved scan, one MCU = hs*vs luma blocks +
    1 block per chroma component; luma uses the Annex-K luminance Huffman
    pair as table 0, chroma the Annex-K chrominance pair as table 1 (the
    two-table layout real camera/web files carry); one shared quant table
    keeps the DC-step-8 exactness argument for every plane.
    ``restart_interval=N`` emits DRI + byte-aligned RSTn every N MCUs,
    resetting all three DC predictors (T.81 E.1.4)."""
    import struct

    h = len(y_rows)
    w = len(y_rows[0]) if y_rows else 0
    hs, vs = sampling
    if hs not in (1, 2) or vs not in (1, 2):
        raise ValueError("sampling factors must be 1 or 2")
    cw, ch = -(-w // hs), -(-h // vs)
    if (
        len(cb_rows) != ch
        or len(cr_rows) != ch
        or any(len(r) != cw for r in cb_rows)
        or any(len(r) != cw for r in cr_rows)
    ):
        raise ValueError(f"chroma planes must be {cw}x{ch}")
    dc_l = _huff_codes(_DC_BITS, _DC_VALS)
    ac_l = _huff_codes(_AC_BITS, _AC_VALS)
    dc_c = _huff_codes(_DC_BITS_C, _DC_VALS_C)
    ac_c = _huff_codes(_AC_BITS_C, _AC_VALS_C)
    # (plane, pw, ph, hc, vc, dc_codes, ac_codes) in interleave order
    comps = [
        (y_rows, w, h, hs, vs, dc_l, ac_l),
        (cb_rows, cw, ch, 1, 1, dc_c, ac_c),
        (cr_rows, cw, ch, 1, 1, dc_c, ac_c),
    ]
    mcus_x = -(-w // (8 * hs))
    mcus_y = -(-h // (8 * vs))
    qarrs = [
        _quantize_plane(plane, pw, ph, mcus_x * hc, mcus_y * vc)
        for plane, pw, ph, hc, vc, _dcc, _acc in comps
    ]
    qplanes = [a.tolist() for a in qarrs]
    lnzs = [_block_last_nz(a) for a in qarrs]
    bw = _BitWriter()
    prev = [0, 0, 0]
    mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.marker(0xD0 + rst)
                rst = (rst + 1) % 8
                prev = [0, 0, 0]
            mcu += 1
            for ci, (plane, pw, ph, hc, vc, dcc, acc) in enumerate(comps):
                for byy in range(vc):
                    for bxx in range(hc):
                        q = qplanes[ci][my * vc + byy][mx * hc + bxx]
                        prev[ci] = _encode_block(
                            bw, q, prev[ci], dcc, acc,
                            lnzs[ci][my * vc + byy][mx * hc + bxx],
                        )
    entropy = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, bytes([0]) + bytes(_JPEG_QTAB))
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, (hs << 4) | vs, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dht = (
        seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
        + seg(0xFFC4, bytes([0x01]) + bytes(_DC_BITS_C) + bytes(_DC_VALS_C))
        + seg(0xFFC4, bytes([0x11]) + bytes(_AC_BITS_C) + bytes(_AC_VALS_C))
    )
    dri = seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + dri + sos + entropy + b"\xff\xd9"


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            # malformed-stream class (ValueError), not a bare IndexError —
            # a corrupt payload inside a decode kernel must surface as the
            # documented contract error
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:  # unstuff
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        # mask to the live window so acc stays a small int (reads only ever
        # touch the low nbits bits)
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def _try_fill(self) -> bool:
        """Non-raising fill for the peek fast path: loads the next entropy
        byte if (and only if) one exists — EOF and a marker byte simply
        return False, because a PEEK may legitimately look past the last
        code into padding/EOI where the scalar walk would never read."""
        p = self.pos
        d = self.data
        if p >= len(d):
            return False
        b = d[p]
        if b == 0xFF:
            if p + 1 >= len(d) or d[p + 1] != 0x00:
                return False
            self.pos = p + 2
        else:
            self.pos = p + 1
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8
        return True

    def expect_rst(self) -> int:
        """Byte-align (discard pad bits) and consume an RSTn marker sitting
        between restart intervals; returns n. Markers are raw (unstuffed)."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated JPEG entropy stream (missing RSTn)")
        b0, b1 = self.data[self.pos], self.data[self.pos + 1]
        if b0 != 0xFF or not (0xD0 <= b1 <= 0xD7):
            raise ValueError(f"expected RSTn marker, found 0x{b0:02X}{b1:02X}")
        self.pos += 2
        return b1 - 0xD0

    def bits(self, n: int) -> int:
        if not n:
            return 0
        while self.nbits < n:  # batched fill: one call per byte, not per bit
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)


def _huff_decoder(bits: list[int], vals: list[int]):
    """Decoder table from the DHT lists the FILE carries (content-keyed
    memo like :func:`_huff_codes` — same derivation, same input, same
    table): a ((code, length) -> symbol) map for the scalar walk plus an
    8-bit peek LUT for the fast path (codes up to 8 bits — the vast
    majority — resolve in one lookup instead of a per-bit tree walk)."""
    return _huff_decoder_cached(tuple(bits), tuple(vals))


@_lru_cache(maxsize=256)
def _huff_decoder_cached(bits: tuple[int, ...], vals: tuple[int, ...]):
    cmap = {cl: sym for sym, cl in _huff_codes_cached(bits, vals).items()}
    lut: list = [None] * 256
    for (code, length), sym in cmap.items():
        if length <= 8:
            base = code << (8 - length)
            entry = (sym, length)
            for pad in range(1 << (8 - length)):
                lut[base | pad] = entry
    return (cmap, lut)


def _read_huff(br: _BitReader, table) -> int:
    cmap, lut = table
    nb = br.nbits
    if nb < 8:
        while br._try_fill() and br.nbits < 8:
            pass
        nb = br.nbits
    if nb >= 8:
        hit = lut[(br.acc >> (nb - 8)) & 0xFF]
        if hit is not None:
            br.nbits = nb - hit[1]
            return hit[0]
    elif nb > 0:
        # near stream end: pad the peek with 1s; only accept a hit whose
        # code fits in the REAL bits (pad bits then never influenced it)
        hit = lut[((br.acc << (8 - nb)) | ((1 << (8 - nb)) - 1)) & 0xFF]
        if hit is not None and hit[1] <= nb:
            br.nbits = nb - hit[1]
            return hit[0]
    # scalar walk: codes longer than 8 bits, or truncation — identical
    # behavior (and error surface) to the pre-LUT implementation
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = cmap.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_pixels(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Pure-stdlib baseline JPEG decode, LUMA view: walk the marker stream,
    build quant/Huffman tables from the file's own DQT/DHT, entropy-decode
    each 8x8 block (DC differential + AC run-length), dequantize,
    inverse-zigzag, IDCT, clamp, crop to (width, height). Returns the
    first (luminance) component's scanlines — the whole image for
    grayscale files, the Y plane for color ones (luma carries the maximal
    sampling factors in every supported layout, so it is always full
    resolution). Use :func:`decode_jpeg_planes` for chroma.
    Malformed/truncated streams raise ValueError (the documented contract
    class); unsupported-but-valid flavors raise NotImplementedError."""
    import struct

    try:
        width, height, planes = _decode_jpeg_impl(payload)
        return width, height, planes[0][0]
    except (IndexError, KeyError, StopIteration, struct.error) as exc:
        # truncated segment bodies / dangling table ids surface as raw
        # indexing errors deep in the parse — normalize to the contract
        raise ValueError(f"malformed JPEG stream: {exc!r}") from exc


def _upsample_plane(
    lines: list[bytes], width: int, height: int, hc: int, vc: int, hmax: int, vmax: int
) -> list[bytes]:
    """Box (pixel-replication) chroma upsample to full resolution — the
    bit-exact inverse of the synth fixtures' block subsampling, and the
    classic fast path real decoders offer. full[y][x] = plane[y*vc//vmax]
    [x*hc//hmax] — computed as one NumPy fancy-index gather (round-13)."""
    if hc == hmax and vc == vmax:
        return [ln[:width] for ln in lines]
    arr = np.frombuffer(b"".join(lines), dtype=np.uint8).reshape(len(lines), -1)
    rows_idx = np.arange(height) * vc // vmax
    cols_idx = np.arange(width) * hc // hmax
    full = arr[rows_idx][:, cols_idx]
    return [r.tobytes() for r in full]


def decode_jpeg_planes(payload: bytes) -> tuple[int, int, list[list[bytes]]]:
    """Pure-stdlib baseline JPEG decode, ALL components at full resolution:
    (width, height, [component scanlines...]) — [Y] for grayscale,
    [Y, Cb, Cr] for color, chroma box-upsampled to (width, height). This is
    the round-9 4:2:0/4:2:2 surface: subsampled chroma planes decode at
    native resolution and replicate up, exactly what a feature-extraction
    kernel needs from a web-corpus JPEG without Pillow."""
    import struct

    try:
        width, height, planes = _decode_jpeg_impl(payload)
    except (IndexError, KeyError, StopIteration, struct.error) as exc:
        raise ValueError(f"malformed JPEG stream: {exc!r}") from exc
    hmax = max(h for _, h, _ in planes)
    vmax = max(v for _, _, v in planes)
    return (
        width,
        height,
        [
            _upsample_plane(lines, width, height, hc, vc, hmax, vmax)
            for lines, hc, vc in planes
        ],
    )


def _decode_block_zz(br, dct, act, prev_dc) -> tuple[int, list[int]]:
    """Entropy-decode one block to its 64 zigzag levels; returns the new
    DC predictor and the level list. Dequantize + IDCT run batched per
    plane afterwards (:func:`_idct_plane`) — round-13, guide §4.2."""
    zz = [0] * 64
    s = _read_huff(br, dct)
    diff = _extend(br.bits(s), s) if s else 0
    prev_dc += diff
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = _read_huff(br, act)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        k += sym >> 4
        s = sym & 0xF
        if k > 63:
            raise ValueError("AC index overflow")
        zz[k] = _extend(br.bits(s), s)
        k += 1
    return prev_dc, zz


def _parse_dqt_segment(body: bytes, qtabs: dict[int, list[int]]) -> None:
    """DQT: 8-bit quantization tables (shared by the baseline and
    progressive marker walks — round-9 review deduplication; the two
    copies had already diverged once)."""
    i = 0
    while i < len(body):
        pq, tq = body[i] >> 4, body[i] & 0xF
        if pq != 0:
            raise NotImplementedError("16-bit quant tables unsupported")
        qtabs[tq] = list(body[i + 1 : i + 65])
        i += 65


def _parse_dht_segment(
    body: bytes, dc_tabs: dict[int, dict], ac_tabs: dict[int, dict]
) -> None:
    """DHT: canonical Huffman tables from the file's own BITS/HUFFVAL."""
    i = 0
    while i < len(body):
        tc, th = body[i] >> 4, body[i] & 0xF
        bits = list(body[i + 1 : i + 17])
        nv = sum(bits)
        vals = list(body[i + 17 : i + 17 + nv])
        (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_decoder(bits, vals)
        i += 17 + nv


def _parse_sof_segment(
    body: bytes, flavor: str
) -> tuple[int, int, list[tuple[int, int, int, int]]]:
    """SOF frame header: precision/component-count contract, the
    implausible-dimension bound (BEFORE any O(w*h) allocation downstream),
    and the supported sampling-layout validation. ``flavor`` only names
    the path in the Pillow-tier messages."""
    import struct

    prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
    if prec != 8 or ncomp not in (1, 3):
        raise NotImplementedError(
            f"stdlib decoder handles 8-bit 1- or 3-component {flavor} "
            "JPEG; install Pillow for other flavors"
        )
    if not width or not height or width * height > MAX_JPEG_PIXELS:
        raise ValueError("implausible SOF dimensions")
    comps = []
    for ci in range(ncomp):
        cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
        comps.append((cid, hv >> 4, hv & 0xF, tq))
    if ncomp == 1 and (comps[0][1], comps[0][2]) != (1, 1):
        raise NotImplementedError(
            "single-component JPEG must be 1x1-sampled; install Pillow "
            "for other flavors"
        )
    if ncomp == 3:
        # supported: luma factors in {1,2} (4:4:4 / 4:2:2 / 4:2:0 / 4:4:0),
        # chroma strictly 1x1 — the shapes web corpora carry
        (y_c, cb_c, cr_c) = comps
        if (
            y_c[1] not in (1, 2)
            or y_c[2] not in (1, 2)
            or (cb_c[1], cb_c[2]) != (1, 1)
            or (cr_c[1], cr_c[2]) != (1, 1)
        ):
            raise NotImplementedError(
                "unsupported chroma sampling layout (luma must be "
                "1x1/2x1/1x2/2x2 with 1x1 chroma); install Pillow"
            )
    return width, height, comps


def _decode_jpeg_impl(
    payload: bytes,
) -> tuple[int, int, list[tuple[list[bytes], int, int]]]:
    """Returns (width, height, planes) — one (lines, h_factor, v_factor)
    per SOF component, each plane at its NATIVE (subsampled) resolution,
    cropped to ceil(width*h/hmax) x ceil(height*v/vmax)."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] = []  # (comp_id, h, v, tq)
    scan_order: list[tuple[int, int, int]] = []  # (comp_id, dc_id, ac_id)
    restart_interval = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        # 0xFF fill bytes between segments are legal padding (T.81 B.1.1.2)
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn: standalone
            pos += 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (ln,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT (8-bit tables only)
            _parse_dqt_segment(body, qtabs)
        elif marker == 0xC0:  # SOF0 baseline
            width, height, comps = _parse_sof_segment(body, "baseline")
        elif marker == 0xC2:  # SOF2: progressive — its own multi-scan path
            return _decode_jpeg_progressive(payload)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "non-baseline JPEG (extended/lossless/arithmetic); "
                "install Pillow"
            )
        elif marker == 0xC4:  # DHT
            _parse_dht_segment(body, dc_tabs, ac_tabs)
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: header then entropy-coded data
            if width is None:  # malformed, NOT a Pillow-tier flavor: the
                raise ValueError("no SOF before SOS")  # ns check below would
                # otherwise misread an empty comps list as multi-scan
            ns = body[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "multi-scan (non-interleaved) baseline JPEG; install Pillow"
                )
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                scan_order.append((cid, tt >> 4, tt & 0xF))
            pos += 2 + ln
            break
        pos += 2 + ln
    if width is None:
        raise ValueError("no SOF before SOS")
    if not scan_order:
        raise ValueError("no SOS marker")
    if {c for c, _, _ in scan_order} != {c for c, _, _, _ in comps}:
        # a corrupt SOS can list duplicate/unknown component ids; the plane
        # reconstruction below would otherwise StopIteration raw
        raise ValueError("SOS component ids do not match SOF components")
    sof_by_id = {cid: (hc, vc, tq) for cid, hc, vc, tq in comps}
    hmax = max(hc for _, hc, _, _ in comps)
    vmax = max(vc for _, _, vc, _ in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    # per scan component: tables, factors, zigzag-level store (one 64-list
    # per block); dequant + IDCT + placement run as one batched NumPy pass
    # per plane after the entropy walk (round-13, guide §4.2)
    state = []
    for cid, dc_id, ac_id in scan_order:
        hc, vc, tq = sof_by_id[cid]
        zz_rows = [[None] * (mcus_x * hc) for _ in range(mcus_y * vc)]
        state.append((qtabs[tq], dc_tabs[dc_id], ac_tabs[ac_id], hc, vc, zz_rows))
    br = _BitReader(payload[pos:])
    prev = [0] * len(state)
    mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                # RSTn sits byte-aligned between MCU groups: drop the pad
                # bits, consume the marker, verify the cyclic index, reset
                # every DC predictor (T.81 E.1.4 / F.2.1.3.1)
                got = br.expect_rst()
                if got != rst:
                    raise ValueError(
                        f"restart marker out of sequence: RST{got} != RST{rst}"
                    )
                rst = (rst + 1) % 8
                prev = [0] * len(state)
            mcu += 1
            for ci, (qt, dct, act, hc, vc, zz_rows) in enumerate(state):
                for byy in range(vc):
                    for bxx in range(hc):
                        prev[ci], zz = _decode_block_zz(br, dct, act, prev[ci])
                        zz_rows[my * vc + byy][mx * hc + bxx] = zz
    planes: list[tuple[list[bytes], int, int]] = []
    for cid, hc, vc, _tq in comps:
        idx = next(i for i, (c, _, _) in enumerate(scan_order) if c == cid)
        qt, _, _, _, _, zz_rows = state[idx]
        grid = _idct_plane(np.asarray(zz_rows, dtype=np.int64), qt)
        cw = -(-width * hc // hmax)
        ch = -(-height * vc // vmax)
        planes.append(([grid[r, :cw].tobytes() for r in range(ch)], hc, vc))
    return width, height, planes


# ---------------------------------------------------------------------------
# Progressive JPEG (round 9): full ITU T.81 Annex G sequential-DCT
# progressive mode — spectral selection AND successive approximation, DC/AC
# first and refinement scans, EOB run-lengths, per-scan Huffman tables read
# from the file. Same contract style as the baseline path: the encoder twin
# below (a libjpeg-like multi-scan script) is the decoder's harness, and
# the strongest test is EXACTNESS — progressive re-encoding transmits the
# same quantized coefficients as baseline, so decoded pixels must equal the
# baseline codec's bit-for-bit (pinned in tests/test_m4_operators.py).


def _decode_jpeg_progressive(
    payload: bytes,
) -> tuple[int, int, list[tuple[list[bytes], int, int]]]:
    """Multi-scan progressive decode. Coefficients accumulate per component
    across scans (zigzag order — band indices Ss..Se ARE zigzag indices);
    dequant + IDCT run once at EOI. Returns the same (width, height,
    [(native-res lines, h, v)...]) shape as the baseline path."""
    import struct

    qtabs: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, h, v, tq)
    coef: dict[int, list[list[list[int]]]] = {}  # cid -> [brow][bcol][64]
    dims: dict[int, tuple[int, int, int, int]] = {}  # cid -> (bw, bh, pw, ph)
    restart_interval = 0
    hmax = vmax = 1
    mcus_x = mcus_y = 0
    pos = 2
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")

    def entropy_end(start: int) -> int:
        i = start
        n = len(payload)
        while i + 1 < n:
            if payload[i] == 0xFF:
                nxt = payload[i + 1]
                if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                    i += 2
                    continue
                return i
            i += 1
        return n

    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (ln,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:
            _parse_dqt_segment(body, qtabs)
        elif marker == 0xC2:
            width, height, comps = _parse_sof_segment(body, "progressive")
            hmax = max(hc for _, hc, _, _ in comps)
            vmax = max(vc for _, _, vc, _ in comps)
            mcus_x = -(-width // (8 * hmax))
            mcus_y = -(-height // (8 * vmax))
            for cid, hc, vc, _tq in comps:
                pw = mcus_x * hc  # padded block dims (interleaved traversal)
                ph = mcus_y * vc
                cw = -(-width * hc // hmax)  # real pixel dims
                ch = -(-height * vc // vmax)
                bw = -(-cw // 8)  # real block dims (non-interleaved scans)
                bh = -(-ch // 8)
                dims[cid] = (bw, bh, pw, ph)
                coef[cid] = [[[0] * 64 for _ in range(pw)] for _ in range(ph)]
        elif marker == 0xC4:
            _parse_dht_segment(body, dc_tabs, ac_tabs)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            if width is None:
                raise ValueError("no SOF before SOS")
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                scan_comps.append((cid, tt >> 4, tt & 0xF))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            data_start = pos + 2 + ln
            data_stop = entropy_end(data_start)
            _progressive_scan(
                payload[data_start:data_stop],
                scan_comps,
                ss,
                se,
                ah,
                al,
                comps,
                dims,
                coef,
                dc_tabs,
                ac_tabs,
                restart_interval,
                mcus_x,
                mcus_y,
            )
            pos = data_stop
            continue
        pos += 2 + ln
    if width is None:
        raise ValueError("no SOF in progressive stream")
    # final reconstruction: dequant + inverse zigzag + IDCT on REAL blocks,
    # one batched NumPy pass per plane (round-13, guide §4.2)
    planes: list[tuple[list[bytes], int, int]] = []
    for cid, hc, vc, tq in comps:
        bw, bh, _pw, _ph = dims[cid]
        levels = np.asarray(coef[cid], dtype=np.int64).reshape(_ph, _pw, 64)
        grid = _idct_plane(levels[:bh, :bw], qtabs[tq])
        cw = -(-width * hc // hmax)
        ch = -(-height * vc // vmax)
        planes.append(([grid[r, :cw].tobytes() for r in range(ch)], hc, vc))
    return width, height, planes


def _progressive_scan(
    data: bytes,
    scan_comps,
    ss: int,
    se: int,
    ah: int,
    al: int,
    comps,
    dims,
    coef,
    dc_tabs,
    ac_tabs,
    restart_interval: int,
    mcus_x: int,
    mcus_y: int,
) -> None:
    """Execute one progressive scan over the coefficient store. Four scan
    kinds (T.81 G.2): DC first (Ah=0, Ss=0), DC refinement (Ah>0, Ss=0) —
    either may be interleaved; AC first and AC refinement (Ss>0) — always
    single-component. Restart markers reset DC predictors and the EOB run."""
    br = _BitReader(data)
    sof_by_id = {cid: (hc, vc, tq) for cid, hc, vc, tq in comps}
    state = {"eobrun": 0, "rst": 0}
    prev = {cid: 0 for cid, _, _ in scan_comps}

    def check_restart(unit: int) -> None:
        if restart_interval and unit and unit % restart_interval == 0:
            got = br.expect_rst()
            if got != state["rst"]:
                raise ValueError(
                    f"restart marker out of sequence: RST{got} != RST{state['rst']}"
                )
            state["rst"] = (state["rst"] + 1) % 8
            state["eobrun"] = 0
            for cid in prev:
                prev[cid] = 0

    if ss == 0:  # ---- DC scan ----
        if se != 0:
            raise ValueError("DC scan must have Se = 0")

        def dc_unit(cid: int, dct, blk: list[int]) -> None:
            if ah == 0:
                s = _read_huff(br, dct)
                diff = _extend(br.bits(s), s) if s else 0
                prev[cid] += diff
                blk[0] = prev[cid] << al
            elif br.bit():
                blk[0] |= 1 << al

        if len(scan_comps) > 1:  # interleaved MCU traversal (padded grids)
            unit = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    check_restart(unit)
                    unit += 1
                    for cid, dc_id, _ac_id in scan_comps:
                        hc, vc, _tq = sof_by_id[cid]
                        dct = dc_tabs[dc_id] if ah == 0 else None
                        for byy in range(vc):
                            for bxx in range(hc):
                                dc_unit(
                                    cid,
                                    dct,
                                    coef[cid][my * vc + byy][mx * hc + bxx],
                                )
        else:  # single-component: raster over the REAL block grid
            cid, dc_id, _ac_id = scan_comps[0]
            bw, bh, _pw, _ph = dims[cid]
            dct = dc_tabs[dc_id] if ah == 0 else None
            unit = 0
            for brow in range(bh):
                for bcol in range(bw):
                    check_restart(unit)
                    unit += 1
                    dc_unit(cid, dct, coef[cid][brow][bcol])
        return

    # ---- AC scan: always one component (T.81 G.1.1.1.1) ----
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cid, _dc_id, ac_id = scan_comps[0]
    act = ac_tabs[ac_id]
    bw, bh, _pw, _ph = dims[cid]
    p1 = 1 << al
    m1 = -(1 << al)
    unit = 0
    for brow in range(bh):
        for bcol in range(bw):
            check_restart(unit)
            unit += 1
            blk = coef[cid][brow][bcol]
            if ah == 0:  # -- AC first pass (G.1.2.2) --
                if state["eobrun"] > 0:
                    state["eobrun"] -= 1
                    continue
                k = ss
                while k <= se:
                    sym = _read_huff(br, act)
                    r, s = sym >> 4, sym & 0xF
                    if s == 0:
                        if r != 15:  # EOBn: run of 2^r + extra blocks
                            state["eobrun"] = (1 << r) - 1
                            if r:
                                state["eobrun"] += br.bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("AC index overflow in band")
                    blk[k] = _extend(br.bits(s), s) << al
                    k += 1
            else:  # -- AC refinement (G.1.2.3; the libjpeg control flow) --
                k = ss
                if state["eobrun"] == 0:
                    while k <= se:
                        sym = _read_huff(br, act)
                        r, s = sym >> 4, sym & 0xF
                        if s == 0:
                            if r != 15:
                                state["eobrun"] = 1 << r
                                if r:
                                    state["eobrun"] += br.bits(r)
                                break
                            val = 0  # ZRL: skip 16 zero-history coefficients
                        else:
                            if s != 1:
                                raise ValueError(
                                    "AC refinement symbol must have size 1"
                                )
                            val = p1 if br.bit() else m1
                        while k <= se:
                            if blk[k] != 0:
                                # history coefficient: correction bit
                                if br.bit() and not (blk[k] & p1):
                                    blk[k] += p1 if blk[k] >= 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            blk[k] = val
                        k += 1
                if state["eobrun"] > 0:
                    # post-EOB: remaining history coefficients still take
                    # correction bits
                    while k <= se:
                        if blk[k] != 0:
                            if br.bit() and not (blk[k] & p1):
                                blk[k] += p1 if blk[k] >= 0 else m1
                        k += 1
                    state["eobrun"] -= 1


# custom AC Huffman spec for the progressive ENCODER: every symbol an AC
# scan can emit — EOBn (r<<4, r 0..14), ZRL (0xF0), and (run, size) for
# size 1..10 — as a flat 8-bit canonical code (176 symbols, Kraft 176/256).
# Real encoders optimize per-scan tables; a fixture encoder values
# simplicity, and the DECODER only ever sees tables via the file's own DHT.
_AC_VALS_P = sorted(
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_AC_BITS_P = [0] * 16
_AC_BITS_P[7] = len(_AC_VALS_P)  # all codes length 8


def encode_jpeg_progressive(
    y_rows: list[bytes],
    cb_rows: list[bytes] | None = None,
    cr_rows: list[bytes] | None = None,
    sampling: tuple[int, int] = (2, 2),
) -> bytes:
    """Encode a progressive (SOF2) JPEG with the classic libjpeg-style
    script: DC first with one successive-approximation level (Al=1) for
    all components interleaved, a DC refinement pass, spectral-selection
    AC first passes at Al=1 (luma split 1-5 / 6-63, chroma full band),
    then AC refinement passes to Al=0. Transmits exactly the same
    quantized coefficients as the baseline encoder, so decoded pixels are
    bit-identical to the baseline codec's — the exactness gate the tests
    pin. Grayscale when ``cb_rows`` is None; chroma planes are subsampled
    by ``sampling`` as in :func:`encode_jpeg_ycbcr`."""
    import struct

    h = len(y_rows)
    w = len(y_rows[0]) if y_rows else 0
    gray = cb_rows is None
    hs, vs = (1, 1) if gray else sampling
    if hs not in (1, 2) or vs not in (1, 2):
        raise ValueError("sampling factors must be 1 or 2")
    cw, ch = -(-w // hs), -(-h // vs)
    if not gray and (
        len(cb_rows) != ch
        or len(cr_rows) != ch
        or any(len(r) != cw for r in cb_rows)
        or any(len(r) != cw for r in cr_rows)
    ):
        raise ValueError(f"chroma planes must be {cw}x{ch}")
    mcus_x = -(-w // (8 * hs))
    mcus_y = -(-h // (8 * vs))
    # (plane, pw, ph, hc, vc); every plane's blocks quantized ONCE in a
    # batched NumPy pass over the PADDED interleaved grid (which covers
    # the real grid the AC scans traverse) — the per-block on-demand cache
    # this replaces re-ran the scalar FDCT per (scan, block) touch
    planes = [(y_rows, w, h, hs, vs)]
    if not gray:
        planes += [(cb_rows, cw, ch, 1, 1), (cr_rows, cw, ch, 1, 1)]
    qlists = [
        _quantize_plane(plane, pw, ph, mcus_x * hc, mcus_y * vc).tolist()
        for plane, pw, ph, hc, vc in planes
    ]

    def qblock(ci: int, brow: int, bcol: int) -> list[int]:
        return qlists[ci][brow][bcol]

    def real_dims(ci: int) -> tuple[int, int]:
        _plane, pw, ph, _hc, _vc = planes[ci]
        return -(-pw // 8), -(-ph // 8)

    dc_codes = [_huff_codes(_DC_BITS, _DC_VALS)] + (
        [] if gray else [_huff_codes(_DC_BITS_C, _DC_VALS_C)] * 2
    )
    ac_codes = _huff_codes(_AC_BITS_P, _AC_VALS_P)

    def dc_scan(comp_ids: list[int], ah_: int, al_: int) -> bytes:
        bw_ = _BitWriter()
        prev = {ci: 0 for ci in comp_ids}
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in comp_ids:
                    _plane, _pw, _ph, hc, vc = planes[ci]
                    for byy in range(vc):
                        for bxx in range(hc):
                            dc = qblock(ci, my * vc + byy, mx * hc + bxx)[0]
                            if ah_ == 0:
                                v = dc >> al_  # arithmetic shift (T.81 G.1.2.1)
                                diff = v - prev[ci]
                                prev[ci] = v
                                s = _category(diff)
                                code, ln = dc_codes[ci][s]
                                bw_.write(code, ln)
                                if s:
                                    bw_.write(
                                        diff if diff >= 0 else diff + (1 << s) - 1,
                                        s,
                                    )
                            else:
                                bw_.write((dc >> al_) & 1, 1)
        return bw_.flush()

    def ac_first_scan(ci: int, ss_: int, se_: int, al_: int) -> bytes:
        bw_ = _BitWriter()
        eobrun = 0

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun > 0:
                nbits = eobrun.bit_length() - 1
                code, ln = ac_codes[nbits << 4]
                bw_.write(code, ln)
                if nbits:
                    bw_.write(eobrun, nbits)
                eobrun = 0

        bw_blocks, bh_blocks = real_dims(ci)
        for brow in range(bh_blocks):
            for bcol in range(bw_blocks):
                q = qblock(ci, brow, bcol)
                run = 0
                emitted = False
                for k in range(ss_, se_ + 1):
                    av = abs(q[k]) >> al_  # magnitude shift (G.1.2.2)
                    if av == 0:
                        run += 1
                        continue
                    flush_eob()
                    while run > 15:
                        code, ln = ac_codes[0xF0]
                        bw_.write(code, ln)
                        run -= 16
                    s = av.bit_length()
                    code, ln = ac_codes[(run << 4) | s]
                    bw_.write(code, ln)
                    v = av if q[k] >= 0 else -av
                    bw_.write(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                    emitted = True
                if run > 0 or not emitted:
                    eobrun += 1
                    if eobrun == 0x3FFF:  # cap within EOB14's range
                        flush_eob()
        flush_eob()
        return bw_.flush()

    def ac_refine_scan(ci: int, ss_: int, se_: int, al_: int) -> bytes:
        # the libjpeg encode_mcu_AC_refine control flow: newly-significant
        # coefficients emit (run,1)+sign; already-significant ones buffer a
        # correction bit appended after the next emitted symbol; trailing
        # content folds into an EOB run whose flush also drains the buffer
        bw_ = _BitWriter()
        eobrun = 0
        be: list[int] = []  # correction bits owed to a future EOBn/symbol

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun > 0:
                nbits = eobrun.bit_length() - 1
                code, ln = ac_codes[nbits << 4]
                bw_.write(code, ln)
                if nbits:
                    bw_.write(eobrun, nbits)
                eobrun = 0
                for b in be:
                    bw_.write(b, 1)
                be.clear()

        bw_blocks, bh_blocks = real_dims(ci)
        for brow in range(bh_blocks):
            for bcol in range(bw_blocks):
                q = qblock(ci, brow, bcol)
                av = [0] * (se_ + 1)
                eob = 0
                for k in range(ss_, se_ + 1):
                    av[k] = abs(q[k]) >> al_
                    if av[k] == 1:
                        eob = k  # last newly-significant position
                run = 0
                br_bits: list[int] = []  # corrections since last symbol
                for k in range(ss_, se_ + 1):
                    t = av[k]
                    if t == 0:
                        run += 1
                        continue
                    while run > 15 and k <= eob:
                        flush_eob()
                        code, ln = ac_codes[0xF0]
                        bw_.write(code, ln)
                        run -= 16
                        for b in br_bits:
                            bw_.write(b, 1)
                        br_bits = []
                    if t > 1:  # history: owes one correction bit
                        br_bits.append(t & 1)
                        continue
                    flush_eob()
                    code, ln = ac_codes[(run << 4) | 1]
                    bw_.write(code, ln)
                    bw_.write(1 if q[k] >= 0 else 0, 1)
                    for b in br_bits:
                        bw_.write(b, 1)
                    br_bits = []
                    run = 0
                if run > 0 or br_bits:
                    eobrun += 1
                    be.extend(br_bits)
                    if eobrun == 0x3FFF or len(be) > 900:
                        flush_eob()
        flush_eob()
        return bw_.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    ncomp = 1 if gray else 3
    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, bytes([0]) + bytes(_JPEG_QTAB))
    sof_comps = bytes([1, (hs << 4) | vs, 0])
    if not gray:
        sof_comps += bytes([2, 0x11, 0, 3, 0x11, 0])
    out += seg(0xFFC2, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
    out += seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    if not gray:
        out += seg(0xFFC4, bytes([0x01]) + bytes(_DC_BITS_C) + bytes(_DC_VALS_C))
    out += seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS_P) + bytes(_AC_VALS_P))

    def sos(comp_tabs: list[tuple[int, int]], ss_, se_, ah_, al_, data: bytes):
        body = bytes([len(comp_tabs)])
        for cid, tt in comp_tabs:
            body += bytes([cid, tt])
        body += bytes([ss_, se_, (ah_ << 4) | al_])
        return seg(0xFFDA, body) + data

    all_ids = list(range(1, ncomp + 1))
    dc_tabs_sos = [(cid, ((0 if cid == 1 else 1) << 4)) for cid in all_ids]
    # scan script (DC SA level 1; AC spectral split + SA level 1)
    out += sos(dc_tabs_sos, 0, 0, 0, 1, dc_scan(list(range(ncomp)), 0, 1))
    out += sos(dc_tabs_sos, 0, 0, 1, 0, dc_scan(list(range(ncomp)), 1, 0))
    out += sos([(1, 0x00)], 1, 5, 0, 1, ac_first_scan(0, 1, 5, 1))
    out += sos([(1, 0x00)], 6, 63, 0, 1, ac_first_scan(0, 6, 63, 1))
    if not gray:
        out += sos([(2, 0x00)], 1, 63, 0, 1, ac_first_scan(1, 1, 63, 1))
        out += sos([(3, 0x00)], 1, 63, 0, 1, ac_first_scan(2, 1, 63, 1))
    out += sos([(1, 0x00)], 1, 63, 1, 0, ac_refine_scan(0, 1, 63, 0))
    if not gray:
        out += sos([(2, 0x00)], 1, 63, 1, 0, ac_refine_scan(1, 1, 63, 0))
        out += sos([(3, 0x00)], 1, 63, 1, 0, ac_refine_scan(2, 1, 63, 0))
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg(payload: bytes) -> dict:
    """decode_jpeg_pixels reduced to the DECODE_SCHEMA statistics row."""
    width, height, lines = decode_jpeg_pixels(payload)
    return {
        "media_kind": "jpeg",
        "width": width,
        "height": height,
        "sample_rate": None,
        "n_units": width * height,
        "pixel_sum": sum(sum(ln) for ln in lines),
        "sample_sq_sum": None,
    }


JPEG_SCHEMA = (
    "doc_id long, media_kind string, width long, height long, "
    "n_units long, pixel_sum long"
)


def _block_pattern_rows(w: int, h: int, cx: int, cy: int, c0: int) -> list[bytes]:
    """rows[y][x] = (cx*(x//8) + cy*(y//8) + c0) % 256 as uint8 scanlines —
    the shared block-constant fixture formula, vectorized (round-13: the
    per-pixel genexprs were ~25% of the jpeg kernels' CPU)."""
    col = (np.arange(w) // 8) * cx
    row = (np.arange(h) // 8) * cy
    a = ((row[:, None] + col[None, :] + c0) % 256).astype(np.uint8)
    return [r.tobytes() for r in a]


def synth_jpeg_media(doc_id: int) -> bytes:
    """Block-constant grayscale JPEG: every 8x8 block holds the single value
    (5*bx + 11*by + 3*doc_id) % 256 at (8*(2 + id%3)) x (8*(1 + id%2)). A
    constant block's only nonzero coefficient is DC = 8*(v-128); with DC
    quant step 8 its level is exactly v-128 (integer, no rounding) and the
    AC float residuals (~1e-13) quantize to zero — so the LOSSY codec
    roundtrips these images BIT-EXACTLY and the decoded statistics have
    closed-form SQL, while the full entropy pipeline (DC differentials
    across blocks, EOB, byte stuffing, canonical Huffman from the file's
    own DHT) is exercised for real. The lossy AC path is covered separately
    by the gradient tolerance unit in tests/test_m4_operators.py."""
    w, h = 8 * (2 + doc_id % 3), 8 * (1 + doc_id % 2)
    return encode_jpeg_gray(_block_pattern_rows(w, h, 5, 11, 3 * doc_id))


def jpeg_roundtrip_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: synthesize + REAL-decode per item (the decoder
    sees only bytes; decode_real dispatches on the JPEG magic and falls
    back from Pillow to the stdlib baseline decoder)."""
    for pdf in batches:
        recs = []
        for doc_id in pdf["doc_id"]:
            d = decode_real(synth_jpeg_media(int(doc_id)))
            recs.append(
                {
                    "doc_id": doc_id,
                    "media_kind": d["media_kind"],
                    "width": d["width"],
                    "height": d["height"],
                    "n_units": d["n_units"],
                    "pixel_sum": d["pixel_sum"],
                }
            )
        yield pd.DataFrame.from_records(recs)


@register(
    "q_multimodal_jpeg_decode",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh FROM documents
    ),
    b1 AS (SELECT doc_id, bw, bh, unnest(range(0, bw)) AS bx FROM d),
    b2 AS (SELECT doc_id, bw, bh, bx, unnest(range(0, bh)) AS by FROM b1)
    SELECT doc_id, 'jpeg' AS media_kind,
           CAST(MAX(bw) * 8 AS BIGINT) AS width,
           CAST(MAX(bh) * 8 AS BIGINT) AS height,
           CAST(MAX(bw) * MAX(bh) * 64 AS BIGINT) AS n_units,
           CAST(64 * SUM((5 * bx + 11 * by + 3 * doc_id) % 256) AS BIGINT)
             AS pixel_sum
    FROM b2 GROUP BY doc_id ORDER BY doc_id
    """,
    doc="REAL baseline-JPEG decode, value-hash-gated (round-8: closes the "
    "JPEG gap without Pillow): a spec-valid grayscale JPEG is synthesized "
    "per document and decoded by the pure-stdlib baseline decoder — "
    "marker walk, quant/Huffman tables rebuilt from the file's own "
    "DQT/DHT, entropy decode with DC prediction and byte unstuffing, "
    "dequant, inverse zigzag, IDCT. Fixtures are block-constant images, "
    "chosen so the DC-step-8 quantizer is exact and the lossy codec "
    "roundtrips them bit-for-bit (docstring of synth_jpeg_media) — which "
    "is what gives the decoded pixel statistics a closed-form DuckDB "
    "oracle; the lossy AC path is tolerance-tested in units. Pillow, when "
    "installed, takes over via the same decode_real dispatch (the "
    "stats are identical either way). Scale shape: one narrow Arrow map, "
    "decode parallelism = partition count, like the PNG/WAV gate.",
)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    # spread(): the single-file fixture scan yields one input partition and
    # the codec is CPU-bound Python — at 100 TB the scan has real splits
    # and this is a no-op (catalog.spread docstring)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    return d.mapInPandas(jpeg_roundtrip_kernel, schema=JPEG_SCHEMA).orderBy("doc_id")


JPEG420_SCHEMA = (
    "doc_id long, width long, height long, y_sum long, cb_sum long, cr_sum long"
)


def synth_jpeg420_media(doc_id: int) -> bytes:
    """Block-constant YCbCr 4:2:0 JPEG at 16·(2+id%3) × 16·(1+id%2): luma
    block (bx,by) holds (5bx+11by+3id)%256; the half-resolution chroma
    planes hold (7bx+13by+id)%256 (Cb) and (3bx+17by+5id)%256 (Cr) per
    chroma-grid block. Dimensions are multiples of 16 so every plane tiles
    exactly into 8×8 blocks and each chroma sample replicates to exactly a
    2×2 full-resolution quad — the same DC-step-8 exactness argument as
    synth_jpeg_media makes the LOSSY codec roundtrip all three planes
    bit-exactly, giving the decoded plane sums a closed-form SQL oracle.
    id%4 as the restart interval drives DRI/RSTn (including the
    all-predictors reset) through the interleaved color path too."""
    w, h = 16 * (2 + doc_id % 3), 16 * (1 + doc_id % 2)
    y = _block_pattern_rows(w, h, 5, 11, 3 * doc_id)
    cb = _block_pattern_rows(w // 2, h // 2, 7, 13, doc_id)
    cr = _block_pattern_rows(w // 2, h // 2, 3, 17, 5 * doc_id)
    return encode_jpeg_ycbcr(
        y, cb, cr, sampling=(2, 2), restart_interval=doc_id % 4
    )


def jpeg420_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: synthesize a 4:2:0 JPEG per item, stdlib-decode
    ALL planes (decode_jpeg_planes — never Pillow: this gate pins OUR
    subsampled-chroma path), reduce each full-resolution plane to its pixel
    sum so the chroma box-upsample is part of the verified value."""
    for pdf in batches:
        recs = []
        for doc_id in pdf["doc_id"]:
            w, h, (yp, cbp, crp) = decode_jpeg_planes(
                synth_jpeg420_media(int(doc_id))
            )
            recs.append(
                {
                    "doc_id": doc_id,
                    "width": w,
                    "height": h,
                    "y_sum": sum(sum(ln) for ln in yp),
                    "cb_sum": sum(sum(ln) for ln in cbp),
                    "cr_sum": sum(sum(ln) for ln in crp),
                }
            )
        yield pd.DataFrame.from_records(recs)


@register(
    "q_multimodal_jpeg420_decode",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 * (2 + doc_id % 3) AS nbx, 2 * (1 + doc_id % 2) AS nby
      FROM documents
    ),
    b1 AS (SELECT doc_id, nbx, nby, unnest(range(0, nbx)) AS bx FROM d),
    b2 AS (SELECT doc_id, nbx, nby, bx, unnest(range(0, nby)) AS by FROM b1)
    SELECT doc_id,
           CAST(MAX(nbx) * 8 AS BIGINT) AS width,
           CAST(MAX(nby) * 8 AS BIGINT) AS height,
           CAST(64 * SUM((5 * bx + 11 * by + 3 * doc_id) % 256) AS BIGINT)
             AS y_sum,
           CAST(256 * SUM(CASE WHEN bx < nbx // 2 AND by < nby // 2
                THEN (7 * bx + 13 * by + doc_id) % 256 ELSE 0 END) AS BIGINT)
             AS cb_sum,
           CAST(256 * SUM(CASE WHEN bx < nbx // 2 AND by < nby // 2
                THEN (3 * bx + 17 * by + 5 * doc_id) % 256 ELSE 0 END) AS BIGINT)
             AS cr_sum
    FROM b2 GROUP BY doc_id ORDER BY doc_id
    """,
    doc="REAL 4:2:0 chroma-subsampled JPEG decode, value-hash-gated "
    "(round-9: web corpora are mostly 4:2:0, which round-8's grayscale "
    "decoder refused): a spec-valid interleaved YCbCr baseline JPEG — "
    "2x2-sampled luma MCUs, per-component DC predictors, the Annex-K "
    "two-Huffman-table layout, DRI/RSTn on a doc_id stride — is "
    "synthesized per document and decoded by the pure-stdlib decoder; "
    "half-resolution chroma planes are box-upsampled to full size and "
    "every plane reduced to its pixel sum. Block-constant fixtures at "
    "16-multiple dimensions keep the DC-step-8 quantizer exact "
    "(synth_jpeg420_media docstring), so the lossy codec roundtrips "
    "bit-for-bit and DuckDB computes the sums in closed form — the "
    "chroma sums verify the upsample arithmetic (4x replication), not "
    "just the entropy decode. Scale shape: one narrow Arrow map over "
    "doc_id, decode parallelism = partition count, zero shuffles before "
    "the final sort.",
)
def q_multimodal_jpeg420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    return d.mapInPandas(jpeg420_kernel, schema=JPEG420_SCHEMA).orderBy("doc_id")


# fixture generators: deterministic, closed-form content so DuckDB can
# compute the decoded statistics from first principles
WAV_MIX = 2654435761  # Knuth multiplicative-hash constant


def wav_sample_sql(i_expr: str) -> str:
    """SQL for the unsigned WAV sample ``(i·(doc_id+7)·WAV_MIX) % 65536``
    with every operand mod-reduced BEFORE multiplying: the raw triple
    product overflows DuckDB's INT64 once doc_id exceeds ~1.36e7 (a loud
    'Overflow in multiplication' at large scale factors), while the
    mod-reduced form is congruent mod 65536 and keeps every intermediate
    under 2^32. The Spark-side kernels compute the same value in
    arbitrary-precision Python, so this is oracle-side hygiene only."""
    return (
        f"((((({i_expr}) % 65536) * ((doc_id + 7) % 65536)) % 65536) "
        f"* {WAV_MIX % 65536}) % 65536"
    )


def synth_media(doc_id: int) -> bytes:
    """Even doc_id → PNG gradient pixel(x,y) = (x + 3y + doc_id) % 256 at
    (16 + id%16) × (8 + id%8); odd → PCM16 integer-noise track
    sample(i) = ((i·(id+7)·WAV_MIX) % 65536) − 32768 at 8000 + id%100 Hz,
    64 + id%64 frames."""
    if doc_id % 2 == 0:
        w, h = 16 + doc_id % 16, 8 + doc_id % 8
        a = (
            (np.arange(w)[None, :] + 3 * np.arange(h)[:, None] + doc_id) % 256
        ).astype(np.uint8)
        return encode_png_gray([r.tobytes() for r in a])
    n = 64 + doc_id % 64
    # every operand mod-reduced before multiplying (the wav_sample_sql
    # argument): congruent mod 65536, int64-safe at any doc_id
    i_mod = np.arange(n) % 65536
    samples = (
        (i_mod * ((doc_id + 7) % 65536) % 65536) * (WAV_MIX % 65536) % 65536
        - 32768
    ).tolist()
    return encode_wav_pcm16(samples, 8000 + doc_id % 100)


DECODE_SCHEMA = (
    "doc_id long, media_kind string, width long, height long, "
    "sample_rate long, n_units long, pixel_sum long, sample_sq_sum long"
)


def synth_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": [synth_media(int(d)) for d in pdf["doc_id"]]}
        )


def decode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel over (doc_id, payload): REAL decode per item."""
    for pdf in batches:
        recs = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            recs.append({"doc_id": doc_id, **decode_real(bytes(payload))})
        yield pd.DataFrame.from_records(recs)


def decode_media(df: DataFrame) -> DataFrame:
    """The real-decode operator: (doc_id, payload binary) → decoded stats.

    Plug a ``spark.read.format("binaryFile")`` scan straight in: rename
    its ``content`` to ``payload`` and derive doc_id from ``path``. Same
    scale posture as media_features: narrow Arrow-batched map, decode
    parallelism = partition count."""
    return df.mapInPandas(decode_kernel, schema=DECODE_SCHEMA)


@register(
    "q_multimodal_decode_real",
    oracle=f"""
    WITH d AS (SELECT doc_id FROM documents),
    png AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
      FROM d WHERE doc_id % 2 = 0
    ),
    pe1 AS (SELECT doc_id, w, h, unnest(range(0, w)) AS xx FROM png),
    pe2 AS (SELECT doc_id, w, h, xx, unnest(range(0, h)) AS yy FROM pe1),
    psum AS (
      SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
             CAST(SUM((xx + 3 * yy + doc_id) % 256) AS BIGINT) AS pixel_sum
      FROM pe2 GROUP BY doc_id
    ),
    wav AS (
      SELECT doc_id, 8000 + doc_id % 100 AS sr, 64 + doc_id % 64 AS n
      FROM d WHERE doc_id % 2 = 1
    ),
    we AS (SELECT doc_id, sr, n, unnest(range(0, n)) AS i FROM wav),
    wsum AS (
      SELECT doc_id, MAX(sr) AS sr, MAX(n) AS n,
             CAST(SUM(POWER({wav_sample_sql("i")} - 32768, 2))
                  AS BIGINT) AS sq
      FROM we GROUP BY doc_id
    )
    SELECT doc_id, 'png' AS media_kind,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS sample_rate,
           CAST(w * h AS BIGINT) AS n_units,
           pixel_sum, CAST(NULL AS BIGINT) AS sample_sq_sum
    FROM psum
    UNION ALL
    SELECT doc_id, 'wav', NULL, NULL, CAST(sr AS BIGINT), CAST(n AS BIGINT),
           NULL, sq
    FROM wsum
    ORDER BY doc_id
    """,
    doc="REAL media decode, value-hash-gated: synthesize a spec-valid "
    "container per document (even ids: 8-bit grayscale PNG of a known "
    "gradient, scanlines cycling all five PNG filter types; odd ids: "
    "PCM16 WAV of known integer noise), then DECODE it for real — zlib "
    "inflate + per-scanline unfilter, RIFF/PCM parse — in a second "
    "Arrow-batched kernel that knows nothing of the generator, and report "
    "per-item stats (dimensions, pixel sum, sample energy). The oracle "
    "computes the same stats from the closed-form content definition, so "
    "a single flipped bit anywhere in encode, inflate, unfilter or parse "
    "hash-fails. Both kernels are narrow maps: decode parallelism is "
    "partition count, the 100 TB shape. Pillow, when installed, replaces "
    "the stdlib PNG path and adds JPEG (decode_real).",
)
def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    # spread() (round-12, measured): one-partition fixture scan would run
    # both kernels on one core; no-op at scale (catalog.spread docstring)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    media = d.mapInPandas(synth_kernel, schema="doc_id long, payload binary")
    return decode_media(media).orderBy("doc_id")


N_BINFILES = 200


@register(
    "etl_binaryfile_decode_e2e",
    oracle=f"""
    WITH d AS (SELECT r.range AS doc_id FROM range(0, {N_BINFILES}) r),
    png AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
      FROM d WHERE doc_id % 2 = 0
    ),
    pe1 AS (SELECT doc_id, w, h, unnest(range(0, w)) AS xx FROM png),
    pe2 AS (SELECT doc_id, w, h, xx, unnest(range(0, h)) AS yy FROM pe1),
    psum AS (
      SELECT doc_id, MAX(w * h) AS units,
             CAST(SUM((xx + 3 * yy + doc_id) % 256) AS BIGINT) AS csum
      FROM pe2 GROUP BY doc_id
    ),
    wav AS (
      SELECT doc_id, 64 + doc_id % 64 AS n
      FROM d WHERE doc_id % 2 = 1
    ),
    we AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM wav),
    wsum AS (
      SELECT doc_id, MAX(n) AS units,
             CAST(SUM(POWER({wav_sample_sql("i")} - 32768, 2))
                  AS BIGINT) AS csum
      FROM we GROUP BY doc_id
    ),
    kinds AS (
      SELECT 'png' AS media_kind, units, csum FROM psum
      UNION ALL
      SELECT 'wav', units, csum FROM wsum
    )
    SELECT media_kind,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(units) AS BIGINT) AS n_units_total,
           CAST(SUM(csum) AS BIGINT) AS content_sum
    FROM kinds GROUP BY media_kind ORDER BY media_kind
    """,
    doc=f"binaryFile source end-to-end: {N_BINFILES} spec-valid PNG/WAV "
    "files land on disk, Spark's binaryFile reader scans them as "
    "(path, content) rows, doc ids parse from file names, decode_media "
    "runs the REAL stdlib decoders over the scanned bytes, and per-kind "
    "rollups hash-match the closed-form oracle. This is the multimodal "
    "ingest shape verbatim — a binaryFile (or object-store listing) scan "
    "into an Arrow-batched decode map — with the whole path gated, not "
    "just the kernel. Scan parallelism = file splits; the decode map is "
    "narrow.",
)
def etl_binaryfile_decode_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = scoped_dir("binfiles_")
    for doc_id in range(N_BINFILES):
        with open(f"{d}/doc_{doc_id:05d}.bin", "wb") as fh:
            fh.write(synth_media(doc_id))
    scanned = (
        spark.read.format("binaryFile")
        .load(d)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    return (
        decode_media(scanned)
        .groupBy("media_kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("n_units").cast("bigint").alias("n_units_total"),
            F.sum(F.coalesce("pixel_sum", "sample_sq_sum"))
            .cast("bigint")
            .alias("content_sum"),
        )
        .orderBy("media_kind")
    )


# --- perceptual-hash image dedup --------------------------------------------

PH_GROUPS = 40  # distinct underlying images in the synthetic corpus
PH_BRIGHT = 17  # per-variant uniform brightness offset (aHash-invariant)


def synth_phash_media(doc_id: int) -> bytes:
    """Grayscale PNG whose CONTENT depends only on g = doc_id % PH_GROUPS,
    plus a uniform brightness offset b·17 with b = (doc_id // 40) % 3 —
    the classic near-duplicate: same image, different exposure. Pattern
    pixel(x,y) = ((x·8//w)·7 + (y·8//h)·13 + g·5 + ((x+y)%2)·3) % 150
    + b·17 stays in [0, 200] so the brightness shift never clips (clipping
    would break the shift-invariance the hash is meant to demonstrate).
    Width varies by group (16/24/32 × 16) — aHash normalizes dims away."""
    g = doc_id % PH_GROUPS
    b = (doc_id // PH_GROUPS) % 3
    w = 16 + (g % 3) * 8
    h = 16
    xx = np.arange(w)
    yy = np.arange(h)[:, None]
    a = (
        ((xx * 8 // w) * 7 + (yy * 8 // h) * 13 + g * 5 + ((xx + yy) % 2) * 3) % 150
        + b * PH_BRIGHT
    ).astype(np.uint8)
    return encode_png_gray([r.tobytes() for r in a])


def ahash_bits(width: int, height: int, lines: list[bytes]) -> str:
    """Average-hash over decoded pixels: 8×8 block sums (bx = x·8//w), one
    bit per block by the EXACT cross-multiplied mean comparison
    s_blk·n_total > s_total·n_blk — integer-only, so the hash is invariant
    to uniform brightness shifts and bit-identical across engines. The
    64-bit signature is emitted as a '0'/'1' string: portable (no signed-
    bit-63 overflow) and directly comparable in SQL."""
    img = np.frombuffer(b"".join(lines), dtype=np.uint8).reshape(height, width)
    bx = np.arange(width) * 8 // width
    by = np.arange(height) * 8 // height
    idx = (by[:, None] * 8 + bx[None, :]).ravel()
    # block sums via bincount (round-13, §4.2): float64 weights are exact
    # here (block sums < 2^53 by far), then back to int64 for the exact
    # cross-multiplied comparison
    s = np.bincount(idx, weights=img.ravel(), minlength=64).astype(np.int64)
    n = np.bincount(idx, minlength=64)
    s_tot = int(s.sum())
    n_tot = width * height
    bits = s * n_tot > s_tot * n
    return "".join("1" if b else "0" for b in bits)


def phash_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow kernel: synthesize the group-patterned PNG, decode it FOR REAL
    (stdlib inflate + unfilter — the kernel never sees the generator's
    group structure, only pixels), and emit the aHash signature."""
    for pdf in batches:
        recs = []
        for doc_id in pdf["doc_id"]:
            payload = synth_phash_media(int(doc_id))
            width, height, lines = decode_png_pixels(payload)
            recs.append(
                {"doc_id": int(doc_id), "ahash": ahash_bits(width, height, lines)}
            )
        yield pd.DataFrame.from_records(
            recs, columns=["doc_id", "ahash"]
        ).astype({"doc_id": "int64", "ahash": "str"})


def image_ahash(df: DataFrame) -> DataFrame:
    """(doc_id, payload→decoded) → (doc_id, ahash). Narrow Arrow map:
    decode parallelism = partition count, the 100 TB shape; the hash
    column then joins the relational dedup operators like any key."""
    return df.mapInPandas(phash_kernel, schema="doc_id long, ahash string")


@register(
    "q_multimodal_phash_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id, doc_id % {PH_GROUPS} AS g FROM documents),
    dims AS (
      SELECT doc_id, g, 16 + (g % 3) * 8 AS w, 16 AS h,
             ((doc_id // {PH_GROUPS}) % 3) * {PH_BRIGHT} AS boff
      FROM d
    ),
    pe1 AS (SELECT doc_id, g, w, h, boff, unnest(range(0, w)) AS xx FROM dims),
    px AS (
      SELECT doc_id, w, h, (xx * 8) // w AS bx, (yy * 8) // h AS by,
             ((xx * 8 // w) * 7 + (yy * 8 // h) * 13 + g * 5 + ((xx + yy) % 2) * 3)
               % 150 + boff AS v
      FROM (SELECT doc_id, g, w, h, boff, xx, unnest(range(0, h)) AS yy FROM pe1)
    ),
    blk AS (
      SELECT doc_id, by, bx, SUM(v) AS s, COUNT(*) AS n, MAX(w * h) AS nt
      FROM px GROUP BY doc_id, by, bx
    ),
    tot AS (SELECT doc_id, SUM(s) AS st, MAX(nt) AS nt FROM blk GROUP BY doc_id),
    bits AS (
      SELECT b.doc_id, b.by, b.bx,
             CASE WHEN b.s * t.nt > t.st * b.n THEN '1' ELSE '0' END AS bit
      FROM blk b JOIN tot t USING (doc_id)
    ),
    hashes AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY by, bx) AS ahash
      FROM bits GROUP BY doc_id
    )
    SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM hashes GROUP BY ahash ORDER BY keeper_doc_id
    """,
    doc="Image near-duplicate collapse by perceptual hash: every document "
    "gets a REAL spec-valid PNG (group-patterned content + a uniform "
    "brightness variant), which an Arrow kernel decodes for real (stdlib "
    "inflate + five-filter unfilter — the decoder knows nothing of the "
    "generator) and reduces to a 64-bit average-hash over 8×8 block "
    "means, computed with EXACT cross-multiplied integer comparisons so "
    "brightness-shifted re-encodes of the same image hash identically "
    "(the near-dup property) with zero float drift. Clusters then fall "
    "out of one groupBy on the hash string — image dedup at 100 TB is "
    "a narrow decode map + one dictionary-sized shuffle, the exact-dedup "
    "shape with a perceptual key. The oracle recomputes pixels from the "
    "generator's closed form, so any flipped bit in encode, inflate, "
    "unfilter, blocking, or the comparison hash-fails. Hash emitted as a "
    "64-char bit string: portable across engines (no signed bit-63 "
    "trap), SQL-joinable, and Hamming-comparable via per-char ops.",
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    # spread() (round-12, measured): the single-file fixture scan yields
    # ONE input partition, so the synth+decode+hash kernel ran on one
    # core while its JPEG/WARC/MP3 siblings already spread; no-op at
    # scale (catalog.spread docstring)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    hashed = image_ahash(d)
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("keeper_doc_id")
    )


# ---------------------------------------------------------------------------
# progressive-JPEG driver gate (round-10 registration of the round-9 queue):
# the Annex-G multi-scan decoder (_decode_jpeg_progressive) and its encoder
# twin get their own value-hash gate, alternating grayscale and 4:2:0 color
# so both progressive component paths (interleaved DC scans, single-
# component spectral/refinement AC scans) are driver-verified.

JPEG_PROG_SCHEMA = (
    "doc_id long, media_kind string, width long, height long, "
    "y_sum long, cb_sum long, cr_sum long"
)


def synth_jpeg_prog_media(doc_id: int) -> bytes:
    """Even doc_id: grayscale progressive JPEG at 8·(2+id%4) × 8·(1+id%3),
    luma block (bx,by) = (7bx+5by+id)%256. Odd: 4:2:0 color progressive at
    16·(1+id%3) × 16·(1+id%2); luma block (7bx+5by+3id)%256 on the 8-px
    grid, chroma-grid blocks (11bx+3by+7id)%256 (Cb) / (13bx+9by+id)%256
    (Cr). Block-constant content at block-aligned dimensions keeps the
    DC-step-8 quantizer exact (synth_jpeg_media docstring), and the
    progressive encoder transmits the SAME quantized coefficients as the
    baseline one (encode_jpeg_progressive docstring, bit-exactness pinned
    in tests/test_m4_operators.py) — so the multi-scan decode roundtrips
    bit-for-bit and the plane sums have a closed-form SQL oracle. The
    content formulas deliberately differ from the baseline/420 gates'
    fixtures, so a fixture mix-up hash-fails."""
    if doc_id % 2 == 0:
        w, h = 8 * (2 + doc_id % 4), 8 * (1 + doc_id % 3)
        return encode_jpeg_progressive(_block_pattern_rows(w, h, 7, 5, doc_id))
    w, h = 16 * (1 + doc_id % 3), 16 * (1 + doc_id % 2)
    y = _block_pattern_rows(w, h, 7, 5, 3 * doc_id)
    cb = _block_pattern_rows(w // 2, h // 2, 11, 3, 7 * doc_id)
    cr = _block_pattern_rows(w // 2, h // 2, 13, 9, doc_id)
    return encode_jpeg_progressive(y, cb, cr, sampling=(2, 2))


def jpeg_prog_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: synthesize a progressive JPEG per item, verify
    it really is SOF2 (the gate must never silently test the baseline
    path), stdlib-decode all planes, reduce each to its pixel sum."""
    for pdf in batches:
        recs = []
        for doc_id in pdf["doc_id"]:
            payload = synth_jpeg_prog_media(int(doc_id))
            if b"\xff\xc2" not in payload:  # SOF2 marker
                raise ValueError("fixture is not a progressive (SOF2) JPEG")
            w, h, planes = decode_jpeg_planes(payload)
            gray = len(planes) == 1
            recs.append(
                {
                    "doc_id": doc_id,
                    "media_kind": "jpeg-prog-gray" if gray else "jpeg-prog-420",
                    "width": w,
                    "height": h,
                    "y_sum": sum(sum(ln) for ln in planes[0]),
                    "cb_sum": None if gray else sum(sum(ln) for ln in planes[1]),
                    "cr_sum": None if gray else sum(sum(ln) for ln in planes[2]),
                }
            )
        yield pd.DataFrame.from_records(recs)


@register(
    "q_multimodal_jpeg_prog_decode",
    oracle="""
    WITH g AS (
      SELECT doc_id, 2 + doc_id % 4 AS nbx, 1 + doc_id % 3 AS nby
      FROM documents WHERE doc_id % 2 = 0
    ),
    g1 AS (SELECT doc_id, nbx, nby, unnest(range(0, nbx)) AS bx FROM g),
    g2 AS (SELECT doc_id, nbx, nby, bx, unnest(range(0, nby)) AS by FROM g1),
    gsum AS (
      SELECT doc_id, MAX(nbx) * 8 AS w, MAX(nby) * 8 AS h,
             64 * SUM((7 * bx + 5 * by + doc_id) % 256) AS y_sum
      FROM g2 GROUP BY doc_id
    ),
    c AS (
      SELECT doc_id, 2 * (1 + doc_id % 3) AS nbx, 2 * (1 + doc_id % 2) AS nby
      FROM documents WHERE doc_id % 2 = 1
    ),
    c1 AS (SELECT doc_id, nbx, nby, unnest(range(0, nbx)) AS bx FROM c),
    c2 AS (SELECT doc_id, nbx, nby, bx, unnest(range(0, nby)) AS by FROM c1),
    csum AS (
      SELECT doc_id, MAX(nbx) * 8 AS w, MAX(nby) * 8 AS h,
             64 * SUM((7 * bx + 5 * by + 3 * doc_id) % 256) AS y_sum,
             256 * SUM(CASE WHEN bx < nbx // 2 AND by < nby // 2
                  THEN (11 * bx + 3 * by + 7 * doc_id) % 256 ELSE 0 END)
               AS cb_sum,
             256 * SUM(CASE WHEN bx < nbx // 2 AND by < nby // 2
                  THEN (13 * bx + 9 * by + doc_id) % 256 ELSE 0 END)
               AS cr_sum
      FROM c2 GROUP BY doc_id
    )
    SELECT doc_id, 'jpeg-prog-gray' AS media_kind,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(y_sum AS BIGINT) AS y_sum,
           CAST(NULL AS BIGINT) AS cb_sum, CAST(NULL AS BIGINT) AS cr_sum
    FROM gsum
    UNION ALL
    SELECT doc_id, 'jpeg-prog-420', CAST(w AS BIGINT), CAST(h AS BIGINT),
           CAST(y_sum AS BIGINT), CAST(cb_sum AS BIGINT), CAST(cr_sum AS BIGINT)
    FROM csum
    ORDER BY doc_id
    """,
    doc="REAL progressive (SOF2, Annex G) JPEG decode, value-hash-gated: "
    "a spec-valid multi-scan progressive JPEG — interleaved DC scans "
    "with successive approximation, single-component spectral-selection "
    "AC first scans, AC refinement scans with EOBRUN — is synthesized "
    "per document (grayscale for even ids, 4:2:0 YCbCr for odd, the "
    "classic libjpeg scan script) and decoded by the pure-stdlib "
    "progressive decoder: coefficients accumulate per component across "
    "scans, dequant + IDCT run once at EOI, subsampled chroma "
    "box-upsamples to full resolution. Block-constant fixtures at "
    "block-aligned dimensions keep the DC-step-8 quantizer exact and "
    "the progressive encoder transmits exactly the baseline encoder's "
    "quantized coefficients, so the lossy multi-scan codec roundtrips "
    "bit-for-bit and DuckDB computes every plane sum in closed form. "
    "The kernel additionally asserts the SOF2 marker, so the gate can "
    "never silently degrade to the baseline path. Scale shape: one "
    "narrow Arrow map over doc_id, decode parallelism = partition "
    "count, zero shuffles before the final sort.",
)
def q_multimodal_jpeg_prog_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    # spread(): the single-file fixture scan yields one input partition and
    # the codec is CPU-bound Python — at 100 TB the scan has real splits
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    return d.mapInPandas(jpeg_prog_kernel, schema=JPEG_PROG_SCHEMA).orderBy("doc_id")
