"""MP3 frame-header walk (operators/mp3.py): full Spark-vs-DuckDB parity,
parser structure pins against a pure-Python reference, the corrupt-stream
fuzz contract, and the empty guard."""

import duckdb
import pytest

from poc_juma_etl_spark.operators.mp3 import (
    BITRATE_KBPS,
    FR_BASE,
    FR_MOD,
    MP3_ORACLE,
    SAMPLE_RATES,
    SAMPLES_PER_FRAME,
    encode_mp3,
    parse_mp3,
    q_multimodal_mp3_probe,
)

from .conftest import SF_ORACLE, SF_SMOKE


def test_mp3_probe_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in q_multimodal_mp3_probe(spark, SF_ORACLE).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(MP3_ORACLE).fetchall()]
    assert got == want
    assert len(got) == 500


def test_parse_mp3_frame_structure():
    """Frame count, per-frame table lookups, and length stepping against
    the fixture formulas (generator and parser share only the public
    tables and the integer length formula — the spec itself)."""
    for doc_id in (0, 7, 13):
        frames = parse_mp3(encode_mp3(doc_id))
        assert len(frames) == FR_BASE + doc_id % FR_MOD
        sr = SAMPLE_RATES[doc_id % 3]
        for i, f in enumerate(frames):
            br = BITRATE_KBPS[1 + (doc_id + i) % 14]
            assert f["sample_rate"] == sr
            assert f["bitrate_kbps"] == br
            assert f["frame_bytes"] == 144_000 * br // sr + (doc_id + i) % 2


def test_parse_mp3_duration_math_is_exact():
    frames = parse_mp3(encode_mp3(5))
    sr = SAMPLE_RATES[5 % 3]
    n = len(frames)
    assert n * SAMPLES_PER_FRAME * 1_000_000 // sr == (
        n * SAMPLES_PER_FRAME * 1_000_000
    ) // sr


def test_parse_mp3_corruption_fails_typed():
    """Truncations at every boundary and header-field corruption fail as
    ValueError — never a raw slice error (the shared multimodal fuzz
    contract)."""
    base = encode_mp3(9)
    for cut in list(range(1, len(base), 37)) + [len(base) - 1]:
        try:
            parse_mp3(base[:cut])
        except ValueError:
            pass  # typed is the contract; parsing OK is impossible here
        else:
            pytest.fail(f"truncation at {cut} parsed silently")
    # lost sync
    evil = bytearray(base)
    evil[0] = 0x00
    with pytest.raises(ValueError, match="sync"):
        parse_mp3(bytes(evil))
    # free-format bitrate index (0) and reserved samplerate index (3)
    evil = bytearray(base)
    evil[2] = 0x00
    with pytest.raises(ValueError, match="free-format|reserved"):
        parse_mp3(bytes(evil))
    evil = bytearray(base)
    evil[2] = (evil[2] & 0xF0) | 0x0C
    with pytest.raises(ValueError, match="reserved samplerate"):
        parse_mp3(bytes(evil))
    # MPEG-2 version bits
    evil = bytearray(base)
    evil[1] = 0xF3
    with pytest.raises(ValueError, match="MPEG-1"):
        parse_mp3(bytes(evil))


def test_mp3_probe_empty_input(spark, tmp_path):
    empty = str(tmp_path / "sf_empty")
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(0).write.parquet(
        f"{empty}/documents.parquet"
    )
    assert q_multimodal_mp3_probe(spark, empty).collect() == []
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet' "
        "WHERE 1 = 0"
    )
    assert con.execute(MP3_ORACLE).fetchall() == []


def test_mp3_file_e2e_matches_duckdb_oracle(spark):
    """Real-file sibling: one .mp3 per document on disk, read back through
    binaryFile — value parity on the same closed-form oracle family."""
    from poc_juma_etl_spark.operators.mp3 import (
        MP3_FILE_ORACLE,
        N_MP3_FILES,
        etl_mp3_file_probe_e2e,
    )

    got = [tuple(r) for r in etl_mp3_file_probe_e2e(spark, SF_ORACLE).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(MP3_FILE_ORACLE).fetchall()]
    assert got == want
    assert len(got) == N_MP3_FILES


def test_mp3_file_e2e_empty_input(spark, tmp_path):
    empty = str(tmp_path / "sf_empty")
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(0).write.parquet(
        f"{empty}/documents.parquet"
    )
    from poc_juma_etl_spark.operators.mp3 import etl_mp3_file_probe_e2e

    assert etl_mp3_file_probe_e2e(spark, empty).collect() == []
