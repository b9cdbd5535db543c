"""TAR / WebDataset ingestion (operators/tar.py): full Spark-vs-DuckDB
parity, independent-parser structure pins against the stdlib writer, the
corrupt-stream fuzz contract, the multi-sample shard file e2e, and the
empty guards."""

import duckdb
import pytest

from poc_juma_etl_spark.operators.tar import (
    TAR_ORACLE,
    TAR_SHARD_ORACLE,
    N_TAR_DOCS,
    _json_body,
    _text_body,
    encode_tar,
    encode_tar_shard,
    etl_tar_shard_ingest_e2e,
    parse_tar,
    q_multimodal_tar_ingest,
)

from .conftest import SF_ORACLE, SF_SMOKE


def test_tar_ingest_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in q_multimodal_tar_ingest(spark, SF_ORACLE).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(TAR_ORACLE).fetchall()]
    assert got == want
    assert len(got) == 500


def test_tar_shard_e2e_matches_duckdb_oracle(spark):
    """Real-file sibling: multi-sample .tar shards on disk (the WebDataset
    layout), read back through binaryFile — same closed-form oracle."""
    got = [tuple(r) for r in etl_tar_shard_ingest_e2e(spark, SF_ORACLE).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(TAR_SHARD_ORACLE).fetchall()]
    assert got == want
    assert len(got) == N_TAR_DOCS


def test_parse_tar_member_structure():
    """The independent block walk recovers exactly what the stdlib writer
    stored: names, sizes, and byte-identical bodies."""
    for doc_id in (0, 7, 12):
        members = parse_tar(encode_tar(doc_id))
        assert [m["name"] for m in members] == [
            f"{doc_id:08d}.txt",
            f"{doc_id:08d}.json",
        ]
        assert members[0]["body"].decode() == _text_body(doc_id)
        assert members[1]["body"].decode() == _json_body(doc_id)
        assert all(m["size"] == len(m["body"]) for m in members)


def test_parse_tar_shard_concatenates_samples():
    blob = encode_tar_shard([3, 4, 5])
    members = parse_tar(blob)
    assert len(members) == 6
    assert members[0]["name"] == "00000003.txt"
    assert members[-1]["name"] == "00000005.json"


def test_parse_tar_corruption_fails_typed():
    """Truncations at every boundary, a flipped checksum digit, bad magic,
    and a corrupted size field all fail as ValueError — never a raw slice
    error (the shared multimodal fuzz contract)."""
    base = encode_tar(9)
    # cuts beyond the first zero terminator block leave a COMPLETE archive
    # (the remainder is record padding), so fuzz only up to it: content
    # blocks for every member + the partial-terminator window
    content_end = sum(
        512 + ((m["size"] + 511) // 512) * 512 for m in parse_tar(base)
    )
    for cut in list(range(1, content_end + 512, 97)) + [
        511,
        512,
        513,
        content_end,
        content_end + 511,
    ]:
        try:
            parse_tar(base[:cut])
        except ValueError:
            pass
        else:
            pytest.fail(f"truncation at {cut} parsed silently")
    evil = bytearray(base)
    evil[257] = ord("X")  # magic
    with pytest.raises(ValueError, match="magic"):
        parse_tar(bytes(evil))
    evil = bytearray(base)
    evil[148] = ord("7") if evil[148] != ord("7") else ord("1")  # checksum
    with pytest.raises(ValueError, match="checksum"):
        parse_tar(bytes(evil))
    evil = bytearray(base)
    evil[124] = ord("z")  # size field non-octal (checksum recomputed first,
    # so corrupt it consistently: expect the checksum guard to fire)
    with pytest.raises(ValueError, match="checksum|octal"):
        parse_tar(bytes(evil))


def test_tar_ingest_empty_input(spark, tmp_path):
    empty = str(tmp_path / "sf_empty")
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(0).write.parquet(
        f"{empty}/documents.parquet"
    )
    assert q_multimodal_tar_ingest(spark, empty).collect() == []
    assert etl_tar_shard_ingest_e2e(spark, empty).collect() == []
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet' "
        "WHERE 1 = 0"
    )
    assert con.execute(TAR_ORACLE).fetchall() == []
