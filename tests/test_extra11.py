"""gzip JSONL round-trip (plans/extra11.py): full Spark-vs-DuckDB parity,
the non-splittable shard-count audit, gzip-on-disk verification, and the
empty guard."""

import glob

import duckdb

from poc_juma_etl_spark.plans.extra11 import (
    GZ_SHARDS,
    JSONL_GZ_ORACLE,
    etl_jsonl_gzip_roundtrip_e2e,
)

from .conftest import SF_ORACLE, SF_SMOKE


def test_jsonl_gz_roundtrip_matches_duckdb_oracle(spark):
    got = [
        tuple(r) for r in etl_jsonl_gzip_roundtrip_e2e(spark, SF_ORACLE).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(JSONL_GZ_ORACLE).fetchall()]
    assert got == want
    assert len(got) == 10


def test_jsonl_gz_writes_gzip_members(spark, tmp_path):
    """The staged shards really are gzip (magic bytes), really are
    GZ_SHARDS many, and really are .json.gz named — stage with the gate's
    exact writer options and inspect the files."""
    from poc_juma_etl_spark.catalog import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "gz")
    d.repartition(GZ_SHARDS).write.option("compression", "gzip").json(out)
    files = sorted(glob.glob(f"{out}/part-*.json.gz"))
    assert len(files) == GZ_SHARDS
    for f in files:
        with open(f, "rb") as fh:
            assert fh.read(2) == b"\x1f\x8b"  # gzip magic


def test_jsonl_gz_empty_input(spark, tmp_path):
    empty = str(tmp_path / "sf_empty")
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(0).write.parquet(
        f"{empty}/documents.parquet"
    )
    assert etl_jsonl_gzip_roundtrip_e2e(spark, empty).collect() == []
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet' "
        "WHERE 1 = 0"
    )
    assert con.execute(JSONL_GZ_ORACLE).fetchall() == []


def test_xml_roundtrip_matches_duckdb_oracle(spark):
    """Spark 4 native XML round-trip: value parity against the parquet
    oracle (any serialization loss in doubles/ints/strings breaks it)."""
    from poc_juma_etl_spark.plans.extra11 import (
        XML_ROUNDTRIP_ORACLE,
        etl_xml_roundtrip_e2e,
    )

    got = [tuple(r) for r in etl_xml_roundtrip_e2e(spark, SF_ORACLE).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM '{SF_ORACLE}/part.parquet'"
    )
    want = [tuple(r) for r in con.execute(XML_ROUNDTRIP_ORACLE).fetchall()]
    assert got == want
    assert len(got) > 0


def test_xml_roundtrip_empty_input(spark, tmp_path):
    empty = str(tmp_path / "sf_empty")
    spark.read.parquet(f"{SF_SMOKE}/part.parquet").limit(0).write.parquet(
        f"{empty}/part.parquet"
    )
    from poc_juma_etl_spark.plans.extra11 import etl_xml_roundtrip_e2e

    assert etl_xml_roundtrip_e2e(spark, empty).collect() == []
