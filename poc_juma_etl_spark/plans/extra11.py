"""Round-11 extension operators.

- **gzip JSONL sink+source round-trip**
  (``etl_jsonl_gzip_roundtrip_e2e``): the format web-scale text corpora
  actually ship in — ``.json.gz`` lines (Common Crawl derivatives, RedPajama,
  Dolma all distribute this way). Unlike the plain CSV/JSON round-trips
  (plans/extra5.py) the compressed variant pins the two properties that
  matter at 100 TB: (1) gzip files are NOT splittable, so scan
  parallelism equals the FILE count — the gate writes a fixed shard
  count and AUDITS that the read-back scan saw exactly that many files
  (a silently-skipped shard would also shift every sum, but the audit
  fails fast and names the breakage); (2) the text payload survives the
  compress/decompress/JSON-escape trip byte-for-byte — per-bucket md5
  sums over the exact document text, replayed by the parquet-side
  DuckDB oracle, hash-fail on any mangling (encoding, escaping,
  truncated member). The read-back uses the ORIGINAL explicit schema
  (inference is a full extra decompress pass a 100 TB lake cannot
  afford).

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
reads REST/JSON only; interchange-format breadth extends SURVEY.md
§2.5's source/sink axis (CSV, JSON, ORC, now compressed JSONL).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.text import MOD_P, SQL_MD5_LONG, md5_long
from .queries import register, scoped_dir

GZ_SHARDS = 8  # fixed shard count: scan parallelism == file count
GZ_BUCKETS = 10


JSONL_GZ_ORACLE = f"""
    SELECT doc_id % {GZ_BUCKETS} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({SQL_MD5_LONG.format(x="text")} % {MOD_P}) AS BIGINT)
             AS text_hash_sum,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
    FROM documents GROUP BY 1 ORDER BY bucket
    """


@register(
    "etl_jsonl_gzip_roundtrip_e2e",
    oracle=JSONL_GZ_ORACLE,
    doc="gzip JSONL sink+source round-trip of the document corpus: "
    "scan file count audited against the shards written, text pinned "
    "by per-bucket md5 sums.",
)
def etl_jsonl_gzip_roundtrip_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    empty_out = (
        "bucket long, n_docs long, text_hash_sum long, "
        "total_chars long, n_chars_sum long"
    )
    if d.isEmpty():
        return spark.createDataFrame([], empty_out)
    path = f"{scoped_dir('jsonlgz_rt_')}/docs_jsonl_gz"
    # fixed shard count (the corpus-export layout); gzip makes each
    # shard one whole scan task downstream
    d.repartition(GZ_SHARDS).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(path)
    back = spark.read.schema(d.schema).json(path)
    # non-splittable audit: the scan must see exactly the shard files
    # the write produced — a missed or extra member fails fast here
    # (and would shift the sums below anyway)
    # (input_file_name is non-deterministic, so Spark 4 rejects it
    # inside an aggregate — project it to a column first)
    # a fixture with fewer docs than shards leaves some round-robin
    # partitions empty, and empty partitions write no part file — so
    # the expectation is the file count the WRITE actually produced,
    # not the shard constant (ADVICE r11)
    n_written = sum(
        1
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    n_files = back.select(F.input_file_name().alias("f")).distinct().count()
    if n_files != n_written:
        raise ValueError(
            f"gzip JSONL scan saw {n_files} files, wrote {n_written}"
        )
    return (
        back.groupBy((F.col("doc_id") % GZ_BUCKETS).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # 60-bit hashes summed over a corpus overflow a long; the house
            # MOD_P reduction keeps the sum exact AND portable
            F.sum(md5_long(F.col("text")) % MOD_P)
            .cast("bigint")
            .alias("text_hash_sum"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("n_chars").cast("bigint").alias("n_chars_sum"),
        )
        .orderBy("bucket")
    )


# --- XML sink+source round-trip (Spark 4 native XML) ------------------------

XML_ROW_TAG = "part"


XML_ROUNDTRIP_ORACLE = """
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(25,6))) AS STRING)
                AS DOUBLE) AS total_price,
           CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size,
           MIN(p_name) AS first_name
    FROM part GROUP BY p_brand ORDER BY p_brand
    """


@register(
    "etl_xml_roundtrip_e2e",
    oracle=XML_ROUNDTRIP_ORACLE,
    doc="XML sink+source round-trip of part through Spark 4's native "
    "XML source, read back with the original schema and rolled up "
    "per brand.",
)
def etl_xml_roundtrip_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink+source round-trip — the fourth text interchange format
    (after CSV/JSON/gzip-JSONL) using Spark 4's NATIVE XML source (no
    external package): write part through the XML writer, read the files
    back with the ORIGINAL explicit schema and the same rowTag (XML field
    order is element-name-based, so the schema also proves name binding),
    and aggregate per brand against a parquet-side oracle. Doubles ride
    the decimal-cast sum discipline, so any loss in the text
    serialization breaks the hash. Scan parallelism survives: XML splits
    by file and the write preserves the upstream partition count."""
    from .queries import dsum

    p = load_table(spark, sf_dir, "part")
    path = f"{scoped_dir('xml_rt_')}/part_xml"
    p.write.mode("overwrite").format("xml").option(
        "rowTag", XML_ROW_TAG
    ).save(path)
    back = (
        spark.read.schema(p.schema)
        .format("xml")
        .option("rowTag", XML_ROW_TAG)
        .load(path)
    )
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            dsum("p_retailprice", "total_price"),
            F.sum(F.col("p_size").cast("bigint"))
            .cast("bigint")
            .alias("total_size"),
            F.min("p_name").alias("first_name"),
        )
        .orderBy("p_brand")
    )
