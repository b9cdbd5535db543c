"""URL-level operators for LLM training-data pipelines: URL canonicalization
dedup and per-domain corpus statistics (extension surface, BASELINE.json
north_star; the reference has no web-corpus handling — SURVEY.md §2.5).

The documents table carries no URL column, so a deterministic synthetic URL
is derived per row — a pure function of (source, doc_id), built identically
in Spark and the DuckDB oracle — and the operators under test are what a
CommonCrawl-style pipeline runs on real URLs:

- canonicalization dedup: lowercase, strip scheme / www. / query string /
  trailing slash, then groupBy the canonical form (one shuffle on a short
  string key — same scale class as exact content dedup).
- domain stats: regex host extraction, then per-domain aggregation (docs,
  chars, token mean) — the mixture-weights input of corpus curation.

Messiness is seeded on purpose (scheme case, tracking params appear only on
some rows) so canonicalization does real work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import SQL_DAVG, davg, register

# doc_id % 50 collides on purpose: multiple docs of one source share a path.
_SQL_RAW_URL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END)"
    " || source || '.Example.com/item/' || CAST(doc_id % 50 AS VARCHAR)"
    " || (CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)"
    " WHEN doc_id % 3 = 1 THEN '/' ELSE '' END)"
)

HOST_RE = r"^https?://(www\.)?([^/?]+)"


def _spark_raw_url() -> Column:
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, "HTTPS://WWW.").otherwise("http://")
    tail = (
        F.when(did % 3 == 0, F.concat(F.lit("/?utm_source=feed&ref="), did.cast("string")))
        .when(did % 3 == 1, "/")
        .otherwise("")
    )
    return F.concat(
        scheme,
        F.col("source"),
        F.lit(".Example.com/item/"),
        (did % 50).cast("string"),
        tail,
    )


def _canonical(url: Column) -> Column:
    """lowercase → drop scheme → drop leading www. → drop query → drop
    trailing slash. Each step one JVM-side regexp_replace."""
    c = F.lower(url)
    c = F.regexp_replace(c, r"^https?://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    c = F.regexp_replace(c, r"\?.*$", "")
    return F.regexp_replace(c, r"/$", "")


_SQL_CANONICAL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "lower({u}), '^https?://', ''), '^www\\.', ''), '\\?.*$', ''), '/$', '')"
)


@register(
    "q_dedup_url",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_SQL_RAW_URL} AS raw_url FROM documents),
    c AS (SELECT doc_id, {_SQL_CANONICAL.format(u="raw_url")} AS canonical_url FROM u)
    SELECT canonical_url, MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM c GROUP BY canonical_url
    ORDER BY canonical_url
    """,
    doc="URL dedup: canonicalize (case, scheme, www., query string, "
    "trailing slash) then groupBy the canonical form keeping min doc_id — "
    "the first pass of a CommonCrawl-style pipeline. One shuffle on a short "
    "key; linear at 100 TB like exact content dedup.",
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", _canonical(_spark_raw_url()).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("canonical_url")
    )


@register(
    "q_text_domain_stats",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars, len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             {_SQL_RAW_URL} AS raw_url
      FROM documents
    )
    SELECT regexp_extract(lower(raw_url), '{HOST_RE}', 2) AS domain,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           {SQL_DAVG.format(expr="n_tokens", alias="avg_tokens")}
    FROM u GROUP BY domain
    ORDER BY domain
    """,
    doc="Per-domain corpus stats: regex host extraction from the URL, then "
    "groupBy domain for doc counts / char totals / mean tokens — the "
    "mixture-weight input of corpus curation. Aggregation shuffles on the "
    "domain key; heavy-hitter domains are exactly what AQE skew handling "
    "is enabled for.",
)
def q_text_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        d.select(
            F.regexp_extract(F.lower(_spark_raw_url()), HOST_RE, 2).alias("domain"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            n_tokens.alias("n_tokens"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            davg("n_tokens", "avg_tokens"),
        )
        .orderBy("domain")
    )


BLOCKLIST = ("src0.example.com", "src3.example.com")
_SQL_BLOCKLIST = ", ".join(f"'{d}'" for d in BLOCKLIST)


@register(
    "q_text_blocklist_filter",
    oracle=f"""
    WITH u AS (
      SELECT doc_id,
             regexp_extract(lower({_SQL_RAW_URL}), '{HOST_RE}', 2) AS domain
      FROM documents
    )
    SELECT doc_id, domain
    FROM u
    WHERE domain NOT IN ({_SQL_BLOCKLIST})
    ORDER BY doc_id
    """,
    doc="Domain blocklist filtering: drop documents whose host appears on a "
    "curated blocklist (spam/adult/boilerplate domains in a real pipeline) "
    "— a broadcast anti-join against the (tiny) blocklist, so the corpus "
    "is one scan with no shuffle of the big side.",
)
def q_text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    block = d.sparkSession.createDataFrame([(b,) for b in BLOCKLIST], "domain string")
    return (
        d.select(
            "doc_id",
            F.regexp_extract(F.lower(_spark_raw_url()), HOST_RE, 2).alias("domain"),
        )
        .join(F.broadcast(block), "domain", "left_anti")
        .select("doc_id", "domain")
        .orderBy("doc_id")
    )
