"""Round-6 extension operators: training-data export sharding and corpus
novelty scoring.

Two shapes a 100 TB training-data pipeline needs that the earlier families
don't cover:

- **Shard assignment / balance audit** (``q_shard_assign``): the write path.
  Training exports want N equal-ish shards with stateless, reproducible
  assignment — a pure hash of the stable key, never round-robin (which is
  partition-layout-dependent) and never a global sort (a full shuffle just
  to write). The audit emits per-shard document/token tallies plus each
  shard's token load relative to the mean, the number a re-shard decision
  reads. Everything is mergeable partial aggregation: one shuffle on the
  64-way shard key regardless of input size.

- **N-gram novelty** (``q_text_ngram_novelty``): corpus-level diversity
  curation. A document whose shingles all appeared in earlier documents adds
  little new signal even when no single pair crosses a dedup threshold
  (boilerplate stitched from many sources). First-appearance is attributed
  by MIN(doc_id) per shingle — ingestion order — so the metric is exactly
  reproducible. Scale shape: shuffles hash on the shingle only (no pair
  join anywhere, unlike the dedup family), so cost is linear in total
  shingle volume; the per-doc fold-back is a second hash join on doc_id.

The reference (fe-malveira-87/poc-juma-etl) has no analogue — its writes
delegate whole-table loads to BigQuery (utils.py:286-323) and it has no text
surface; these extend the engine along SURVEY.md §2.5's extension axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import _shingles
from ..operators.text import SQL_MD5_LONG, md5_long, tokens
from .queries import register

N_SHARDS = 64


@register(
    "q_shard_assign",
    oracle=f"""
    WITH t AS (
      SELECT {SQL_MD5_LONG.format(x="CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
             doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
             MIN(doc_id) AS min_doc_id,
             MAX(doc_id) AS max_doc_id
      FROM t GROUP BY shard
    )
    SELECT shard, n_docs, shard_tokens, min_doc_id, max_doc_id,
           CAST(shard_tokens AS DOUBLE) * {N_SHARDS}
             / NULLIF(SUM(shard_tokens) OVER (), 0) AS load_vs_mean
    FROM s ORDER BY shard
    """,
    doc=f"Deterministic {N_SHARDS}-way shard assignment for training-data "
    "export: shard = md5(doc_id) mod N — stateless and reproducible from "
    "the key alone (any worker, any partition layout, any rerun lands the "
    "document in the same shard; no global sort, no round-robin "
    "coordination). Emits the balance audit per shard — doc/token tallies, "
    "id range, and token load relative to the perfectly-balanced mean "
    "(load_vs_mean 1.0 = ideal; a re-shard decision reads max(load)). "
    "One shuffle on the shard key; counts and sums are mergeable partials, "
    "so the plan is identical at 50k documents or 50 billion. The division "
    "is a single int-to-double op on exact bigints — IEEE-identical across "
    "engines (the repo's float-portability rule).",
)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    shard = (md5_long(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard")
    per = (
        d.select(shard, "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
    total = per.agg(F.sum("shard_tokens").alias("t"))
    return (
        per.crossJoin(F.broadcast(total))  # scalar join: 1-row total
        .select(
            "shard",
            "n_docs",
            "shard_tokens",
            "min_doc_id",
            "max_doc_id",
            (
                F.col("shard_tokens").cast("double")
                * N_SHARDS
                / F.when(F.col("t") > 0, F.col("t"))
            ).alias("load_vs_mean"),
        )
        .orderBy("shard")
    )


@register(
    "q_text_ngram_novelty",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      FROM tok
    ),
    first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty
    FROM sh s JOIN first_seen f USING (shingle)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="Per-document n-gram novelty: the fraction of a document's distinct "
    "3-token shingles that first appear (MIN doc_id = ingestion order) in "
    "that document. Low novelty flags boilerplate stitched from many "
    "already-seen sources — redundancy no pairwise dedup threshold catches, "
    "the corpus-diversity signal curation pipelines rank on. Scale shape: "
    "unlike the dedup family there is NO pair join — one shuffle hashed on "
    "the shingle for first-appearance, one hash join back, one doc_id "
    "aggregation; cost stays linear in total shingle volume, and frequent "
    "stop-shingles add rows to a single grouped key, never d² candidates. "
    "The ratio is one int/int double division on exact counts — "
    "IEEE-identical across engines.",
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # Round-13 recut (guide §2.4): first-appearance used to be a
    # groupBy(shingle) + join back onto the SAME shingle stream — the
    # shingle explode evaluated twice and two Exchanges hashed on the
    # shingle. A min() window over the shingle partition computes the
    # identical first_doc with ONE shingle evaluation and ONE Exchange.
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    return (
        sh.withColumn(
            "first_doc", F.min("doc_id").over(Window.partitionBy("shingle"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles")).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_source_overlap",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      FROM tok
    ),
    ds AS (
      SELECT DISTINCT d.source, s.shingle
      FROM sh s JOIN documents d USING (doc_id)
    ),
    per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ds GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           pa.n AS n_a, pb.n AS n_b,
           CAST(s.n_shared AS DOUBLE) / (pa.n + pb.n - s.n_shared) AS jaccard,
           CAST(s.n_shared AS DOUBLE) / least(pa.n, pb.n) AS containment
    FROM shared s
    JOIN per pa ON pa.source = s.source_a
    JOIN per pb ON pb.source = s.source_b
    ORDER BY s.source_a, s.source_b
    """,
    doc="Cross-source overlap audit: shingle-level Jaccard and containment "
    "between every pair of document sources — the data-governance matrix "
    "that catches one crawl re-ingesting another (high containment, "
    "asymmetric sizes) or template boilerplate shared corpus-wide before "
    "any of it leaks into training mixes. Scale shape: source pairs are "
    "generated per shingle from the (source, shingle) DISTINCT table via "
    "an in-row sorted-combinations explode, so fan-out per shingle is "
    "bounded by |sources|² — a catalog-sized constant — never by corpus "
    "size; every shuffle hashes on the shingle or the ~|sources|² pair "
    "key. No document pair join anywhere. Ratios are single int-to-double "
    "divisions on exact counts (IEEE-identical across engines).",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    # NOTE (round-12, measured and REJECTED): ds feeds two consumers (per-
    # source totals, the pair explode) and is evaluated twice — both a
    # scoped_cache (0.82x) and an eager truncate_lineage (0.78x) LOST to
    # the duplicate evaluation (values identical): one
    # action runs both subtrees concurrently on idle cores, while
    # materializing the distinct shingle domain serializes its write onto
    # the critical path. Same finding as pagerank's edge build this round.
    # Round-13: re-measured the scoped_cache arm at SPARK_GRAFT_CPUS=8
    # (core contention) — 1.01x, a wash. Not worth the cache's memory
    # footprint for zero measured gain; stays as-is at both core counts.
    ds = (
        _shingles(d)
        # doc->source map is CORPUS-sized (one row per document) — no
        # forced broadcast (r8 audit; the r7-flagged bench-set pattern).
        # The SOURCE domain is catalog-tiny, but this map isn't; AQE
        # broadcasts at fixture scale, shuffles on doc_id at corpus scale.
        .join(src, "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    per = ds.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # sorted in-row combinations: source_a < source_b by construction,
    # fan-out per shingle bounded by |sources| choose 2
    pairs = (
        ds.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
            (
                F.col("n_shared").cast("double") / F.least("n_a", "n_b")
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )
