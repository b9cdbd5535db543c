"""Deterministic content-hash sampling.

Random sampling (TABLESAMPLE / df.sample) is engine- and run-dependent —
useless for reproducible training-data subsets. The pipeline-standard
alternative: hash a stable key and keep rows whose hash lands in a bucket
range. Properties that matter at 100 TB:

- reproducible across engines, runs, partitionings, and cluster sizes;
- composable: a 5% sample is a strict subset of the 10% sample from the
  same key (bucket ranges nest);
- stratified variants are just different rates per stratum.

Uses the same md5-derived 60-bit hash as the dedup operators (cross-engine
stable, see operators/text.md5_long)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register
from .text import SQL_MD5_LONG, md5_long

BUCKETS = 1000


def sample_bucket(key: Column) -> Column:
    """Stable bucket in [0, BUCKETS) from any key column."""
    return md5_long(key.cast("string")) % BUCKETS


@register(
    "q_sample_deterministic",
    oracle=f"""
    SELECT doc_id, lang,
           {SQL_MD5_LONG.format(x="CAST(doc_id AS VARCHAR)")} % {BUCKETS} AS bucket
    FROM documents
    WHERE {SQL_MD5_LONG.format(x="CAST(doc_id AS VARCHAR)")} % {BUCKETS} < 100
    ORDER BY doc_id
    """,
    doc="Deterministic 10% sample: md5-bucket the key, keep buckets < 100 "
    "of 1000. Identical membership in every engine/run/partitioning, and a "
    "5% sample (buckets < 50) is a strict subset — the reproducible-subset "
    "contract LLM data pipelines need.",
)
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = sample_bucket(F.col("doc_id"))
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 100)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    )


@register(
    "q_sample_stratified",
    oracle=f"""
    SELECT label, COUNT(*) AS n_sampled
    FROM (
      SELECT label,
             {SQL_MD5_LONG.format(x="CAST(vec_id AS VARCHAR)")} % {BUCKETS} AS bucket
      FROM embeddings
    )
    WHERE bucket < (CASE WHEN label < 5 THEN 300 ELSE 100 END)
    GROUP BY label
    ORDER BY label
    """,
    doc="Stratified deterministic sampling: 30% for labels 0-4, 10% for "
    "labels 5-9 — per-stratum rates are just per-stratum bucket thresholds "
    "over the same stable hash (up-/down-sampling classes reproducibly).",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    bucket = sample_bucket(F.col("vec_id"))
    threshold = F.when(F.col("label") < 5, 300).otherwise(100)
    return (
        e.withColumn("bucket", bucket)
        .filter(F.col("bucket") < threshold)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("label")
    )


@register(
    "q_sample_language_balanced",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    m AS (SELECT MIN(cnt) AS mn FROM counts)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN counts c ON c.lang = d.lang CROSS JOIN m
    WHERE ({SQL_MD5_LONG.format(x="CAST(d.doc_id AS VARCHAR)")} % 10000) * c.cnt
          < 10000 * m.mn
    ORDER BY d.doc_id
    """,
    doc="Language-balanced downsampling: each language is kept at rate "
    "min_count/count_lang, so expected per-language volumes equalize (the "
    "mixture-rebalancing step of multilingual corpus curation). Acceptance "
    "is integer-exact — hash_bucket * cnt < 10000 * min_cnt — so membership "
    "is reproducible bit-for-bit in any engine. One tiny per-lang count "
    "aggregate broadcast back over the corpus; no sort, no collect.",
)
def q_sample_language_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    h = md5_long(F.col("doc_id").cast("string")) % 10000
    return (
        d.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(mn))
        .filter(h * F.col("cnt") < 10000 * F.col("mn"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "q_sample_temperature",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    m AS (SELECT MIN(cnt) AS mn FROM counts)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN counts c ON c.lang = d.lang CROSS JOIN m
    WHERE CAST({SQL_MD5_LONG.format(x="CAST(d.doc_id AS VARCHAR)")} % 10000 AS DOUBLE) / 10000.0
          < sqrt(CAST(m.mn AS DOUBLE) / CAST(c.cnt AS DOUBLE))
    ORDER BY d.doc_id
    """,
    doc="Temperature sampling (alpha=0.5): each language kept at rate "
    "(min_count/count)^alpha — between proportional (alpha=1) and uniform "
    "(alpha=0), the standard multilingual mixing rule (mT5/XLM-R). Every "
    "float op in the acceptance test (divide, sqrt, compare) is IEEE "
    "correctly-rounded, so membership is still bit-reproducible across "
    "engines. Same shape as the balanced sampler: tiny per-lang counts "
    "broadcast over one corpus scan.",
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    h = (md5_long(F.col("doc_id").cast("string")) % 10000).cast("double") / F.lit(10000.0)
    rate = F.sqrt(F.col("mn").cast("double") / F.col("cnt").cast("double"))
    return (
        d.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(mn))
        .filter(h < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


SPLIT_TRAIN_PCT = 80  # train buckets [0, 80), val [80, 90), test [90, 100)
SPLIT_VAL_PCT = 90


@register(
    "q_sample_leakage_safe_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             {SQL_MD5_LONG.format(x="source")} % 100 AS b
      FROM documents
    )
    SELECT CASE WHEN b < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN b < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
    doc="Leakage-safe train/val/test split: the split key is the SOURCE "
    "(domain/shard), not the document — every document of a source lands "
    "in the same split, so near-duplicate documents within a source can "
    "never straddle the train/eval boundary (the standard leakage control "
    "before dedup even runs). Assignment is the same stable md5 bucket "
    "hash as the sampling family: reproducible across engines, runs and "
    "cluster sizes, and rows never move between splits when the corpus "
    "grows. Pure map + one aggregate — linear at any scale.",
)
def q_sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokens

    d = load_table(spark, sf_dir, "documents")
    b = md5_long(F.col("source")) % 100
    split = (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "source",
            F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split")
    )


K_PER_CLASS = 20  # balanced-subset size per language


@register(
    "q_sample_k_per_class",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {SQL_MD5_LONG.format(x="CAST(doc_id AS VARCHAR)")},
                                         doc_id) AS rn
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(SUM(doc_id) AS BIGINT) AS doc_checksum
    FROM ranked
    WHERE rn <= {K_PER_CLASS}
    GROUP BY lang
    ORDER BY lang
    """,
    doc=f"Balanced k-per-class sampling: exactly {K_PER_CLASS} documents "
    "per language, chosen by ranking the stable md5 document hash inside "
    "each class — a deterministic, engine-independent 'random' order, so "
    "the balanced subset is reproducible anywhere (the eval-set and "
    "few-shot-pool construction primitive; rate-based stratified sampling "
    "in this module scales proportionally instead). One shuffle on the "
    "class key; per-class ranking never sees another class's rows.",
)
def q_sample_k_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(md5_long(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= K_PER_CLASS)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.sum("doc_id").cast("bigint").alias("doc_checksum"),
        )
        .orderBy("lang")
    )


# Data-mixture construction: global token budget = 2/5 of the corpus,
# apportioned across sources by deterministic per-source weights. Weights
# derive from the source name's stable hash (1..4) so the operator is
# scale-agnostic — real pipelines substitute curated weights per source
# (the Pile/Dolma mixing table); the mechanics are identical.
MIX_NUM, MIX_DEN = 2, 5
MIX_W_BUCKETS = 4


@register(
    "q_sample_mixture",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             {SQL_MD5_LONG.format(x="source || ':' || CAST(doc_id AS VARCHAR)")} AS h,
             {SQL_MD5_LONG.format(x="source")} % {MIX_W_BUCKETS} + 1 AS w
      FROM documents
    ),
    tot AS (SELECT SUM(n_tokens) AS total_tokens FROM t),
    sw AS (
      SELECT SUM(w) AS sum_w FROM (
        SELECT DISTINCT source, {SQL_MD5_LONG.format(x="source")} % {MIX_W_BUCKETS} + 1 AS w
        FROM t
      )
    ),
    c AS (
      SELECT doc_id, source, n_tokens, w,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT c.doc_id, c.source, c.n_tokens
    FROM c, tot, sw
    WHERE c.cum - c.n_tokens < ((tot.total_tokens * {MIX_NUM}) // {MIX_DEN}) * c.w // sw.sum_w
    ORDER BY c.doc_id
    """,
    doc=f"Data-mixture construction: a global token budget ({MIX_NUM}/{MIX_DEN} "
    "of the corpus) is split across sources proportionally to per-source "
    "mixture weights, and each source contributes its docs in stable-hash "
    "order until its token budget fills (the doc crossing the boundary is "
    "kept) — the pretraining data-mixing stage (Pile/Dolma-style source "
    "weighting) as a deterministic, engine-reproducible operator. All "
    "arithmetic is integer (token counts, hash weights, floor division), so "
    "membership is bit-identical across engines. Scale shape: one window "
    "cumsum per source plus two 1-row broadcast aggregates — no shuffle "
    "grows beyond the corpus token-count scan.",
)
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from .text import tokens

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        md5_long(
            F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))
        ).alias("h"),
        (md5_long(F.col("source")) % MIX_W_BUCKETS + 1).alias("w"),
    )
    tot = t.agg(F.sum("n_tokens").alias("total_tokens"))
    sw = (
        t.select("source", "w")
        .distinct()
        .agg(F.sum("w").alias("sum_w"))
    )
    win = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(win))
    budget = F.expr(f"((total_tokens * {MIX_NUM}) div {MIX_DEN}) * w div sum_w")
    return (
        c.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(sw))
        .filter(F.col("cum") - F.col("n_tokens") < budget)
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    )


TOKEN_BUDGET = 12_000


@register(
    "q_sample_token_budget",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    scored AS (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS quality
      FROM tok
    ),
    cum AS (
      SELECT doc_id, n_tokens, quality,
             CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
               AS cum_tokens
      FROM scored
    )
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM cum WHERE cum_tokens <= {TOKEN_BUDGET}
    ORDER BY doc_id
    """,
    doc=f"Token-budget corpus selection: rank documents by quality "
    f"(distinct-token ratio), keep the best until a global budget of "
    f"{TOKEN_BUDGET} tokens is filled — the data-curation primitive "
    "behind 'train on the best N tokens'. The global ordered cumulative "
    "sum is computed the scale-safe way: range-repartition on the rank "
    "key, per-partition running sums in parallel windows, and only the "
    "per-partition TOTALS (one row per partition) reach the driver to "
    "become broadcast offsets — never a single-partition global window, "
    "which would serialize the whole corpus through one task.",
)
def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokens

    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    scored = d.select(
        "doc_id",
        F.size(ts).cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(ts)).cast("double") / F.size(ts)).alias("quality"),
    )
    return budget_select(spark, scored, TOKEN_BUDGET)


def budget_select(spark: SparkSession, scored: DataFrame, budget: int) -> DataFrame:
    """Keep the highest-quality documents of ``scored`` (doc_id, n_tokens,
    quality) whose inclusive global cumulative token count stays within
    ``budget`` — the distributed ordered-prefix-sum, never a
    single-partition window."""
    from pyspark.sql.window import Window as W

    from ..plans.queries import scoped_cache

    # range-partition on the global rank order, sort within partitions, and
    # pin the layout with a cache so the offsets pass and the window pass
    # see the same partitioning (repartitionByRange samples to pick bounds)
    nb = max(2, spark.sparkContext.defaultParallelism)
    rp = scoped_cache(
        scored.repartitionByRange(nb, F.desc("quality"), F.asc("doc_id"))
        .sortWithinPartitions(F.desc("quality"), F.asc("doc_id"))
        .withColumn("pid", F.spark_partition_id())
    )
    # one row per partition to the driver; exclusive prefix sum -> offsets
    totals = {
        r.pid: r.t for r in rp.groupBy("pid").agg(F.sum("n_tokens").alias("t")).collect()
    }
    offs, acc = [], 0
    for pid in sorted(totals):
        offs.append((pid, acc))
        acc += totals[pid]
    offsets = F.broadcast(
        spark.createDataFrame(offs or [(0, 0)], "pid int, off bigint")
    )
    w = (
        W.partitionBy("pid")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        rp.join(offsets, "pid")
        .withColumn("cum_tokens", F.col("off") + F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "n_tokens", "quality", "cum_tokens")
        .orderBy("doc_id")
    )


@register(
    "q_sample_weighted",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             {SQL_MD5_LONG.format(x="CAST(doc_id AS VARCHAR)")} % {BUCKETS} AS bucket,
             (least(n_chars, 2000) * 500) // 2000 AS thresh
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN bucket < thresh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(SUM(thresh) AS BIGINT) AS expected_k
    FROM w GROUP BY lang ORDER BY lang
    """,
    doc="Importance-weighted deterministic sampling: each document's "
    "inclusion probability scales with its length proxy (least(n_chars, "
    "2000)/2000, capped at 50%) by turning the weight into a per-row "
    "bucket threshold over the same stable md5 hash the uniform sampler "
    "uses. Reproducible membership at any parallelism, no RNG state, and "
    "up-weighting a slice later keeps the old sample as a subset — the "
    "quality-weighted mixture pattern for training-data curation. "
    "expected_k (sum of thresholds, in 1/1000 units) doubles as the "
    "analytic check that realized counts track assigned weights.",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = sample_bucket(F.col("doc_id"))
    thresh = F.expr("(least(n_chars, 2000) * 500) div 2000")
    return (
        d.withColumn("bucket", bucket)
        .withColumn("thresh", thresh)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("bucket") < F.col("thresh"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_sampled"),
            F.sum("thresh").cast("bigint").alias("expected_k"),
        )
        .orderBy("lang")
    )


SHUFFLE_EPOCHS = 3
SHUFFLE_SHARDS = 8


@register(
    "q_sample_epoch_shuffle",
    oracle=f"""
    SELECT e.epoch, d.doc_id,
           {SQL_MD5_LONG.format(x="CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)")}
             AS shuffle_key,
           {SQL_MD5_LONG.format(x="CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)")}
             % {SHUFFLE_SHARDS} AS shard
    FROM documents d
    CROSS JOIN (SELECT unnest(range({SHUFFLE_EPOCHS})) AS epoch) e
    ORDER BY epoch, shuffle_key, doc_id
    """,
    doc="Deterministic epoch-wise shuffle (the reproducible-training-order "
    "primitive): each document's position for epoch E is the 60-bit md5 of "
    "'doc_id:E' — a new, data-independent permutation per epoch that any "
    "worker can recompute without coordination or stored state, sharded by "
    f"key % {SHUFFLE_SHARDS} for parallel readers. In-row hashing, no "
    "shuffle until the final presentation sort (which a trainer replaces "
    "with per-shard local order — the keys, not the sort, are the "
    "contract). At 100 TB: same expression, epochs as a literal array, "
    "shard count = reader parallelism.",
)
def q_sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SHUFFLE_EPOCHS - 1))).alias("epoch"),
    ).select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "doc_id",
        md5_long(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.col("epoch").cast("string"))
        ).alias("shuffle_key"),
    )
    return out.withColumn(
        "shard", (F.col("shuffle_key") % SHUFFLE_SHARDS).cast("bigint")
    ).orderBy("epoch", "shuffle_key", "doc_id")
