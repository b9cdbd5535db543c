"""Bigram language-model SURPRISAL scoring — the perplexity-filter stage
of an LLM data pipeline (CCNet trains a 5-gram KenLM on a clean corpus
and filters by per-document perplexity; this is that pipeline shape with
the LM trained ON the corpus itself, self-scoring each document against
the corpus-wide bigram statistics — the "how out-of-distribution is this
document" signal that complements the feature-based quality filter,
operators/qualityfilter.py).

Exactness (the house fixed-point discipline applied to logarithms): the
per-bigram surprisal is the FLOOR-log2 of the inverse conditional
probability,

    s(w1 w2) = floor(log2(c(w1) // c(w1 w2)))

where c(w1 w2) is the corpus bigram count and c(w1) the context count
(bigram occurrences starting with w1). Because the LM is trained on the
corpus being scored, every scored bigram has c >= 1 — no smoothing needed
and no division by zero. Both division and log are exact integer
operations in BOTH engines: integer division (non-negative operands, so
Spark DIV == DuckDB //), and floor-log2 as ``length(bin(q)) - 1`` —
Spark's and DuckDB's ``bin()`` emit identical minimal binary strings, so
the value is bit-exact with no libm involvement (a float ``log2`` can
disagree by one ulp across libraries, which a hash gate cannot tolerate).

Plan shape at 100 TB: the bigram explode is in-row (zip_with over shifted
token-array slices — never a positional self-join); the LM tables are
corpus-sized aggregations hash-partitioned on the n-gram key; scoring is
two shuffle equi-joins on those same keys (bigram, then context word) —
no corpus-sized broadcast anywhere (the BM25 audit rule) — followed by a
per-document aggregation. Every stage is a standard hash exchange that
AQE can coalesce/skew-split.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
has no text surface; this extends the engine's corpus-quality toolbox
(SURVEY.md north-star extension families, next to q_text_unigram_logprob
— which scores UNIGRAM log-mass with a rational, division-based score;
this adds conditional-probability context sensitivity and an exact log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register, scoped_cache
from .text import tokens

# mean surprisal is reported in 1/1000ths (integer) so the output stays
# hash-exact while remaining readable as a filter threshold
MEAN_SCALE = 1000

OUT_COLS = (
    "doc_id long, n_bigrams long, total_surprisal long, "
    "max_surprisal long, mean_surprisal_x1000 long"
)


def _bigram_pairs(df: DataFrame) -> DataFrame:
    """(doc_id, bigram) per bigram occurrence, in-row explode. The context
    word is NOT carried: the bigram string embeds it ("w1 w2"), and tokens
    never contain whitespace, so ``split_part(bigram, ' ', 1)`` recovers
    it exactly wherever it is needed (type-level, not per occurrence)."""
    ts = tokens("text")
    pairs = F.when(
        F.size(ts) >= 2,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select("doc_id", F.explode(pairs).alias("bigram"))


BIGRAM_SURPRISAL_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts)),
               i -> struct_pack(w1 := ts[i], bigram := ts[i] || ' ' || ts[i+1]))) AS p
      FROM tok
    ),
    pairs AS (SELECT doc_id, p.w1 AS w1, p.bigram AS bigram FROM bg),
    lm_bg AS MATERIALIZED (
      SELECT bigram, COUNT(*) AS c12 FROM pairs GROUP BY bigram),
    lm_ctx AS MATERIALIZED (
      SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1),
    scored AS (
      SELECT doc_id,
             COUNT(*) AS n_bigrams,
             SUM(length(bin(c1 // c12)) - 1) AS total_surprisal,
             MAX(length(bin(c1 // c12)) - 1) AS max_surprisal
      FROM pairs JOIN lm_bg USING (bigram) JOIN lm_ctx USING (w1)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.total_surprisal, 0) AS BIGINT) AS total_surprisal,
           CAST(COALESCE(s.max_surprisal, 0) AS BIGINT) AS max_surprisal,
           CAST(CASE WHEN COALESCE(s.n_bigrams, 0) = 0 THEN 0 ELSE
             (s.total_surprisal * {MEAN_SCALE}) // s.n_bigrams END AS BIGINT)
             AS mean_surprisal_x1000
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


@register(
    "q_text_bigram_surprisal",
    oracle=BIGRAM_SURPRISAL_ORACLE,
    doc="Bigram-LM surprisal scoring (the CCNet perplexity-filter "
    "stage, self-trained on the corpus): exact integer floor-log2 "
    "surprisal per bigram type, type-level scoring join, n_bigrams "
    "in-row.",
)
def q_text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 recut (r10 verdict #4 cost audit): the score s depends only
    on the bigram TYPE, so scoring moved from the occurrence stream to the
    type domain. The old plan pushed the occurrence stream through TWO
    equi-joins (by bigram, then by context word) and re-scanned the cached
    occurrences a third time for the context counts; this plan joins the
    occurrences ONCE against a pre-scored types table (context counts roll
    up from the bigram-count table itself — a types-sized window, never a
    second pass over occurrences), and drops s = 0 types (singleton and
    deterministic contexts: c1 < 2*c12, i.e. P > 1/2) from the scoring
    join's build side — they contribute nothing to total or max by
    construction. n_bigrams comes in-row from the token count
    (size(ts) - 1), zero shuffle. At bench SFs AQE broadcasts the filtered
    types table; at 100 TB it is a standard hash join whose probe side
    ships once instead of twice."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the explode feeds two plan subtrees (the LM aggregation and the
    # scoring join's probe side) — cache it once or the full-corpus
    # tokenize+explode recomputes twice (the cms.py idiom)
    bg = scoped_cache(_bigram_pairs(d))
    # corpus LM: bigram counts from ONE map-side-combined aggregation of
    # the occurrence stream; context counts roll up FROM that types table
    # (same stream, engines can never disagree on tail tokens) — the old
    # plan re-scanned the cached occurrences for them
    lm_bg = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    lm = (
        lm_bg.withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
        .withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        # c1 >= c12 >= 1 by construction: q >= 1, floor-log2 is exact;
        # s = 0 types (c1 DIV c12 = 1) can't move total or max — drop
        # them before the scoring join
        .selectExpr(
            "bigram", "CAST(length(bin(c1 DIV c12)) - 1 AS BIGINT) AS s"
        )
        .filter(F.col("s") > 0)
    )
    scored = (
        bg.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("s").cast("long").alias("total_surprisal"),
            F.max("s").cast("long").alias("max_surprisal"),
        )
    )
    # n_bigrams is a row-local property of the token array — no shuffle,
    # and documents with < 2 tokens score zero, not disappear (left join)
    nb = d.select(
        "doc_id",
        F.greatest(F.size(tokens("text")) - 1, F.lit(0))
        .cast("long")
        .alias("n_bigrams"),
    )
    return (
        nb.join(scored, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "CAST(COALESCE(total_surprisal, 0) AS BIGINT) AS total_surprisal",
            "CAST(COALESCE(max_surprisal, 0) AS BIGINT) AS max_surprisal",
            f"CAST(CASE WHEN n_bigrams = 0 THEN 0 ELSE "
            f"(COALESCE(total_surprisal, 0) * {MEAN_SCALE}) DIV n_bigrams "
            "END AS BIGINT) AS mean_surprisal_x1000",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# group-disjoint train/val/test split (same module: both are corpus-prep
# stages)

SPLIT_BUCKETS = 10  # hash(source) % 10 -> 0-7 train, 8 val, 9 test
SPLIT_EDGES = (8, 9)  # train < 8 <= val < 9 <= test


def _split_sql_expr() -> str:
    from .text import SQL_MD5_LONG

    h = SQL_MD5_LONG.format(x="source")
    return (
        f"CASE WHEN {h} % {SPLIT_BUCKETS} < {SPLIT_EDGES[0]} THEN 'train' "
        f"WHEN {h} % {SPLIT_BUCKETS} < {SPLIT_EDGES[1]} THEN 'val' "
        "ELSE 'test' END"
    )


def group_split_oracle_sql() -> str:
    return f"""
    WITH assigned AS (
      SELECT source, {_split_sql_expr()} AS split,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    per_group AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             MIN(split) AS split_min, MAX(split) AS split_max
      FROM assigned GROUP BY source
    )
    SELECT split_min AS split,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN split_min != split_max THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaked_groups
    FROM per_group GROUP BY split_min ORDER BY split
    """


@register(
    "q_sample_group_split",
    oracle=group_split_oracle_sql(),
    doc="Group-disjoint train/val/test split with leakage audit: "
    "hash(source) buckets so every group's documents land in one "
    "split; n_leaked_groups pinned to 0.",
)
def q_sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-disjoint corpus split: every document whose ``source`` hashes
    to the same bucket lands in the same split, so near-duplicates and
    templated documents — which cluster within a source — can never
    straddle train and eval (decontamination by construction, the
    group-aware split every training-data pipeline needs and a plain
    row-hash split violates). Assignment is the portable md5 hash, so
    both engines agree document for document; the output reports per-split
    document/group/token mass plus a leakage AUDIT computed from the
    assignment itself — ``n_leaked_groups`` counts groups observed in
    more than one split and must be zero, making the gate fail loudly if
    the assignment expression ever drifts to a per-document hash.

    Scale: one hash-partitioned groupBy on (source), a per-group count of
    distinct splits (algebraic MIN=MAX check, no second shuffle), then a
    bucket-sized rollup. No corpus-sized broadcast, no window."""
    from .text import md5_long, tokens

    d = load_table(spark, sf_dir, "documents").select("source", "text")
    bucket = md5_long(F.col("source")) % SPLIT_BUCKETS
    split = (
        F.when(bucket < SPLIT_EDGES[0], "train")
        .when(bucket < SPLIT_EDGES[1], "val")
        .otherwise("test")
    )
    assigned = d.select(
        "source",
        split.alias("split"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
    )
    per_group = assigned.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        # split is functionally determined by source; MIN/MAX pick the
        # same deterministic value in both engines AND double as the
        # leakage audit (split_min != split_max -> a leaked group)
        F.min("split").alias("split_min"),
        F.max("split").alias("split_max"),
    )
    # after the rename below, split IS split_min; a group leaked iff its
    # max disagrees
    leaked = F.sum(
        F.when(F.col("split") != F.col("split_max"), 1).otherwise(0)
    ).cast("bigint")
    return (
        per_group.withColumnRenamed("split_min", "split")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            leaked.alias("n_leaked_groups"),
        )
        .orderBy("split")
    )


# --- multinomial naive Bayes language-ID -----------------------------------
#
# The third member of the trainable-model family (fixed-point logreg GD,
# model-based quality filter): a generatively-trained classifier whose
# training IS two groupBy aggregations — the canonical "ML as SQL" shape.
# Train split = doc_id % 5 != 0 (deterministic, engine-identical); model =
# per-(lang, token) Laplace-smoothed counts + per-lang totals + train
# vocabulary size; scoring = per-(test-doc, candidate-lang) sum of
# DECIMAL(25,6)-truncated ln((c+1)/(class_total+V)) terms — the
# unigram-logprob exactness idiom: truncating each libm term to 6 decimals
# BEFORE an exact decimal sum makes the aggregate order-independent and
# engine-identical, so the per-doc argmax (ties broken by lang asc) is
# deterministic. Measured top-2 score gaps: min 1.2e-3 at sf0.01 / 1.5e-4
# at sf0.1 — two orders above the truncation quantum.
#
# Output is the integer confusion matrix only (true_lang, pred_lang,
# n_docs, n_tokens_sum); scores never leave the plan, so the hash gate
# rides on BIGINTs.
#
# Scale shape: model tables are corpus aggregations hash-partitioned on
# the token key; scoring joins test tokens to the model ON that key (no
# vocabulary broadcast — the BM25 audit rule); the candidate-class fanout
# is a broadcast of the k-row class table (k = #languages, bounded);
# argmax is a per-doc window, never global. 100 TB: linear in tokens x k.

NB_TEST_MOD = 5  # doc_id % 5 == 0 -> test split


NB_LANGID_ORACLE = f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, lang, t FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents
      ) WHERE length(t) > 0
    ),
    train AS (SELECT * FROM tok WHERE doc_id % {NB_TEST_MOD} != 0),
    cls AS MATERIALIZED (SELECT lang, COUNT(*) AS ct FROM train GROUP BY lang),
    vocab AS MATERIALIZED (SELECT COUNT(DISTINCT t) AS v FROM train),
    ctk AS MATERIALIZED (
      SELECT lang, t, COUNT(*) AS c FROM train GROUP BY lang, t
    ),
    test AS (
      SELECT doc_id, lang AS true_lang, t
      FROM tok WHERE doc_id % {NB_TEST_MOD} = 0
    ),
    scores AS (
      SELECT te.doc_id, te.true_lang, cls.lang AS cand,
             SUM(CAST(ln(CAST(COALESCE(ctk.c, 0) + 1 AS DOUBLE)
                         / (cls.ct + vocab.v)) AS DECIMAL(25,6))) AS s,
             COUNT(*) AS n_tok
      FROM test te CROSS JOIN cls CROSS JOIN vocab
      LEFT JOIN ctk ON ctk.lang = cls.lang AND ctk.t = te.t
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT doc_id, true_lang, cand, n_tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, cand) AS rk
      FROM scores
    )
    SELECT true_lang, cand AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens_sum
    FROM pred WHERE rk = 1
    GROUP BY true_lang, cand
    ORDER BY true_lang, pred_lang
    """


@register(
    "q_ml_naive_bayes_langid",
    oracle=NB_LANGID_ORACLE,
    doc="Multinomial naive Bayes language-ID trained on a doc_id split "
    "of the corpus: confusion matrix over the held-out documents, "
    "scores truncated to DECIMAL(25,6) per term so the argmax is exact.",
)
def q_ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of a self-trained multinomial NB language classifier
    over the held-out split. Reference behavior: none (beyond-reference ML
    family; reference delegates all analytics to BigQuery)."""
    from .text import tokens

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("t")
    ).filter(F.length("t") > 0)
    train = tok.filter(F.col("doc_id") % NB_TEST_MOD != 0)
    test = tok.filter(F.col("doc_id") % NB_TEST_MOD == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), "t"
    )
    cls = train.groupBy("lang").agg(F.count(F.lit(1)).alias("ct"))
    vocab = train.select("t").distinct().count()
    ctk = train.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c"))
    cand = (
        test.crossJoin(F.broadcast(cls.select(F.col("lang").alias("cand"), "ct")))
        .join(
            ctk.select(F.col("lang").alias("cand"), "t", "c"),
            ["cand", "t"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "cand",
            F.expr(
                f"CAST(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE) / (ct + {vocab}))"
                " AS DECIMAL(25,6))"
            ).alias("term"),
        )
    )
    scores = cand.groupBy("doc_id", "true_lang", "cand").agg(
        F.sum("term").alias("s"), F.count(F.lit(1)).alias("n_tok")
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("cand"))
    pred = scores.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        pred.groupBy(
            "true_lang", F.col("cand").alias("pred_lang")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens_sum"),
        )
        .orderBy("true_lang", "pred_lang")
    )
