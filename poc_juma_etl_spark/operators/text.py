"""Text-analysis operators for LLM training-data pipelines (extension
surface, BASELINE.json north_star; not present in the reference, which has no
text processing at all — SURVEY.md §2.5).

All operators are pure Catalyst column expressions over the ``documents``
table — tokenization, quality scoring, language ID, and fingerprinting run
JVM-side with no Python in the row path. At 100 TB each is an embarrassingly
parallel map over document partitions: no shuffle, no skew surface, scales
linearly with executors.

Cross-engine determinism: token counts and code-point sums are integers;
ratios are single double divisions of integers; hashes go through md5 (both
engines implement RFC 1321) truncated to 60 bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..plans.queries import dec_to_double, register, scoped_cache

# Whitespace tokenizer — the BPE-ish fallback for token *counting* is a
# regex over word pieces; for the synthetic corpus whitespace is exact.
TOKEN_SPLIT = r"\s+"

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately small: the operator demonstrates the scoring
# plumbing; swapping in real lexicons is a data change, not a code change.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "value", "fast"),
    "es": ("el", "la", "los", "de", "que", "y"),
    "fr": ("le", "la", "les", "des", "et", "une"),
    "de": ("der", "die", "das", "und", "ein", "nicht"),
    "zh": ("的", "是", "了", "在", "和", "有"),
}

MOD_P = 1_000_000_007  # hash-space modulus for minhash-style fingerprints


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), TOKEN_SPLIT)


def md5_long(col: Column) -> Column:
    """60-bit integer hash from md5 — cross-engine-stable base hash
    (DuckDB twin: CAST(('0x' || substr(md5(x),1,15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


SQL_MD5_LONG = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


@register(
    "q_text_token_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(ts)) AS BIGINT) AS n_unique,
           CAST(list_sum(list_transform(ts, x -> length(x))) AS BIGINT) AS n_token_chars,
           CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
             / len(ts) AS avg_token_len,
           CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS type_token_ratio
    FROM tok
    ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens, vocabulary size, char totals, "
    "type-token ratio. Array ops stay in-row — zero shuffle at any scale.",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    n_chars = F.aggregate(
        F.transform(ts, lambda t: F.length(t)), F.lit(0), lambda a, v: a + v
    ).cast("bigint")
    return d.select(
        "doc_id",
        F.size(ts).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ts)).cast("bigint").alias("n_unique"),
        n_chars.alias("n_token_chars"),
        (n_chars.cast("double") / F.size(ts)).alias("avg_token_len"),
        (F.size(F.array_distinct(ts)).cast("double") / F.size(ts)).alias(
            "type_token_ratio"
        ),
    ).orderBy("doc_id")


@register(
    "q_text_quality",
    oracle="""
    WITH tok AS (
      SELECT doc_id, n_chars, string_split_regex(trim(text), '\\s+') AS ts
      FROM documents
    ), feat AS (
      SELECT doc_id,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(ts, x -> x IN ('the','a','and','of','value','fast'))) AS DOUBLE)
               / len(ts) AS stopword_ratio,
             CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS type_token_ratio
      FROM tok
    )
    SELECT doc_id, n_chars, n_tokens, stopword_ratio, type_token_ratio,
           (0.4 * type_token_ratio) + (0.3 * stopword_ratio)
             + (0.3 * (CASE WHEN n_tokens >= 20 AND n_tokens <= 200 THEN 1.0 ELSE 0.0 END))
             AS quality_score
    FROM feat
    ORDER BY doc_id
    """,
    doc="Quality scoring: stopword ratio, lexical diversity, length gate, "
    "combined into a fixed-weight score (the C4/Gopher-style rule family). "
    "Fixed double op order keeps both engines bitwise-equal.",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_tokens = F.size(ts).cast("bigint")
    stopword_ratio = (
        F.size(F.filter(ts, lambda x: F.array_contains(stop, x))).cast("double") / F.size(ts)
    )
    ttr = F.size(F.array_distinct(ts)).cast("double") / F.size(ts)
    length_ok = F.when((n_tokens >= 20) & (n_tokens <= 200), 1.0).otherwise(0.0)
    return d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        stopword_ratio.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        ((0.4 * ttr) + (0.3 * stopword_ratio) + (0.3 * length_ok)).alias("quality_score"),
    ).orderBy("doc_id")


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"CAST(len(list_filter(ts, x -> x IN ({words}))) AS BIGINT)"


@register(
    "q_text_langid",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang AS labeled_lang,
             string_split_regex(trim(text), '\\s+') AS ts
      FROM documents
    ), scores AS (
      SELECT doc_id, labeled_lang,
             {_lang_score_sql("en")} AS score_en,
             {_lang_score_sql("es")} AS score_es,
             {_lang_score_sql("fr")} AS score_fr,
             {_lang_score_sql("de")} AS score_de,
             {_lang_score_sql("zh")} AS score_zh
      FROM tok
    )
    SELECT doc_id, labeled_lang, score_en, score_es, score_fr, score_de, score_zh,
           CASE greatest(score_en, score_es, score_fr, score_de, score_zh)
             WHEN score_en THEN 'en' WHEN score_es THEN 'es' WHEN score_fr THEN 'fr'
             WHEN score_de THEN 'de' ELSE 'zh' END AS predicted_lang
    FROM scores
    ORDER BY doc_id
    """,
    doc="Language ID: marker-lexicon hit counts per language, argmax with a "
    "fixed tie-break order (en>es>fr>de>zh). The scoring plumbing of a "
    "fastText-style classifier with the model swapped for a lexicon.",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    scores = {}
    for lang, words in LANG_MARKERS.items():
        arr = F.array([F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(ts, lambda x: F.array_contains(arr, x))).cast("bigint")
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .when(scores["fr"] == best, "fr")
        .when(scores["de"] == best, "de")
        .otherwise("zh")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        pred.alias("predicted_lang"),
    ).orderBy("doc_id")


@register(
    "q_text_fingerprint",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      FROM tok
    )
    SELECT d.doc_id,
           md5(d.text) AS content_md5,
           min({SQL_MD5_LONG.format(x="s.shingle")} % {MOD_P}) AS min_shingle_hash
    FROM documents d JOIN sh s ON s.doc_id = d.doc_id
    GROUP BY d.doc_id, d.text
    ORDER BY d.doc_id
    """,
    doc="Document fingerprinting: exact content md5 + a 1-permutation "
    "MinHash over 3-token shingles (the rolling-window fingerprint family; "
    "full k-permutation signatures in operators/dedup.py).",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    # zipped-slice trigram build (in-row, one array pass); docs under 3
    # tokens keep the legacy behavior of one partial shingle (concat_ws
    # over whatever tokens exist — what the index walk produced via
    # null-skipping concat_ws)
    n_sh = F.size(ts) - 2
    zip3 = F.zip_with(
        F.zip_with(
            F.slice(ts, 1, n_sh), F.slice(ts, 2, n_sh), lambda a, b: F.concat(a, F.lit(" "), b)
        ),
        F.slice(ts, 3, n_sh),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    shingles = F.when(F.size(ts) >= 3, zip3).otherwise(F.array(F.concat_ws(" ", ts)))
    sh = d.select("doc_id", F.md5("text").alias("content_md5"), F.explode(shingles).alias("shingle"))
    return (
        sh.groupBy("doc_id", "content_md5")
        .agg(F.min(md5_long(F.col("shingle")) % MOD_P).alias("min_shingle_hash"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# PII scrubbing. The synthetic corpus contains no PII, so a deterministic
# injection step (pure function of doc_id, identical in both engines) seeds
# emails/phones/IPs first; the operator under test is the regex scrub+count
# that follows. Patterns avoid lookarounds so Java regex (Spark) and RE2
# (DuckDB) agree.

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

_SQL_PII_TEXT = (
    "text || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.com or ops@ex.org' WHEN doc_id % 3 = 1 THEN ' contact user'"
    " || CAST(doc_id AS VARCHAR) || '@mail.com' ELSE '' END"
    " || CASE WHEN doc_id % 2 = 0 THEN ' call 555-867-5309' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.7' ELSE '' END"
)


def _spark_pii_text() -> Column:
    did = F.col("doc_id")
    email = (
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@mail.com or ops@ex.org")),
        )
        .when(did % 3 == 1, F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@mail.com")))
        .otherwise("")
    )
    phone = F.when(did % 2 == 0, " call 555-867-5309").otherwise("")
    ip = F.when(
        did % 5 == 0,
        F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7")),
    ).otherwise("")
    return F.concat(F.col("text"), email, phone, ip)


@register(
    "q_text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents
    ),
    freq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_corpus FROM freq)
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(CAST(SUM(CAST(freq.cnt AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(*) AS mean_corpus_freq,
           -(CAST(CAST(SUM(CAST(ln(CAST(freq.cnt AS DOUBLE) / CAST(tot.n_corpus AS DOUBLE))
                           AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(*)) AS mean_neg_logprob
    FROM tok JOIN freq ON freq.t = tok.t CROSS JOIN tot
    GROUP BY tok.doc_id
    ORDER BY tok.doc_id
    """,
    doc="Unigram-LM scoring (the CCNet-style LM quality signal with the "
    "model reduced to corpus unigram frequencies): per document, the mean "
    "negative log-probability of its tokens under the corpus distribution — "
    "low = boilerplate-common, high = rare/garbled. Two shuffles (token "
    "frequency, then score per doc); the frequency table joins back on the "
    "token key, so a 100 TB corpus never broadcasts its vocabulary. Log "
    "values are decimal-summed per doc, making the float aggregation "
    "order-independent across engines.",
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = freq.agg(F.sum("cnt").cast("bigint").alias("n_corpus"))
    lp = F.log(F.col("cnt").cast("double") / F.col("n_corpus").cast("double"))
    return (
        tok.join(freq, "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (
                dec_to_double(F.sum(F.col("cnt").cast("decimal(25,6)")))
                / F.count(F.lit(1))
            ).alias("mean_corpus_freq"),
            (
                -(
                    dec_to_double(F.sum(lp.cast("decimal(25,6)")))
                    / F.count(F.lit(1))
                )
            ).alias("mean_neg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_pack_sequences",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
               AS cum_tokens
      FROM tok
    )
    SELECT doc_id, source, n_tokens, cum_tokens,
           CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS seq_bin,
           source || '#' || CAST(CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS VARCHAR)
             AS seq_id
    FROM cum
    ORDER BY doc_id
    """,
    doc="Sequence packing: greedy assignment of documents into ~2048-token "
    "training sequences by cumulative token offset, packed independently "
    "per source shard (window partitioned by source — never a global sort, "
    "so a 100 TB corpus packs with one shuffle on the shard key; the "
    "single-sequence spill at each shard boundary is the standard "
    "approximation). Deterministic: offsets are integer sums ordered by "
    "the unique doc_id.",
)
def q_text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text")).cast("bigint")
    w = W.partitionBy("source").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    seq_bin = F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(2048))
    return (
        d.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("cum_tokens", cum)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "cum_tokens",
            seq_bin.alias("seq_bin"),
            F.concat(F.col("source"), F.lit("#"), seq_bin.cast("string")).alias("seq_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_pii_scrub",
    oracle=f"""
    WITH seeded AS (SELECT doc_id, {_SQL_PII_TEXT} AS pii_text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{IP_RE}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(pii_text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(pii_text,
               '{EMAIL_RE}', '<EMAIL>', 'g'), '{IP_RE}', '<IP>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM seeded
    ORDER BY doc_id
    """,
    doc="PII redaction: regex scrub of emails / IPv4s / phone numbers with "
    "per-category counts (the C4-style cleaning pass). Pure Catalyst "
    "regexp_count/regexp_replace — JVM-side, zero shuffle, linear at 100 TB. "
    "PII is seeded deterministically from doc_id (the corpus has none), "
    "identically in both engines, so the gate checks the scrub itself.",
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pii = _spark_pii_text()
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(pii, EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"),
        PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(pii, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(pii, F.lit(IP_RE)).cast("bigint").alias("n_ips"),
        F.regexp_count(pii, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        scrubbed.alias("scrubbed"),
    ).orderBy("doc_id")


@register(
    "q_text_gopher_quality",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), feat AS (
      SELECT doc_id,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
               / len(ts) AS mean_word_len,
             CAST(len(list_filter(ts, x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
               / len(ts) AS frac_alpha_words,
             CAST(len(list_filter(ts, x -> x IN ('the','a','and','of','value','fast'))) AS BIGINT)
               AS n_stopword_hits,
             CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS type_token_ratio
      FROM tok
    )
    SELECT doc_id, n_tokens, mean_word_len, frac_alpha_words, n_stopword_hits,
           type_token_ratio,
           CAST(CASE WHEN n_tokens BETWEEN 15 AND 500
                      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      AND frac_alpha_words >= 0.8
                      AND n_stopword_hits >= 2
                      AND type_token_ratio >= 0.2
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM feat
    ORDER BY doc_id
    """,
    doc="Gopher-style quality rules (Rae et al. 2021 §A1.1): token-count "
    "bounds, mean word length 3-10, alphabetic-word fraction >= 0.8, "
    "minimum stopword hits, lexical-diversity floor — each a per-row "
    "Catalyst expression, combined into a keep flag. No shuffle; the "
    "document-filter stage of a 100 TB curation run.",
)
def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    n_tokens = F.size(ts).cast("bigint")
    n_chars = F.aggregate(F.transform(ts, lambda t: F.length(t)), F.lit(0), lambda a, v: a + v)
    mean_word_len = n_chars.cast("double") / F.size(ts)
    frac_alpha = F.size(F.filter(ts, lambda x: x.rlike("^[a-z]+$"))).cast("double") / F.size(ts)
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(ts, lambda x: F.array_contains(stop, x))).cast("bigint")
    ttr = F.size(F.array_distinct(ts)).cast("double") / F.size(ts)
    keep = (
        F.when(
            n_tokens.between(15, 500)
            & (mean_word_len >= 3.0)
            & (mean_word_len <= 10.0)
            & (frac_alpha >= 0.8)
            & (n_stop >= 2)
            & (ttr >= 0.2),
            1,
        )
        .otherwise(0)
        .cast("bigint")
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        n_stop.alias("n_stopword_hits"),
        ttr.alias("type_token_ratio"),
        keep.alias("keep"),
    ).orderBy("doc_id")


@register(
    "q_text_repetition",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), base AS (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(ts)) AS BIGINT) AS n_unique
      FROM tok
    ), uni AS (
      SELECT doc_id, MAX(cnt) AS top_token_count FROM (
        SELECT doc_id, t, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(ts) AS t FROM tok) GROUP BY doc_id, t
      ) GROUP BY doc_id
    ), bg AS (
      SELECT doc_id, MAX(cnt) AS top_bigram_count FROM (
        SELECT doc_id, b, COUNT(*) AS cnt
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS b
              FROM tok) GROUP BY doc_id, b
      ) GROUP BY doc_id
    )
    SELECT base.doc_id, n_tokens, n_unique,
           1.0 - CAST(n_unique AS DOUBLE) / n_tokens AS dup_token_frac,
           CAST(uni.top_token_count AS BIGINT) AS top_token_count,
           CAST(uni.top_token_count AS DOUBLE) / n_tokens AS top_token_frac,
           CAST(COALESCE(bg.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
           CAST(COALESCE(bg.top_bigram_count, 0) AS DOUBLE)
             / greatest(n_tokens - 1, 1) AS top_bigram_frac
    FROM base JOIN uni USING (doc_id) LEFT JOIN bg USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Repetition metrics (Gopher §A1.1 dup-fraction family): duplicate-"
    "token fraction, most-frequent-unigram and -bigram share per document. "
    "Per-doc mode needs a count-per-term: explode -> two-level groupBy keyed "
    "on (doc_id, term) -> max. Shuffles partition by doc_id+term, so a 100 TB "
    "corpus spreads evenly; no driver-side state.",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    bigr = F.when(
        F.size(ts) >= 2,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select(
        "doc_id",
        F.size(ts).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ts)).cast("bigint").alias("n_unique"),
    )
    uni = (
        d.select("doc_id", F.explode(ts).alias("t"))
        .groupBy("doc_id", "t")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_token_count"))
    )
    bg = (
        d.select("doc_id", F.explode(bigr).alias("b"))
        .groupBy("doc_id", "b")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bigram_count"))
    )
    joined = base.join(uni, "doc_id").join(bg, "doc_id", "left")
    top_big = F.coalesce(F.col("top_bigram_count"), F.lit(0))
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_unique",
        (F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
        F.col("top_token_count").cast("bigint").alias("top_token_count"),
        (F.col("top_token_count").cast("double") / F.col("n_tokens")).alias("top_token_frac"),
        top_big.cast("bigint").alias("top_bigram_count"),
        (top_big.cast("double") / F.greatest(F.col("n_tokens") - 1, F.lit(1))).alias(
            "top_bigram_frac"
        ),
    ).orderBy("doc_id")


@register(
    "q_text_length_band_filter",
    oracle="""
    WITH tok AS (
      SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    band AS (
      SELECT quantile_cont(n_tokens, 0.05) AS lo, quantile_cont(n_tokens, 0.95) AS hi
      FROM tok
    )
    SELECT doc_id, n_tokens, band.lo AS band_lo, band.hi AS band_hi
    FROM tok CROSS JOIN band
    WHERE n_tokens >= band.lo AND n_tokens <= band.hi
    ORDER BY doc_id
    """,
    doc="Length-band outlier trimming: keep documents whose token count "
    "falls inside the corpus P5-P95 band (the standard too-short/too-long "
    "cut computed from the data, not a fixed constant). Exact percentiles "
    "(Spark percentile() == DuckDB quantile_cont bitwise) so the gate can "
    "hash-match; exact percentile funnels the value column into one "
    "aggregator, so at 100 TB swap in approx_percentile (partial-mergeable "
    "sketch, same call site) — the band values shift by the sketch error, "
    "the plan shape is identical. The 2-value band broadcasts back over "
    "the corpus — one pass, no sort of the big side.",
)
def q_text_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    band = tok.agg(
        F.expr("percentile(n_tokens, 0.05)").alias("band_lo"),
        F.expr("percentile(n_tokens, 0.95)").alias("band_hi"),
    )
    return (
        tok.crossJoin(F.broadcast(band))
        .filter(
            (F.col("n_tokens") >= F.col("band_lo")) & (F.col("n_tokens") <= F.col("band_hi"))
        )
        .select("doc_id", "n_tokens", "band_lo", "band_hi")
        .orderBy("doc_id")
    )


@register(
    "q_text_top_bigrams",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bigram
      FROM tok
    )
    SELECT bigram, COUNT(*) AS n_occurrences
    FROM bg GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 20
    """,
    doc="Corpus collocations: global top-20 bigrams by occurrence count — "
    "the n-gram statistics pass of corpus analysis. One shuffle on the "
    "bigram key with map-side partial counts, then a global top-k that "
    "compiles to TakeOrderedAndProject (never a full sort). Deterministic "
    "tie-break on the bigram itself.",
)
def q_text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = tokens("text")
    bigr = F.when(
        F.size(ts) >= 2,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigr).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(20)
    )


WINNOW_W = 4  # winnowing window width (hashes per selection window)

# Shared CTE chain producing wfp(doc_id, sel) — each document's DISTINCT
# winnowing-selected fingerprints. Used by the per-doc fingerprint query
# below and by the cross-doc overlap dedup (operators/dedup.py), so the
# two oracles can never drift apart.
SQL_WINNOW_FP = f"""
    wtok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ), wsh AS (
      SELECT doc_id, unnest(
        CASE WHEN len(ts) >= 3
          THEN list_transform(range(1, len(ts) - 1),
                 i -> struct_pack(pos := i, sh := ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
          ELSE [struct_pack(pos := 1, sh := array_to_string(ts, ' '))]
        END) AS u
      FROM wtok
    ), whashed AS (
      SELECT doc_id, u.pos AS pos,
             {SQL_MD5_LONG.format(x="u.sh")} % {MOD_P} AS h
      FROM wsh
    ), wwin AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS sel,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
      FROM whashed
    ), wfp AS (
      SELECT DISTINCT doc_id, sel FROM wwin
      WHERE pos + {WINNOW_W - 1} <= n_sh OR (n_sh < {WINNOW_W} AND pos = 1)
    )
"""


def winnow_fp_array() -> Column:
    """Per-document DISTINCT winnowing fingerprint set as an in-row array
    expression over ``text`` (Spark twin of SQL_WINNOW_FP).

    Winnowing is purely document-local, so the whole selection runs inside
    the row: shingle hashes, then a rolling width-W minimum built by
    zipping W shifted slices with ``least`` (the same zipped-slice idiom as
    the shingle build — no per-index array walk), then array_distinct.
    ZERO shuffle — the window-function formulation this replaced shuffled
    every shingle hash on doc_id first, which at 100 TB is the difference
    between a map-only pass and shuffling ~n_tokens rows."""
    ts = tokens("text")
    n_sh = F.size(ts) - 2
    zip3 = F.zip_with(
        F.zip_with(
            F.slice(ts, 1, n_sh), F.slice(ts, 2, n_sh), lambda a, b: F.concat(a, F.lit(" "), b)
        ),
        F.slice(ts, 3, n_sh),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    shingles = F.when(F.size(ts) >= 3, zip3).otherwise(F.array(F.concat_ws(" ", ts)))
    hashes = F.transform(shingles, lambda s: md5_long(s) % MOD_P)
    n_win = F.size(hashes) - (WINNOW_W - 1)
    acc = F.slice(hashes, 1, n_win)
    for j in range(2, WINNOW_W + 1):
        acc = F.zip_with(acc, F.slice(hashes, j, n_win), lambda a, b: F.least(a, b))
    sels = F.when(F.size(hashes) >= WINNOW_W, acc).otherwise(
        F.array(F.array_min(hashes))
    )
    return F.array_distinct(sels)


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, sel) — one row per distinct winnowing fingerprint per doc."""
    return d.select("doc_id", F.explode(winnow_fp_array()).alias("sel"))


@register(
    "q_text_winnow_fingerprint",
    oracle=f"""
    WITH {SQL_WINNOW_FP}
    SELECT doc_id,
           COUNT(*) AS n_fingerprints,
           CAST(SUM(sel) AS BIGINT) AS fp_checksum,
           CAST(MIN(sel) AS BIGINT) AS min_fingerprint
    FROM wfp
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Winnowing fingerprints (Schleimer et al. 2003, the MOSS local "
    "fingerprinting scheme): hash every 3-token shingle, slide a width-4 "
    "window over the hash sequence, select each window's minimum — the "
    "guaranteed-hit fingerprint set for substring matching, denser than one "
    "global MinHash but far sparser than all shingles. Selection is "
    "document-local, so the whole build runs IN-ROW (rolling min via "
    "zipped shifted slices) — a shuffle-free map at any scale; the only "
    "exchange is the small-file spread() guard.",
)
def q_text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    # spread(): the in-row fingerprint build is CPU-heavy per row; a small
    # single-file scan would run it on one core (no-op at real scale)
    d = spread(load_table(spark, sf_dir, "documents"))
    fp = winnow_fp_array()
    # the per-doc rollup stays in-row too: count/sum/min over the distinct
    # fingerprint array — the whole query is a shuffle-free map + sort
    return d.select(
        "doc_id",
        F.size(fp).cast("bigint").alias("n_fingerprints"),
        F.aggregate(fp, F.lit(0).cast("bigint"), lambda a, v: a + v).alias("fp_checksum"),
        F.array_min(fp).cast("bigint").alias("min_fingerprint"),
    ).orderBy("doc_id")


VOCAB_SIZE = 100  # top-V tokens by corpus frequency


@register(
    "q_text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS t
      FROM documents
    ), freq AS (
      SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
    ), vocab AS (
      SELECT t FROM freq ORDER BY cnt DESC, t LIMIT {VOCAB_SIZE}
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE v.t IS NULL) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE v.t IS NULL) AS DOUBLE) / COUNT(*) AS oov_rate
    FROM tok LEFT JOIN vocab v ON v.t = tok.t
    GROUP BY source
    ORDER BY source
    """,
    doc="Tokenizer-vocabulary coverage: build the top-100 corpus vocabulary "
    "by token frequency (deterministic tie-break on the token), then per "
    "source shard the fraction of token occurrences falling outside it — "
    "the OOV-rate audit run before committing to a tokenizer vocab. The "
    "vocabulary is a top-k (TakeOrderedAndProject over the frequency table, "
    "never a full sort) and broadcasts back over the corpus, so the big "
    "side streams through one shuffle on the token key and one map-side "
    "join at any scale.",
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens("text")).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        freq.orderBy(F.desc("cnt"), "t")
        .limit(VOCAB_SIZE)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    n_oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            n_oov.alias("n_oov"),
            (n_oov.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
        )
        .orderBy("source")
    )


@register(
    "q_text_bigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
             unnest(list_transform(range(1, len(ts)), i -> ts[i+1])) AS w2
      FROM tok
    ),
    bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(SUM(cnt_b) AS BIGINT) AS cnt_ctx FROM bgc GROUP BY w1),
    uni AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt_u
      FROM (SELECT unnest(ts) AS t FROM tok) GROUP BY t
    ),
    tot AS (SELECT CAST(SUM(cnt_u) AS BIGINT) AS n_corpus FROM uni)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           -(CAST(CAST(SUM(CAST(ln(
                 0.75 * (CAST(bgc.cnt_b AS DOUBLE) / CAST(ctx.cnt_ctx AS DOUBLE))
               + 0.25 * (CAST(uni.cnt_u AS DOUBLE) / CAST(tot.n_corpus AS DOUBLE))
             ) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(*)) AS mean_neg_logprob
    FROM bg
    JOIN bgc ON bgc.w1 = bg.w1 AND bgc.w2 = bg.w2
    JOIN ctx ON ctx.w1 = bg.w1
    JOIN uni ON uni.t = bg.w2
    CROSS JOIN tot
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
    doc="Interpolated bigram-LM scoring (Jelinek-Mercer, lambda=0.75): per "
    "document, the mean negative log-probability of its bigrams under "
    "p(w2|w1) = 0.75*c(w1w2)/c(w1·) + 0.25*c(w2)/N — the next step up from "
    "the unigram signal, sensitive to scrambled word order that unigram "
    "scoring cannot see. Bigrams come from the token array in one in-row "
    "expansion (no window, no position sort); the three count tables join "
    "back on token keys, so the vocabulary is never broadcast or "
    "collected — a 100 TB corpus shuffles on (w1,w2)/w1/w2 only. Log "
    "values are decimal-summed per doc: aggregation order cannot change "
    "the result, and sub-1e-6 libm ulp differences between engines round "
    "away.",
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shape note (measured 12.8s → ~1s at sf0.1): the naive plan joins the
    # per-OCCURRENCE bigram stream against three count tables, re-exploding
    # the corpus for each consumer. Instead: (1) reduce occurrences to
    # per-doc distinct-bigram counts once, (2) assemble all model stats on
    # the compact distinct-bigram key space, (3) one join back, multiplying
    # each bigram's decimal log-prob by its in-doc count — decimal×int is
    # exact repeated addition, so this equals the oracle's per-occurrence
    # sum bit-for-bit.
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    ts = tokens("text")
    # zip_with over two shifted slices builds the bigram list in-row (no
    # shuffle, no per-index element_at — measured 4x faster than the
    # sequence+transform form, which re-walks the array per element)
    pairs = F.when(
        F.size(ts) >= 2,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    from ..plans.queries import scoped_cache

    # cached (round-13, measured): docbg feeds the whole model-stat chain
    # (bgc -> ctx) AND the final per-doc join — without the cache the
    # bigram explode + (doc, w1, w2) aggregation ran twice (the span_dedup
    # finding: when the duplicated subtree is the heavy generation itself,
    # the cache wins even on idle cores)
    docbg = scoped_cache(
        d.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_in_doc"))
    )
    bgc = docbg.groupBy("w1", "w2").agg(F.sum("n_in_doc").cast("bigint").alias("cnt_b"))
    ctx = bgc.groupBy("w1").agg(F.sum("cnt_b").cast("bigint").alias("cnt_ctx"))
    uni = (
        d.select(F.explode(ts).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_u"))
    )
    tot = uni.agg(F.sum("cnt_u").cast("bigint").alias("n_corpus"))
    p = (
        0.75 * (F.col("cnt_b").cast("double") / F.col("cnt_ctx").cast("double"))
        + 0.25 * (F.col("cnt_u").cast("double") / F.col("n_corpus").cast("double"))
    )
    stats = (
        bgc.join(ctx, "w1")
        .join(uni, bgc.w2 == uni.t)
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", F.log(p).cast("decimal(25,6)").alias("logp"))
    )
    return (
        docbg.join(stats, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n_in_doc").cast("bigint").alias("n_bigrams"),
            (
                -(
                    dec_to_double(F.sum(F.col("logp") * F.col("n_in_doc")))
                    / F.sum("n_in_doc")
                )
            ).alias("mean_neg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents
    ),
    cnts AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY doc_id, t),
    tot AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_unique
            FROM cnts GROUP BY doc_id)
    SELECT c.doc_id, MIN(t.n) AS n_tokens, MIN(t.n_unique) AS n_unique,
           CAST(CAST(-SUM(CAST((CAST(cnt AS DOUBLE) / t.n) * ln(CAST(cnt AS DOUBLE) / t.n)
                          AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS token_entropy
    FROM cnts c JOIN tot t ON t.doc_id = c.doc_id
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
    doc="Token-distribution entropy per document (Shannon, natural log) — "
    "the gibberish/boilerplate signal between type-token ratio (structure-"
    "blind) and LM scoring (needs corpus stats): near-zero for one token "
    "repeated, ln(n) for all-distinct. Per-(doc, token) counts shuffle on "
    "the composite key; each entropy term is a deterministic double op "
    "and terms are decimal-summed, so aggregation order cannot move the "
    "result. Self-contained per doc — no corpus table, linear at 100 TB.",
)
def q_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cnts = (
        d.select("doc_id", F.explode(tokens("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = cnts.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
    )
    p = F.col("cnt").cast("double") / F.col("n")
    term = (p * F.log(p)).cast("decimal(25,6)")
    return (
        cnts.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.min("n").alias("n_tokens"),
            F.min("n_unique").alias("n_unique"),
            dec_to_double(-F.sum(term)).alias("token_entropy"),
        )
        .orderBy("doc_id")
    )


# GPT-2-style pretokenizer (contractions | space-word | space-number |
# space-punct-run | whitespace-run) restricted to the regex subset Java
# (Spark) and RE2 (DuckDB) evaluate identically — no lookarounds.
BPE_SPLIT = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"

# the corpus is plain lowercase words; seed punctuation/numbers/contractions
# deterministically from doc_id (same discipline as the PII seeding) so the
# pretokenizer has real work to do, identically in both engines
_SQL_BPE_TEXT = (
    "text || ' v' || CAST(doc_id % 9 AS VARCHAR) || '.' || CAST(doc_id % 7 AS VARCHAR)"
    " || ', #tag-' || CAST(doc_id % 100 AS VARCHAR) || '! it''s fine'"
)


def _spark_bpe_text() -> Column:
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" v"), (did % 9).cast("string"), F.lit("."), (did % 7).cast("string"),
        F.lit(", #tag-"), (did % 100).cast("string"), F.lit("! it's fine"),
    )


@register(
    "q_text_bpe_token_count",
    oracle=f"""
    WITH seeded AS (SELECT doc_id, {_SQL_BPE_TEXT} AS btext FROM documents)
    SELECT doc_id,
           CAST(len(string_split_regex(trim(btext), '\\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(btext, '{BPE_SPLIT.replace("'", "''")}')) AS BIGINT)
             AS n_bpe_pieces,
           CAST(len(regexp_extract_all(btext, '{BPE_SPLIT.replace("'", "''")}')) AS DOUBLE)
             / len(string_split_regex(trim(btext), '\\s+')) AS pieces_per_word
    FROM seeded
    ORDER BY doc_id
    """,
    doc="BPE-ish token counting: the GPT-2 pretokenizer regex (contraction "
    "/ word / number / punctuation-run / whitespace-run alternation, "
    "restricted to the Java-RE2-identical subset) counted per document "
    "alongside the whitespace count — pieces-per-word is the standard "
    "tokenizer-cost estimator run before committing a corpus to training. "
    "Punctuation and contractions are seeded deterministically (the "
    "fixture is plain words). Pure regexp_count, JVM-side, zero shuffle.",
)
def q_text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    btext = _spark_bpe_text()
    n_ws = F.size(F.split(F.trim(btext), TOKEN_SPLIT)).cast("bigint")
    n_bpe = F.regexp_count(btext, F.lit(BPE_SPLIT)).cast("bigint")
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_pieces"),
        (n_bpe.cast("double") / n_ws).alias("pieces_per_word"),
    ).orderBy("doc_id")


@register(
    "q_text_concat_packed",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, text,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, source, text, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
               AS cum_tokens
      FROM tok
    ), assigned AS (
      SELECT source || '#' || CAST(CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS VARCHAR)
               AS seq_id,
             doc_id, text, n_tokens
      FROM cum
    )
    SELECT seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           md5(string_agg(text, ' <eos> ' ORDER BY doc_id)) AS seq_md5
    FROM assigned
    GROUP BY seq_id
    ORDER BY seq_id
    """,
    doc="Packed-sequence materialization: documents concatenated into their "
    "~2048-token training sequences (same per-shard assignment as "
    "q_text_pack_sequences) with an <eos> separator, emitted as an md5 "
    "per sequence so the gate verifies the exact concatenation without "
    "shipping megabyte rows. Order inside a sequence is pinned by doc_id "
    "(sort_array over (doc_id, text) structs ⇔ string_agg ORDER BY), so "
    "both engines build byte-identical sequences. One shuffle on the "
    "shard key — the final tokenize-and-pack write of a 100 TB corpus.",
)
def q_text_concat_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text")).cast("bigint")
    w = W.partitionBy("source").orderBy("doc_id")
    assigned = (
        d.select("doc_id", "source", "text", n_tokens.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            F.concat(
                F.col("source"),
                F.lit("#"),
                F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(2048)).cast("string"),
            ).alias("seq_id"),
            "doc_id",
            "text",
            "n_tokens",
        )
    )
    ordered_concat = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("doc_id", "text"))),
            lambda x: x["text"],
        ),
        " <eos> ",
    )
    return (
        assigned.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
            F.md5(ordered_concat).alias("seq_md5"),
        )
        .orderBy("seq_id")
    )


# Seeded HTML wrapper: the fixture corpus is plain text, so each document is
# deterministically wrapped in markup (variant chosen by doc_id, identical
# in both engines) and the operator under test is the strip that follows.
_SQL_HTML_TEXT = (
    "'<html><body>' ||"
    " CASE WHEN doc_id % 3 = 0 THEN '<nav>home &amp; about</nav>' ELSE '' END"
    " || '<p>' || text || '</p>'"
    " || CASE WHEN doc_id % 2 = 0 THEN '<div class=\"ad\">buy now!!</div>' ELSE '' END"
    " || '<br/></body></html>'"
)

TAG_RE = r"<[^>]+>"
AD_RE = r"<div class=\"ad\">[^<]*</div>"
NAV_RE = r"<nav>[^<]*</nav>"


def _spark_html_text() -> Column:
    did = F.col("doc_id")
    nav = F.when(did % 3 == 0, "<nav>home &amp; about</nav>").otherwise("")
    ad = F.when(did % 2 == 0, '<div class="ad">buy now!!</div>').otherwise("")
    return F.concat(
        F.lit("<html><body>"), nav, F.lit("<p>"), F.col("text"), F.lit("</p>"), ad,
        F.lit("<br/></body></html>"),
    )


@register(
    "q_text_html_strip",
    oracle=f"""
    WITH seeded AS (SELECT doc_id, {_SQL_HTML_TEXT} AS html FROM documents),
    stripped AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(html, '{TAG_RE}')) AS BIGINT) AS n_tags,
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 html, '{AD_RE.replace("'", "''")}', ' ', 'g'),
                 '{NAV_RE}', ' ', 'g'),
                 '{TAG_RE}', ' ', 'g'),
                 '\\s+', ' ', 'g')) AS no_tags
      FROM seeded
    )
    SELECT doc_id, n_tags,
           replace(no_tags, '&amp;', '&') AS cleaned,
           CAST(length(replace(no_tags, '&amp;', '&')) AS BIGINT) AS n_clean_chars
    FROM stripped
    ORDER BY doc_id
    """,
    doc="HTML boilerplate stripping (the C4 extraction step): remove ad/nav "
    "boilerplate blocks, strip remaining tags, collapse whitespace, decode "
    "entities, and count what was removed — markup is seeded "
    "deterministically (the corpus is plain text) so the gate checks the "
    "strip itself. Pure chained regexp_replace in the regex subset Java "
    "and RE2 evaluate identically — JVM-side, zero shuffle, linear.",
)
def q_text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    html = _spark_html_text()
    no_tags = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.regexp_replace(html, AD_RE, " "), NAV_RE, " "),
                TAG_RE,
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    cleaned = F.replace(no_tags, F.lit("&amp;"), F.lit("&"))
    return d.select(
        "doc_id",
        F.regexp_count(html, F.lit(TAG_RE)).cast("bigint").alias("n_tags"),
        cleaned.alias("cleaned"),
        F.length(cleaned).cast("bigint").alias("n_clean_chars"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# RAG-style overlapping chunking: fixed-size token windows with stride
# (context windows that overlap so no semantic boundary is lost at a cut —
# the retrieval-corpus preprocessing twin of the NON-overlapping packer in
# q_dedup_passage / q_text_pack_sequences).

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@register(
    "q_text_chunk_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    st AS (
      SELECT doc_id, ts, len(ts) AS n,
             unnest(range(1, greatest(len(ts), 1) + 1, {CHUNK_STRIDE})) AS s
      FROM tok
    )
    SELECT doc_id,
           CAST((s - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_token,
           CAST(len(list_slice(ts, s, s + {CHUNK_TOKENS} - 1)) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(ts, s, s + {CHUNK_TOKENS} - 1), ' ')) AS chunk_md5
    FROM st
    ORDER BY doc_id, chunk_idx
    """,
    doc=f"Overlapping chunker for retrieval corpora: {CHUNK_TOKENS}-token "
    f"windows every {CHUNK_STRIDE} tokens ({CHUNK_TOKENS - CHUNK_STRIDE}-"
    "token overlap), the RAG preprocessing step that keeps facts spanning "
    "a cut retrievable from at least one chunk. Pure in-row Catalyst "
    "(sequence → posexplode → slice → md5): zero shuffles at any corpus "
    "size, chunk identity pinned by the md5 of the joined window so the "
    "oracle verifies exact token boundaries, not just counts. Chunks then "
    "feed the embedding/ANN operators the same way documents do.",
)
def q_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", tokens("text").alias("ts"))
    st = tok.select(
        "doc_id",
        "ts",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("ts"), F.lit(1)), F.lit(CHUNK_STRIDE)
            )
        ).alias("s"),
    )
    sl = F.slice(F.col("ts"), F.col("s"), CHUNK_TOKENS)
    return (
        st.select(
            "doc_id",
            ((F.col("s") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
            F.col("s").cast("bigint").alias("start_token"),
            F.size(sl).cast("bigint").alias("n_tokens"),
            F.md5(F.concat_ws(" ", sl)).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


BOILERPLATE_PREFIX_TOKENS = 8


@register(
    "q_text_boilerplate_strip",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             string_split_regex(trim(text), '\\s+') AS ts
      FROM documents
    ),
    pre AS (
      SELECT doc_id, source,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             array_to_string(ts[1:{BOILERPLATE_PREFIX_TOKENS}], ' ') AS prefix
      FROM tok
    ),
    bp AS (
      SELECT source, prefix
      FROM pre GROUP BY source, prefix
      HAVING COUNT(*) >= GREATEST(2, CAST(FLOOR(0.01 * (
               SELECT COUNT(*) FROM documents d2 WHERE d2.source = pre.source
             )) AS BIGINT))
    )
    SELECT p.doc_id, p.source, p.n_tokens,
           CAST(CASE WHEN bp.prefix IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_boilerplate,
           CAST(CASE WHEN bp.prefix IS NOT NULL
                THEN GREATEST(p.n_tokens - {BOILERPLATE_PREFIX_TOKENS}, 0)
                ELSE p.n_tokens END AS BIGINT) AS n_tokens_kept
    FROM pre p
    LEFT JOIN bp ON bp.source = p.source AND bp.prefix = p.prefix
    ORDER BY p.doc_id
    """,
    doc="Cross-document boilerplate stripping (the C4/RefinedWeb cleanup "
    "the WITHIN-doc q_text_repetition can't do): a leading "
    f"{BOILERPLATE_PREFIX_TOKENS}-token prefix shared by >= max(2, 1% of "
    "the source's docs) docs from the SAME source is template chrome "
    "(nav headers, license banners), not content — flag it and report the "
    "post-strip token count. Two shuffles, both key-domain: one groupBy on "
    "(source, prefix) to find repeated prefixes (output is prefix-distinct, "
    "<= corpus row count, usually tiny), one join-back on the same key. At "
    "100 TB the bp side stays domain-sized (repeated templates per source), "
    "so AQE broadcasts it; per-source doc counts ride the same aggregate — "
    "no window over the corpus, no second scan.",
)
def q_text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    k = BOILERPLATE_PREFIX_TOKENS
    pre = d.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", F.slice(tokens("text"), 1, k)).alias("prefix"),
    )
    # one aggregate yields both the per-(source,prefix) doc count and, via a
    # second grouping on its output (source-domain sized), the per-source
    # total the 1% threshold needs — the corpus is scanned exactly once
    counts = pre.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_prefix")
    )
    per_source = counts.groupBy("source").agg(
        F.sum("n_docs_prefix").cast("bigint").alias("n_docs_source")
    )
    bp = (
        counts.join(per_source, "source")
        .filter(
            F.col("n_docs_prefix")
            >= F.greatest(
                F.lit(2).cast("bigint"),
                F.floor(0.01 * F.col("n_docs_source")).cast("bigint"),
            )
        )
        .select("source", "prefix", F.lit(1).alias("hit"))
    )
    return (
        pre.join(bp, ["source", "prefix"], "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.coalesce(F.col("hit"), F.lit(0)).cast("bigint").alias("is_boilerplate"),
            F.when(
                F.col("hit").isNotNull(),
                F.greatest(F.col("n_tokens") - k, F.lit(0)),
            )
            .otherwise(F.col("n_tokens"))
            .cast("bigint")
            .alias("n_tokens_kept"),
        )
        .orderBy("doc_id")
    )


DECONTAM_GRAM = 8
DECONTAM_BENCH_SOURCE = "src0"  # stand-in eval set: one source's documents


@register(
    "q_text_decontaminate_spans",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ts
      FROM documents
    ),
    px AS (
      SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_tokens, s.p AS p, s.g AS g
      FROM (
        SELECT doc_id, source, ts,
               unnest(list_transform(range(1, greatest(len(ts) - {DECONTAM_GRAM - 2}, 2)),
                      i -> struct_pack(p := i,
                                       g := array_to_string(ts[i:i + {DECONTAM_GRAM - 1}], ' ')))) AS s
        FROM tok
      )
    ),
    bench AS (SELECT DISTINCT g FROM px WHERE source = '{DECONTAM_BENCH_SOURCE}'),
    hits AS (
      SELECT px.doc_id, px.p, px.n_tokens
      FROM px JOIN bench USING (g)
      WHERE px.source <> '{DECONTAM_BENCH_SOURCE}'
    ),
    m AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_shingles
      FROM hits GROUP BY doc_id
    ),
    cov AS (
      SELECT doc_id, CAST(COUNT(DISTINCT idx) AS BIGINT) AS n_covered_tokens
      FROM (
        SELECT doc_id,
               unnest(range(p, least(p + {DECONTAM_GRAM - 1}, n_tokens) + 1)) AS idx
        FROM hits
      ) GROUP BY doc_id
    )
    SELECT t.doc_id, t.source, CAST(len(t.ts) AS BIGINT) AS n_tokens,
           COALESCE(m.n_matched_shingles, 0) AS n_matched_shingles,
           COALESCE(cov.n_covered_tokens, 0) AS n_covered_tokens
    FROM tok t
    LEFT JOIN m ON m.doc_id = t.doc_id
    LEFT JOIN cov ON cov.doc_id = t.doc_id
    WHERE t.source <> '{DECONTAM_BENCH_SOURCE}'
    ORDER BY t.doc_id
    """,
    doc="SPAN-level decontamination audit (the surgical variant of the "
    "doc-level q_text_decontaminate): every corpus document is scanned for "
    f"{DECONTAM_GRAM}-token shingles that appear anywhere in the benchmark "
    f"set (stand-in: source '{DECONTAM_BENCH_SOURCE}'), reporting matched "
    "shingle count and the UNION length of the covered token spans — the "
    "numbers a masking pass (drop the spans, keep the doc) needs, versus "
    "the doc-dropper's binary verdict. Positions ride the shingle structs "
    "so overlapping matches don't double-count coverage. A real benchmark "
    "shingle set is eval-set-sized and AQE broadcasts it at runtime; the "
    "stand-in here (all shingles of one source) grows with the corpus, so "
    "the join carries NO forced broadcast hint — AQE picks broadcast vs "
    "shuffle-hash by measured size. The double explode runs over MATCHED "
    "positions only, which contamination keeps rare by definition.",
)
def q_text_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    k = DECONTAM_GRAM
    ts = tokens("text")
    base = d.select(
        "doc_id", "source", F.size(ts).cast("bigint").alias("n_tokens"), ts.alias("ts")
    )
    px = scoped_cache(
        base.select(
            "doc_id",
            "source",
            "n_tokens",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size(ts) - {k - 1}, 1)), "
                    f"i -> struct(i AS p, concat_ws(' ', slice(ts, i, {k})) AS g))"
                )
            ).alias("s"),
        ).select(
            "doc_id", "source", "n_tokens",
            F.col("s.p").cast("bigint").alias("p"), F.col("s.g").alias("g"),
        )
    )
    bench = (
        px.filter(F.col("source") == DECONTAM_BENCH_SOURCE).select("g").distinct()
    )
    # No forced broadcast hint: the stand-in bench "set" here is every
    # distinct shingle of one SOURCE, which grows with the corpus — a
    # mandatory broadcast would hit the 8 GB broadcast cap / driver OOM at
    # high SF. AQE sizes the join at runtime instead: a genuinely
    # eval-set-sized bench side still broadcasts (it's under the adaptive
    # threshold), an outsized one falls back to a shuffle hash join.
    hits = (
        px.filter(F.col("source") != DECONTAM_BENCH_SOURCE)
        .join(bench, "g")
        .select("doc_id", "p", "n_tokens")
    )
    m = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched_shingles")
    )
    cov = (
        hits.select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(p, least(p + {k - 1}, n_tokens))")
            ).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("idx").cast("bigint").alias("n_covered_tokens"))
    )
    return (
        base.filter(F.col("source") != DECONTAM_BENCH_SOURCE)
        .select("doc_id", "source", "n_tokens")
        .join(m, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.coalesce("n_matched_shingles", F.lit(0)).cast("bigint").alias(
                "n_matched_shingles"
            ),
            F.coalesce("n_covered_tokens", F.lit(0)).cast("bigint").alias(
                "n_covered_tokens"
            ),
        )
        .orderBy("doc_id")
    )


# --- corpus frequency spectrum / hapax profile -----------------------------
#
# The Zipf-law diagnostic without the global rank sort: instead of ranking
# the vocabulary (a vocabulary-wide total order — exactly the partition-less
# window the registry-wide plan sweep bans), bucket every type by
# floor(log2(frequency)) — the frequency SPECTRUM. On a healthy natural
# corpus the log2-band type counts fall near-geometrically (Zipf alpha~1);
# boilerplate-heavy or template-generated corpora show a hollowed-out
# singleton band. The hapax share (band 0: types occurring once) is the
# classic corpus-health number data curation reports track. Everything is
# exact integers via the house floor-log2 idiom (length(bin(f)) - 1), and
# the whole operator is two groupBy chains — token frequency (shuffle on
# the token key) then a ~40-row band rollup. At 100 TB: one vocab-sized
# exchange, no sort, no window, no collect.

ZIPF_PROFILE_ORACLE = """
    WITH doc AS (
      SELECT string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    uni AS (
      SELECT 1 AS gram, t FROM (SELECT unnest(ts) AS t FROM doc)
      WHERE length(t) > 0
    ),
    bi AS (
      SELECT 2 AS gram,
             unnest(list_transform(range(1, len(ts)),
                                   i -> ts[i] || ' ' || ts[i+1])) AS t
      FROM doc
    ),
    freq AS MATERIALIZED (
      SELECT gram, t, COUNT(*) AS f
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      GROUP BY gram, t
    ),
    v AS MATERIALIZED (
      SELECT gram, GREATEST(COUNT(*), 1) AS n FROM freq GROUP BY gram
    )
    SELECT freq.gram AS gram,
           length(bin(f)) - 1 AS band,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(f) AS BIGINT) AS total_occurrences,
           CAST(MIN(f) AS BIGINT) AS min_freq,
           CAST(MAX(f) AS BIGINT) AS max_freq,
           CAST(COUNT(*) * 1000000 // MIN(v.n) AS BIGINT) AS types_ppm
    FROM freq JOIN v ON v.gram = freq.gram
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@register(
    "q_text_zipf_profile",
    oracle=ZIPF_PROFILE_ORACLE,
    doc="Corpus frequency spectrum: unigram and bigram types bucketed by "
    "floor(log2(frequency)), with the hapax band and exact per-million "
    "vocabulary shares.",
)
def q_text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-spectrum profile of the corpus's unigram AND bigram
    vocabularies: per (gram, log2-frequency band) — n_types,
    total_occurrences, min/max freq, and the band's share of that gram's
    vocabulary in exact per-million integers. Band 0 of each gram is the
    hapax count. Bigrams ride the in-row zip_with shift (the
    bigram-surprisal idiom) — never a positional self-join. Reference
    behavior: none (beyond-reference corpus-stats family)."""
    d = load_table(spark, sf_dir, "documents").select("text")
    ts = tokens("text")
    uni = d.select(F.explode(ts).alias("t")).filter(F.length("t") > 0)
    bi_pairs = F.when(
        F.size(ts) >= 2,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = d.select(F.explode(bi_pairs).alias("t"))
    typed = uni.withColumn("gram", F.lit(1)).unionByName(
        bi.withColumn("gram", F.lit(2))
    )
    freq = typed.groupBy("gram", "t").agg(F.count(F.lit(1)).alias("f"))
    vocab = {
        int(r.gram): int(r.n)
        for r in freq.groupBy("gram").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    v1, v2 = max(vocab.get(1, 0), 1), max(vocab.get(2, 0), 1)
    return (
        freq.select("gram", F.expr("length(bin(f)) - 1").alias("band"), "f")
        .groupBy("gram", "band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("f").cast("bigint").alias("total_occurrences"),
            F.min("f").cast("bigint").alias("min_freq"),
            F.max("f").cast("bigint").alias("max_freq"),
        )
        .withColumn(
            "types_ppm",
            F.expr(
                f"CAST(n_types * 1000000 div "
                f"(CASE WHEN gram = 1 THEN {v1} ELSE {v2} END) AS BIGINT)"
            ),
        )
        .orderBy("gram", "band")
    )
