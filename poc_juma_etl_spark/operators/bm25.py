"""BM25 full-text ranking over the documents table.

The retrieval-scoring half of a data pipeline's search/filter stage: given
query terms, rank documents by Okapi BM25. Classic formulation:

    score(D, Q) = Σ_t IDF(t) · tf(t,D)·(k1+1) / (tf(t,D) + k1·(1 - b + b·|D|/avgdl))
    IDF(t) = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))

Spark shape: one explode to (doc, term, tf), a tiny df(t) aggregate joined
back broadcast, per-row double math, top-k by score. All counts are
integers; the double expression tree is written with an explicitly
parenthesized op order so DuckDB evaluates the identical IEEE sequence —
the whole ranking is oracle-able, ties broken by doc_id.

At 100 TB the (term → df) side is a dictionary aggregate (skew-safe: it's a
map-side-combinable count) and scoring is a broadcast join — no pairwise
anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import dec_to_double, register
from .text import tokens

K1 = 1.2
B = 0.75
QUERY_TERMS = ("table", "scan", "vector")
TOP_N = 25


@register(
    "q_text_bm25_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    doclen AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM tok),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM doclen
    ),
    tf AS (
      SELECT doc_id, t.term, COUNT(*) AS tf
      FROM tok, unnest(ts) AS t(term)
      WHERE t.term IN {QUERY_TERMS!r}
      GROUP BY doc_id, t.term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(CAST(SUM(CAST(
               ln(1.0 + (((CAST(s.n_docs AS DOUBLE) - df.df) + 0.5) / (df.df + 0.5)))
               * ((tf.tf * ({K1} + 1.0))
                  / (tf.tf + ({K1} * ((1.0 - {B}) + ({B} * (dl.dl / s.avgdl))))))
             AS DECIMAL(25,9))) AS STRING) AS DOUBLE) AS score
      FROM tf
      JOIN df ON df.term = tf.term
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {TOP_N}
    """,
    doc=f"Okapi BM25 ranking for query terms {QUERY_TERMS}: explode→tf, "
    "broadcast df(t) + corpus stats, per-row scoring with a pinned IEEE op "
    "order, top-25. Single-term scores are summed per doc — one value per "
    "(doc, term), so the decimal dance is unnecessary: each addend is "
    "computed identically in both engines; the per-doc sum of term scores "
    "goes through a DECIMAL(25,9) cast so addition order cannot matter.",
)
def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens("text").alias("ts"))
    doclen = tok.select("doc_id", F.size("ts").cast("bigint").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = F.array(*[F.lit(t) for t in QUERY_TERMS])
    # dl rides the tf aggregation (constant per doc, max() collapses it):
    # no per-doc length JOIN at all — the r8 fix for the corpus-sized
    # doclen broadcast this query used to force (which OOMs at high SF);
    # carrying one bigint through the existing shuffle beats both a
    # broadcast and a second join.
    tf = (
        tok.select(
            "doc_id",
            F.size("ts").cast("bigint").alias("dl"),
            F.explode(
                F.filter(F.col("ts"), lambda x: F.array_contains(terms, x))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (((F.col("n_docs").cast("double") - F.col("df")) + 0.5) / (F.col("df") + 0.5))
    )
    tf_part = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + (K1 * ((1.0 - B) + (B * (F.col("dl") / F.col("avgdl")))))
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(dec_to_double(F.sum((idf * tf_part).cast("decimal(25,9)"))).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(TOP_N)


@register(
    "q_text_tfidf_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0) AS wt
      FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    ),
    norms AS (
      SELECT doc_id,
             sqrt(CAST(CAST(SUM(CAST(wt * wt AS DECIMAL(25,9))) AS STRING) AS DOUBLE)) AS dnorm
      FROM w GROUP BY doc_id
    ),
    qw AS (
      SELECT df.term, ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0 AS qwt
      FROM df CROSS JOIN n WHERE df.term IN {QUERY_TERMS!r}
    ),
    qnorm AS (SELECT sqrt(CAST(CAST(SUM(CAST(qwt * qwt AS DECIMAL(25,9))) AS STRING) AS DOUBLE)) AS qn FROM qw),
    scored AS (
      SELECT w.doc_id,
             CAST(CAST(SUM(CAST(w.wt * qw.qwt AS DECIMAL(25,9))) AS STRING) AS DOUBLE)
               / (norms.dnorm * qnorm.qn) AS score
      FROM w JOIN qw ON qw.term = w.term
      JOIN norms ON norms.doc_id = w.doc_id
      CROSS JOIN qnorm
      GROUP BY w.doc_id, norms.dnorm, qnorm.qn
    )
    SELECT doc_id, score FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {TOP_N}
    """,
    doc=f"TF-IDF cosine retrieval for query terms {QUERY_TERMS}: smooth-idf "
    "weights (sklearn formulation ln((1+N)/(1+df))+1), per-document L2 "
    "norms over the FULL vocabulary (the part BM25 skips — norms need "
    "every term, so the weight table is built before the query filter), "
    "cosine = dot/(|D||Q|), top-25. Two shuffles on (doc,term)/term keys; "
    "the df table and 1-row corpus stats broadcast; per-doc dots and "
    "norms are decimal-summed then sqrt'd (IEEE sqrt is correctly "
    "rounded in both engines, so identical inputs give identical "
    "outputs). The norm table is a per-doc aggregate — at 100 TB it "
    "persists beside the index, not recomputed per query.",
)
def q_text_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    idf = F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0
    w = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", (F.col("tf") * idf).alias("wt"))
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(dec_to_double(F.sum((F.col("wt") * F.col("wt")).cast("decimal(25,9)")))).alias(
            "dnorm"
        )
    )
    qw = (
        df_t.filter(F.col("term").isin(*QUERY_TERMS))
        .crossJoin(F.broadcast(n))
        .select("term", idf.alias("qwt"))
    )
    qnorm = qw.agg(
        F.sqrt(dec_to_double(F.sum((F.col("qwt") * F.col("qwt")).cast("decimal(25,9)")))).alias(
            "qn"
        )
    )
    scored = (
        w.join(F.broadcast(qw), "term")
        .join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .groupBy("doc_id", "dnorm", "qn")
        .agg(
            (
                dec_to_double(F.sum((F.col("wt") * F.col("qwt")).cast("decimal(25,9)")))
                / (F.col("dnorm") * F.col("qn"))
            ).alias("score")
        )
        .select("doc_id", "score")
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(TOP_N)


# --- hybrid retrieval: BM25 + vector ranks fused by RRF ---------------------

RRF_QUERY_DOCS = (3, 7, 11, 19)  # query-by-example document ids
RRF_DF_MIN = 2  # term must match something beyond the query doc itself
RRF_DF_PCT = 90  # relative stopword cut: keep terms in <= 90% of docs
# (an absolute df cap would empty or flood the band as the corpus grows;
# the percentage survives any scale factor)
RRF_N_TERMS = 8  # rarest terms kept per query doc
RRF_TOP_N = 20  # per-modality candidate depth
RRF_K = 60  # the standard RRF dampening constant
RRF_SCALE = 1 << 40  # integer-scaled 1/(k+rank): exact, float-free fusion
RRF_FUSE_K = 10


def _rrf_sql() -> str:
    from .dedup import SQL_QDOT, SQL_QNORM, SQL_QVEC

    qd = ", ".join(str(i) for i in RRF_QUERY_DOCS)
    qv = SQL_QVEC.format(a="embedding")
    return f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    doclen AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM tok),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM doclen
    ),
    qcand AS (
      SELECT doc_id AS qid, unnest(list_distinct(ts)) AS term
      FROM tok WHERE doc_id IN ({qd})
    ),
    postings AS (
      SELECT p.doc_id, p.term
      FROM (SELECT doc_id, unnest(list_distinct(ts)) AS term FROM tok) p
      WHERE p.term IN (SELECT DISTINCT term FROM qcand)
    ),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term),
    qterms AS (
      SELECT qid, term, df FROM (
        SELECT q.qid, q.term, d.df,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY d.df, q.term) AS rn
        FROM qcand q JOIN dfq d USING (term)
        CROSS JOIN stats s
        WHERE d.df >= {RRF_DF_MIN} AND d.df * 100 <= s.n_docs * {RRF_DF_PCT}
      ) WHERE rn <= {RRF_N_TERMS}
    ),
    tf AS (
      SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(ts) AS term FROM tok) t
      WHERE t.term IN (SELECT DISTINCT term FROM qterms)
      GROUP BY t.doc_id, t.term
    ),
    scored_t AS (
      SELECT qt.qid, tf.doc_id,
             CAST(CAST(SUM(CAST(
               ln(1.0 + (((CAST(s.n_docs AS DOUBLE) - qt.df) + 0.5) / (qt.df + 0.5)))
               * ((tf.tf * ({K1} + 1.0))
                  / (tf.tf + ({K1} * ((1.0 - {B}) + ({B} * (dl.dl / s.avgdl))))))
             AS DECIMAL(25,9))) AS STRING) AS DOUBLE) AS score
      FROM tf
      JOIN qterms qt ON qt.term = tf.term AND tf.doc_id <> qt.qid
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY qt.qid, tf.doc_id
    ),
    ttop AS (
      SELECT qid, doc_id, CAST(rn AS INTEGER) AS rank_text FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        FROM scored_t
      ) WHERE rn <= {RRF_TOP_N}
    ),
    embn AS (
      SELECT vec_id, qv, {SQL_QNORM.format(qa="qv")} AS nrm
      FROM (SELECT vec_id, {qv} AS qv FROM embeddings)
    ),
    vpairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS doc_id,
             CAST({SQL_QDOT.format(qa="q.qv", qb="c.qv")} AS DOUBLE)
               / (q.nrm * c.nrm) AS cosine
      FROM (SELECT * FROM embn WHERE vec_id IN ({qd})) q
      JOIN embn c ON c.vec_id <> q.vec_id
    ),
    vtop AS (
      SELECT qid, doc_id, CAST(rn AS INTEGER) AS rank_vec FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS rn
        FROM vpairs
      ) WHERE rn <= {RRF_TOP_N}
    ),
    fused AS (
      SELECT COALESCE(t.qid, v.qid) AS query_id,
             COALESCE(t.doc_id, v.doc_id) AS doc_id,
             t.rank_text, v.rank_vec,
             COALESCE({RRF_SCALE} // ({RRF_K} + t.rank_text), 0)
               + COALESCE({RRF_SCALE} // ({RRF_K} + v.rank_vec), 0) AS rrf
      FROM ttop t FULL OUTER JOIN vtop v
        ON v.qid = t.qid AND v.doc_id = t.doc_id
    )
    SELECT query_id, doc_id, rank_text, rank_vec,
           CAST(rrf AS BIGINT) AS rrf_score, CAST(rn AS INTEGER) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= {RRF_FUSE_K}
    ORDER BY query_id, fused_rank
    """


@register(
    "q_hybrid_rank_fusion",
    oracle=_rrf_sql(),
    doc=f"Hybrid retrieval by reciprocal-rank fusion — the RAG pipeline's "
    f"retrieval core: for {len(RRF_QUERY_DOCS)} query-by-example documents, "
    f"a lexical candidate list (BM25 over the query doc's {RRF_N_TERMS} "
    f"rarest informative terms, 2 <= df <= {RRF_DF_PCT}% of docs — a "
    f"RELATIVE stopword cut, scale-stable where an absolute cap is not) and a "
    f"semantic list (quantized-cosine over embeddings) each rank top-"
    f"{RRF_TOP_N}, then fuse: RRF(d) = Σ 1/({RRF_K}+rank), carried as the "
    f"exact integer floor(2^40/({RRF_K}+rank)) so fusion is float-free and "
    "engine-exact; absent-from-one-list candidates contribute 0 (union "
    "semantics via full outer join on coalesced keys). 100 TB shape: "
    "query terms and query vectors are broadcast (both bounded by the "
    "query batch, not the corpus); the corpus token scan is filtered "
    "map-side by the broadcast term set, so df/tf shuffles carry only "
    "posting-list rows for ~Q×8 terms; the vector side is one map-only "
    "broadcast pass; per-query rank windows partition on query_id. BM25 "
    "per-doc sums ride the DECIMAL(25,9) string-hop (bm25 precedent), so "
    "candidate order — hence every rank — is bit-identical cross-engine.",
)
def q_hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .dedup import SPARK_QNORM, SPARK_QVEC, spark_cosine_prequantized

    d = load_table(spark, sf_dir, "documents")
    # NOTE (round-12, measured and REJECTED): tok feeds four subtrees
    # (doclen stats, query-doc terms, postings, tf) and re-tokenizes per
    # consumer; a scoped_cache A/B'd 0.97x with values identical — all
    # consumers execute inside ONE action, so the
    # duplicate tokenize passes run concurrently on idle cores while the
    # cache fill adds serialized write overhead. Same finding as the
    # pagerank edge build and source-overlap shingle domain this round.
    # Round-13: re-measured at SPARK_GRAFT_CPUS=8 (core contention) —
    # 0.86x, still a LOSS. Four consumers in one action overlap the
    # re-tokenize passes even on 8 cores; the pin stands.
    tok = d.select("doc_id", tokens("text").alias("ts"))
    doclen = tok.select("doc_id", F.size("ts").cast("bigint").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qids = list(RRF_QUERY_DOCS)
    qcand = tok.filter(F.col("doc_id").isin(qids)).select(
        F.col("doc_id").alias("qid"),
        F.explode(F.array_distinct("ts")).alias("term"),
    )
    postings = tok.select(
        "doc_id", F.explode(F.array_distinct("ts")).alias("term")
    ).join(F.broadcast(qcand.select("term").distinct()), "term")
    dfq = postings.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    wq = Window.partitionBy("qid").orderBy("df", "term")
    qterms = (
        qcand.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .filter(
            (F.col("df") >= RRF_DF_MIN)
            & (F.col("df") * 100 <= F.col("n_docs") * RRF_DF_PCT)
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= RRF_N_TERMS)
        .select("qid", "term", "df")
    )
    tf = (
        # dl rides the tf aggregation — no corpus-sized doclen join/broadcast
        # (see q_text_bm25_search)
        tok.select(
            "doc_id",
            F.size("ts").cast("bigint").alias("dl"),
            F.explode("ts").alias("term"),
        )
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"), F.max("dl").alias("dl"))
    )
    idf = F.log(
        1.0 + (((F.col("n_docs").cast("double") - F.col("df")) + 0.5) / (F.col("df") + 0.5))
    )
    tf_part = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + (K1 * ((1.0 - B) + (B * (F.col("dl") / F.col("avgdl")))))
    )
    scored_t = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "doc_id")
        .agg(dec_to_double(F.sum((idf * tf_part).cast("decimal(25,9)"))).alias("score"))
    )
    wt = Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    ttop = (
        scored_t.withColumn("rank_text", F.row_number().over(wt))
        .filter(F.col("rank_text") <= RRF_TOP_N)
        .select("qid", "doc_id", F.col("rank_text").cast("int").alias("rank_text"))
    )
    e = load_table(spark, sf_dir, "embeddings")
    embn = e.select(
        "vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv")
    ).withColumn("nrm", F.expr(SPARK_QNORM.format(qa="qv")))
    qe = embn.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"),
        F.col("qv").alias("qqv"),
        F.col("nrm").alias("qnrm"),
    )
    vpairs = (
        embn.crossJoin(F.broadcast(qe))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            F.expr(
                spark_cosine_prequantized("qqv", "qv", "qnrm", "nrm")
            ).alias("cosine"),
        )
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("cosine"), "doc_id")
    vtop = (
        vpairs.withColumn("rank_vec", F.row_number().over(wv))
        .filter(F.col("rank_vec") <= RRF_TOP_N)
        .select("qid", "doc_id", F.col("rank_vec").cast("int").alias("rank_vec"))
    )
    fused = ttop.join(vtop, ["qid", "doc_id"], "full_outer").withColumn(
        "rrf",
        F.coalesce(
            F.expr(f"CAST({RRF_SCALE} AS BIGINT) div ({RRF_K} + rank_text)"), F.lit(0)
        )
        + F.coalesce(
            F.expr(f"CAST({RRF_SCALE} AS BIGINT) div ({RRF_K} + rank_vec)"), F.lit(0)
        ),
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= RRF_FUSE_K)
        .select(
            F.col("qid").alias("query_id"),
            "doc_id",
            "rank_text",
            "rank_vec",
            F.col("rrf").cast("bigint").alias("rrf_score"),
            F.col("fused_rank").cast("int").alias("fused_rank"),
        )
        .orderBy("query_id", "fused_rank")
    )
