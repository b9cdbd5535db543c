"""Similarity search over embedding vectors (extension surface,
BASELINE.json north_star).

Two paths, same quantized-integer cosine math as operators/dedup.py (exact
and engine-portable by construction):

- brute-force top-k  — the correctness baseline: broadcast the query set,
  score every (query, candidate) pair, window top-k. At 100 TB of vectors
  this is one pass over the corpus per query batch — linear, no index, and
  still the right answer for small query sets.
- SRP-LSH top-k      — the scale path: random-hyperplane signatures bucket
  both sides; only same-bucket pairs are scored. Hyperplanes are derived
  from a deterministic LCG so the operator (and its oracle) is reproducible
  with no stored model. Recall < 1 by design; the oracle runs the *same*
  bucketing, so the gate checks the implementation, not the recall.

An IVF variant (k-means cells) is the other classic scale path; SRP was
chosen because its "model" is a formula — no training state to ship between
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..plans.queries import register
from .dedup import (
    SPARK_QNORM,
    SPARK_QVEC,
    spark_cosine_prequantized,
    sql_cosine_expr,
)


def _quantized(e: DataFrame, prefix: str) -> DataFrame:
    """Quantize embedding → bigint array + norm once per vector (not per
    candidate pair)."""
    qv = F.expr(SPARK_QVEC.format(a="embedding"))
    return e.withColumn(f"{prefix}_qv", qv).withColumn(
        f"{prefix}_norm", F.expr(SPARK_QNORM.format(qa=f"{prefix}_qv"))
    )

from .srp import SRP_PLANES, spark_srp_bucket, sql_srp_bucket  # noqa: F401 (shared LSH)

TOP_K = 5
N_QUERIES = 10  # demo query set: vec_id < 10


@register(
    "q_ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             {sql_cosine_expr("q.embedding", "c.embedding")} AS cosine
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    doc=f"Brute-force cosine top-{TOP_K}: broadcast the {N_QUERIES}-query "
    "set against every vector, exact quantized cosine, window top-k with "
    "deterministic tie-break. One corpus scan per query batch — the ANN "
    "correctness baseline.",
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(spread(load_table(spark, sf_dir, "embeddings")), "v")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v_qv").alias("q_qv"),
        F.col("v_norm").alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        "v_qv",
        "v_norm",
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).withColumn(
        "cosine", F.expr(spark_cosine_prequantized("q_qv", "v_qv", "q_norm", "v_norm"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


@register(
    "q_ann_lsh_topk",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding, {sql_srp_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    q AS (SELECT * FROM b WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.bucket,
             {sql_cosine_expr("q.embedding", "c.embedding")} AS cosine
      FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, bucket, cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    doc=f"SRP-LSH approximate top-{TOP_K}: {SRP_PLANES} deterministic "
    "random-hyperplane sign bits bucket all vectors; candidates come only "
    "from the query's bucket (equi-join on bucket id — sub-linear scored "
    "pairs), then exact quantized cosine re-ranks. The 100 TB path: the "
    "bucket join shuffles ~1/2^planes of the pairs brute-force would.",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(spread(load_table(spark, sf_dir, "embeddings")), "v")
    b = e.withColumn("bucket", F.expr(spark_srp_bucket("embedding")))
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v_qv").alias("q_qv"),
        F.col("v_norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    c = b.select(F.col("vec_id").alias("neighbor_id"), "v_qv", "v_norm", "bucket")
    scored = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("neighbor_id") != F.col("query_id")),
    ).withColumn(
        "cosine", F.expr(spark_cosine_prequantized("q_qv", "v_qv", "q_norm", "v_norm"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


@register(
    "q_ann_multiprobe_topk",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding, {sql_srp_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    probes AS (
      SELECT q.vec_id, q.embedding,
             CASE WHEN p.j = 0 THEN q.bucket
                  ELSE xor(q.bucket, (CAST(1 AS BIGINT) << (p.j - 1))) END AS probe
      FROM (SELECT * FROM b WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN (SELECT unnest(range(0, {SRP_PLANES + 1})) AS j) p
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.bucket,
             {sql_cosine_expr("q.embedding", "c.embedding")} AS cosine
      FROM probes q JOIN b c ON c.bucket = q.probe AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, bucket, cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    doc=f"Multi-probe SRP-LSH top-{TOP_K}: each query probes its own bucket "
    f"plus all {SRP_PLANES} Hamming-distance-1 buckets (one sign-bit flip "
    "each) — the classic recall fix for LSH without adding hash tables "
    "(Lv et al., VLDB'07). Probe buckets are disjoint, so no pair dedup is "
    f"needed; scored pairs stay ~{SRP_PLANES + 1}/2^{SRP_PLANES} of brute "
    "force while recall rises sharply. Only the tiny query side fans out "
    f"{SRP_PLANES + 1}x; the corpus is hashed once — the property that "
    "matters when the corpus is the 100 TB side.",
)
def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(spread(load_table(spark, sf_dir, "embeddings")), "v")
    b = e.withColumn("bucket", F.expr(spark_srp_bucket("embedding")))
    probe = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(SRP_PLANES)],
    )
    q = (
        b.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v_qv").alias("q_qv"),
            F.col("v_norm").alias("q_norm"),
            F.explode(probe).alias("probe"),
        )
    )
    c = b.select(F.col("vec_id").alias("neighbor_id"), "v_qv", "v_norm", "bucket")
    scored = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("probe")) & (F.col("neighbor_id") != F.col("query_id")),
    ).withColumn(
        "cosine", F.expr(spark_cosine_prequantized("q_qv", "v_qv", "q_norm", "v_norm"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


RANGE_T = 0.30
RANGE_N_QUERIES = 50


@register(
    "q_ann_range_search",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {{bucket}} AS bucket FROM embeddings
    ),
    q AS (SELECT * FROM b WHERE vec_id < {RANGE_N_QUERIES})
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {{cosine}} AS cosine
    FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    WHERE {{cosine}} >= {RANGE_T}
    ORDER BY query_id, neighbor_id
    """.format(
        bucket=sql_srp_bucket("embedding"),
        cosine=sql_cosine_expr("q.embedding", "c.embedding"),
    ),
    doc=f"ANN range search (radius query): every neighbor within cosine ≥ "
    f"{RANGE_T} of each of the first {RANGE_N_QUERIES} vectors, candidates "
    "drawn from the SRP-LSH bucket equi-join — the fixed-radius sibling of "
    "the top-k queries (dedup wants 'all near-dups', not 'best 5'). Same "
    "sub-linear candidate shape as q_ann_lsh_topk; no window at all, since "
    "range search needs no ranking — just the threshold filter.",
)
def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(spread(load_table(spark, sf_dir, "embeddings")), "v")
    b = e.withColumn("bucket", F.expr(spark_srp_bucket("embedding")))
    q = b.filter(F.col("vec_id") < RANGE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v_qv").alias("q_qv"),
        F.col("v_norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    c = b.select(F.col("vec_id").alias("neighbor_id"), "v_qv", "v_norm", "bucket")
    return (
        c.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn(
            "cosine",
            F.expr(spark_cosine_prequantized("q_qv", "v_qv", "q_norm", "v_norm")),
        )
        .filter(F.col("cosine") >= RANGE_T)
        .select("query_id", "neighbor_id", "cosine")
        .orderBy("query_id", "neighbor_id")
    )
