"""Embedding-column operators beyond ANN search: semantic dedup, label
pooling, and scalar quantization — the vector-side utilities of a training
-data pipeline (SemDeDup-style pruning, class centroids, index compression).

All math runs on the shared 2^22-quantized integer vectors
(operators/dedup.py): dots/distances are exact BIGINTs, every double is
produced by one fixed IEEE op sequence, so results are bit-identical
between Spark and the DuckDB oracles at any parallelism.

Reference scope: the reference repo has no vector layer; this module
belongs to the beyond-reference training-data surface (SURVEY.md §6) next
to operators/similarity.py and operators/kmeans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..plans.queries import register, scoped_cache
from .dedup import SPARK_QNORM, SPARK_QVEC, spark_cosine_prequantized
from .kmeans import K, SQL_SEED_DIST_PRELUDE, SQL_SEED_NV_CTE

SEM_THRESHOLD = 0.30  # same near-dup bar as q_dedup_embedding_cosine
DIM = 64

_SQL_QV = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 4194304) AS BIGINT))"
)

# shared oracle prelude: quantized vectors + per-dim positional explode
_SQL_PX = f"""
    q AS (SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings),
    px AS (
      SELECT vec_id, label, u.pos AS pos, u.val AS val FROM (
        SELECT vec_id, label,
               unnest(list_transform(range(1, {DIM} + 1),
                                     i -> struct_pack(pos := i, val := qv[i]))) AS u
        FROM q
      )
    )"""

# shared label-centroid CTEs (exact integer sums, one division per dim,
# dimension-ordered vector + norm) — ONE definition for both
# q_embedding_pool_mean and q_class_representatives so the mean's
# cast/ordering (and the anticipated DECIMAL switch past 2^29 vectors per
# label) can never drift between the two queries' oracles
_SQL_CENTROIDS = """
    per AS (
      SELECT label, pos,
             CAST(SUM(val) AS DOUBLE) / COUNT(*) AS m,
             COUNT(*) AS n
      FROM px GROUP BY label, pos
    ),
    cent AS (
      SELECT label, CAST(MAX(n) AS BIGINT) AS n_vectors,
             list(m ORDER BY pos) AS cv
      FROM per GROUP BY label
    ),
    centn AS (
      SELECT label, n_vectors, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnorm
      FROM cent
    )"""


def _label_centroids(vecs: DataFrame) -> DataFrame:
    """(label, n_vectors, cv, cnorm): exact-integer mean centroid per label
    with the dimension-ordered norm precomputed ONCE per label (labels×1
    values — recomputing it per scored corpus row would double the scoring
    map's arithmetic). Spark twin of _SQL_CENTROIDS."""
    per = (
        vecs.select("label", F.posexplode("qv").alias("pos0", "val"))
        .select("label", (F.col("pos0") + 1).alias("pos"), "val")
        .groupBy("label", "pos")
        .agg(
            (F.sum("val").cast("double") / F.count(F.lit(1))).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cent = per.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vectors"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("cv"),
    )
    return cent.withColumn(
        "cnorm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("cv"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )


def _quantized(e: DataFrame) -> DataFrame:
    return e.select(
        "vec_id", "label", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv")
    ).withColumn("qnorm", F.expr(SPARK_QNORM.format(qa="qv")))


def _seed_cell_expr(vecs: DataFrame) -> str:
    """The deterministic K-lowest-vec_id cell router — one shared renderer
    (operators/kmeans.seed_cell_struct_array) so the quantization and
    ties-to-lower-cell encoding can never drift between q_ann_ivf_assign,
    q_ann_ivf_topk and q_semantic_dedup."""
    from .kmeans import qv_seeds, seed_cell_struct_array

    return seed_cell_struct_array(qv_seeds(vecs, K))


@register(
    "q_semantic_dedup",
    oracle=f"""
    WITH {SQL_SEED_DIST_PRELUDE},
    {SQL_SEED_NV_CTE},
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    dup AS (
      SELECT DISTINCT a.vec_id
      FROM assign a JOIN assign b ON b.cell = a.cell AND b.vec_id < a.vec_id
      JOIN nv na ON na.vec_id = a.vec_id
      JOIN nv nb ON nb.vec_id = b.vec_id
      WHERE CAST(CAST(list_sum(list_transform(list_zip(na.qv, nb.qv),
                                              x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
              / (na.nrm * nb.nrm) >= {SEM_THRESHOLD}
    )
    SELECT a.vec_id, a.cell, d.vec_id IS NULL AS kept
    FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
    ORDER BY a.vec_id
    """,
    doc=f"SemDeDup-style semantic dedup: route every vector to its nearest "
    f"of {K} deterministic seed cells (the q_ann_ivf_assign router), then "
    "within each cell drop any vector whose quantized cosine to a LOWER-id "
    f"cell-mate reaches {SEM_THRESHOLD} — keep-first semantics, like exact "
    "dedup's min-id winner. The cell partition is the scale story: pair "
    "candidates are generated per cell (equi-join on cell id), never across "
    "the corpus, which is exactly how SemDeDup bounds the O(n^2) cosine "
    "matrix at web scale (cells there come from trained k-means, here from "
    "the fixed seeds so the oracle can replay routing). Output is the full "
    "(vec_id, cell, kept) verdict map.",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = _quantized(e)
    darr = _seed_cell_expr(vecs)
    assigned = scoped_cache(
        vecs.withColumn("cell", F.expr(f"array_min({darr})")["cid"])
    )
    a = assigned.select(
        F.col("vec_id").alias("a_id"),
        F.col("qv").alias("a_qv"),
        F.col("qnorm").alias("a_n"),
        "cell",
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("qv").alias("b_qv"),
        F.col("qnorm").alias("b_n"),
        "cell",
    )
    dup = (
        a.join(b, "cell")
        .filter(F.col("b_id") < F.col("a_id"))
        .withColumn(
            "cosine", F.expr(spark_cosine_prequantized("a_qv", "b_qv", "a_n", "b_n"))
        )
        .filter(F.col("cosine") >= SEM_THRESHOLD)
        .select("a_id")
        .distinct()
    )
    return (
        assigned.join(dup, assigned.vec_id == dup.a_id, "left")
        .select("vec_id", "cell", F.col("a_id").isNull().alias("kept"))
        .orderBy("vec_id")
    )


@register(
    "q_embedding_pool_mean",
    oracle=f"""
    WITH {_SQL_PX},
    {_SQL_CENTROIDS}
    SELECT p.label, p.pos, p.m AS mean_component,
           c.cnorm AS mean_norm, c.n_vectors
    FROM per p JOIN centn c ON c.label = p.label
    ORDER BY p.label, p.pos
    """,
    doc="Label centroids (mean pooling): per-dimension exact BIGINT sums "
    "over the quantized vectors, one double division per (label, dim), "
    "emitted as scalar (label, pos, mean_component) rows — labels×dim rows "
    "regardless of corpus size — with the label's dimension-ordered norm "
    "and member count on every row. Scalar output by contract: harness "
    "canonicalizers hash cell values, and an array<double> cell is neither "
    "sortable nor portable across engines, so the vector shape lives only "
    "inside the shared centroid CTEs (q_class_representatives re-assembles "
    "it). Scale shape: posexplode shuffles on (label, pos) with map-side "
    "partial sums. (Exactness note: integer sums stay double-exact below "
    "2^53 ≈ 2^29 vectors per label; beyond that switch the final cast to "
    "DECIMAL like dsum.)",
)
def q_embedding_pool_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "embeddings"))
    cents = _label_centroids(_quantized(e))
    return (
        cents.select(
            "label",
            "n_vectors",
            F.col("cnorm").alias("mean_norm"),
            F.posexplode("cv").alias("pos0", "mean_component"),
        )
        .select(
            "label",
            (F.col("pos0") + 1).alias("pos"),
            "mean_component",
            "mean_norm",
            "n_vectors",
        )
        .orderBy("label", "pos")
    )


@register(
    "q_vector_scalar_quantize",
    oracle=f"""
    WITH {_SQL_PX},
    st AS (SELECT pos, MIN(val) AS lo, MAX(val) AS hi FROM px GROUP BY pos),
    er AS (
      SELECT p.pos, st.lo, st.hi, p.val,
             CASE WHEN st.hi > st.lo
                  THEN CAST(round(CAST((p.val - st.lo) * 255 AS DOUBLE)
                                  / (st.hi - st.lo)) AS BIGINT)
                  ELSE 0 END AS code
      FROM px p JOIN st ON st.pos = p.pos
    ),
    e2 AS (  -- 255*(recon - val): pure BIGINT, no float residue to round
      SELECT pos, lo, hi,
             255 * lo + code * (hi - lo) - 255 * val AS err_num
      FROM er
    )
    SELECT pos, lo, hi,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(err_num * err_num) AS DOUBLE) / 65025.0 AS sse
    FROM e2 GROUP BY pos, lo, hi
    ORDER BY pos
    """,
    doc="Int8 scalar quantization (the SQ8 index-compression pass): per-"
    "dimension [min, max] over the corpus (64 exact BIGINT rows), each "
    "component coded to 0..255, and the per-dimension reconstruction SSE "
    "reported. Two shuffles, both keyed on the 64-value dim id with map-"
    "side combine; the dim stats ride a broadcast back over the corpus. "
    "Codes and bounds are exact integers, and so is the error itself once "
    "scaled by 255 (err_num = 255·recon − 255·val), so the SSE total is an "
    "exact integer sum (DECIMAL(38,0) on Spark, HUGEINT on DuckDB) divided "
    "once at the end — bit-identical cross-engine with no per-row decimal "
    "rounding. Swapping in learned (trained) bounds changes only the stats "
    "CTE.",
)
def q_vector_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = _quantized(e)
    px = vecs.select(F.posexplode("qv").alias("pos0", "val")).select(
        (F.col("pos0") + 1).alias("pos"), "val"
    )
    st = px.groupBy("pos").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    er = px.join(F.broadcast(st), "pos").withColumn(
        "code",
        F.when(
            F.col("hi") > F.col("lo"),
            F.round(
                ((F.col("val") - F.col("lo")) * 255).cast("double")
                / (F.col("hi") - F.col("lo"))
            ).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    err_num = (
        F.lit(255) * F.col("lo")
        + F.col("code") * (F.col("hi") - F.col("lo"))
        - F.lit(255) * F.col("val")
    )
    return (
        er.withColumn("err_num", err_num)
        .groupBy("pos", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            (
                F.sum((F.col("err_num") * F.col("err_num")).cast("decimal(38,0)"))
                .cast("double")
                / F.lit(65025.0)
            ).alias("sse"),
        )
        .orderBy("pos")
    )


REPR_TOP = 3


@register(
    "q_class_representatives",
    oracle=f"""
    WITH {{px}},
    {{cents}},
    scored AS (
      SELECT q.vec_id, q.label,
             list_sum(list_transform(list_zip(q.qv, c.cv),
                                     x -> CAST(x[1] AS DOUBLE) * x[2]))
               / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS BIGINT))
                  * c.cnorm) AS cos_c
      FROM q JOIN centn c ON c.label = q.label
    )
    SELECT label, vec_id, cos_c, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                   ORDER BY cos_c DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= {REPR_TOP}
    ORDER BY label, rk
    """.format(px=_SQL_PX, cents=_SQL_CENTROIDS),
    doc=f"Per-class representative examples: each label's centroid (exact "
    "integer per-dim sums, one division per dim) scores its own members "
    f"by cosine, and the top-{REPR_TOP} closest-to-centroid vectors per "
    "class come back — the 'show me canonical examples of this class' "
    "primitive for dataset curation and label auditing (the inverse of "
    "SemDeDup's prune). Every float op runs in a fixed dimension order "
    "(transform over the pos-sorted centroid), so the cosine chain is "
    "bit-identical cross-engine. Scale: centroids are labels×dim rows "
    "broadcast back over the corpus; scoring is one narrow map; per-label "
    "top-k is a bounded window.",
)
def q_class_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = _quantized(e)
    cents = _label_centroids(vecs).select("label", "cv", "cnorm")
    scored = vecs.join(F.broadcast(cents), "label").select(
        "vec_id",
        "label",
        (
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    F.col("cv"),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            # cnorm precomputed once per label in _label_centroids — the
            # same (qnorm * cnorm) op order, none of the per-row recompute
            / (F.col("qnorm") * F.col("cnorm"))
        ).alias("cos_c"),
    )
    w = W.partitionBy("label").orderBy(F.desc("cos_c"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= REPR_TOP)
        .select("label", "vec_id", "cos_c", "rk")
        .orderBy("label", "rk")
    )


# --------------------------------------------------------------------------
# Triplet mining: the metric-learning data-prep primitive — for each anchor
# in the probe set, the hardest positive (most-similar same-label vector)
# and hardest negative (most-similar other-label vector), with the margin.

N_ANCHORS = 50


@register(
    "q_triplet_mining",
    oracle=f"""
    WITH nvl AS (
      SELECT vec_id, label, {_SQL_QV} AS qv,
             sqrt(CAST(list_sum(list_transform({_SQL_QV}, x -> x * x)) AS BIGINT)) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label,
             b.vec_id AS cand_id, b.label = a.label AS same,
             CAST(CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                                               x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
               / (a.nrm * b.nrm) AS cosine
      FROM nvl a JOIN nvl b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_ANCHORS}
    ),
    pos AS (
      SELECT anchor_id, label, cand_id AS pos_id, cosine AS pos_cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY cosine DESC, cand_id) AS rk
        FROM scored WHERE same
      ) WHERE rk = 1
    ),
    neg AS (
      SELECT anchor_id, cand_id AS neg_id, cosine AS neg_cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY cosine DESC, cand_id) AS rk
        FROM scored WHERE NOT same
      ) WHERE rk = 1
    )
    SELECT p.anchor_id, p.label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
           p.pos_cos - n.neg_cos AS margin
    FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
    ORDER BY p.anchor_id
    """,
    doc=f"Triplet mining for metric learning: each of the {N_ANCHORS} "
    "anchor vectors gets its hardest positive (most-similar same-label "
    "vector) and hardest negative (most-similar other-label vector) plus "
    "the margin between them — the pair/triplet construction step of "
    "contrastive dataset curation, and the per-class confusion signal "
    "(a negative margin = nearest neighbor has the wrong label). Same "
    "physical shape as brute-force ANN: the anchor set broadcasts into "
    "one map-only corpus scan, two windowed top-1s over anchors×corpus "
    "scores, anchor-count-sized join after. Quantized-integer cosine ⇒ "
    "bit-identical cross-engine; ties break to the lower candidate id.",
)
def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = _quantized(e)
    a = vecs.filter(F.col("vec_id") < N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("label"),
        F.col("qv").alias("a_qv"),
        F.col("qnorm").alias("a_n"),
    )
    b = vecs.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("b_label"),
        F.col("qv").alias("b_qv"),
        F.col("qnorm").alias("b_n"),
    )
    scored = b.join(F.broadcast(a), F.col("cand_id") != F.col("anchor_id")).select(
        "anchor_id",
        "label",
        "cand_id",
        (F.col("b_label") == F.col("label")).alias("same"),
        F.expr(spark_cosine_prequantized("a_qv", "b_qv", "a_n", "b_n")).alias("cosine"),
    )
    wk = W.partitionBy("anchor_id").orderBy(F.desc("cosine"), "cand_id")
    pos = (
        scored.filter("same")
        .withColumn("rk", F.row_number().over(wk))
        .filter("rk = 1")
        .select("anchor_id", "label", F.col("cand_id").alias("pos_id"),
                F.col("cosine").alias("pos_cos"))
    )
    neg = (
        scored.filter("NOT same")
        .withColumn("rk", F.row_number().over(wk))
        .filter("rk = 1")
        .select("anchor_id", F.col("cand_id").alias("neg_id"),
                F.col("cosine").alias("neg_cos"))
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id", "label", "pos_id", "pos_cos", "neg_id", "neg_cos",
            (F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
        )
        .orderBy("anchor_id")
    )


@register(
    "q_embedding_gram_stats",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_SQL_QV} AS qv FROM embeddings),
    px AS (
      SELECT vec_id, u.pos - 1 AS i, u.val AS x, qv FROM (
        SELECT vec_id, qv,
               unnest(list_transform(range(1, {DIM} + 1),
                                     i -> struct_pack(pos := i, val := qv[i]))) AS u
        FROM q
      )
    ),
    pairs AS (
      SELECT i, i + v.pos - 1 AS j, x * v.val AS prod FROM (
        SELECT i, x,
               unnest(list_transform(range(1, {DIM} - i + 1),
                                     k -> struct_pack(pos := k, val := qv[i + k]))) AS v
        FROM px
      )
    ),
    gram AS (
      SELECT i, j, CAST(SUM(prod) AS BIGINT) AS gram FROM pairs GROUP BY i, j
    ),
    dims AS (
      SELECT i, CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM px GROUP BY i
    )
    SELECT CAST(g.i AS INTEGER) AS i, CAST(g.j AS INTEGER) AS j,
           di.n AS n_vecs, g.gram, di.s AS sum_i, dj.s AS sum_j,
           (CAST(g.gram AS DOUBLE) / di.n)
             - ((CAST(di.s AS DOUBLE) / di.n) * (CAST(dj.s AS DOUBLE) / dj.n)) AS cov
    FROM gram g JOIN dims di ON di.i = g.i JOIN dims dj ON dj.i = g.j
    ORDER BY i, j
    """,
    doc=f"Exact Gram-matrix / covariance sufficient statistics over the "
    f"corpus embeddings — the front half of PCA, whitening, and linear "
    f"probes: for every dimension pair i <= j of the {DIM}-dim quantized "
    "integer vectors, the exact int64 inner product Σ x_i·x_j plus the "
    "per-dimension sums, from which covariance follows by one pinned IEEE "
    "sequence (gram/n − mean_i·mean_j). Plan shape: two in-row explodes "
    f"(dim, then the j >= i tail slice) fan each vector to D(D+3)/2 rows "
    "that partial-aggregate map-side down to the {DIM}×{DIM} upper "
    "triangle BEFORE the one dictionary-sized shuffle — the classic "
    "distributed outer-product: shuffle volume is O(D² × partitions), "
    "independent of corpus size, and partials merge associatively, so the "
    "same plan covers 100 TB. No join touches the fact side (dim sums "
    "broadcast onto the 2080-row triangle). int64 headroom: |x| <= 2^22 "
    "caps Σ x_i·x_j at 2^44·N — exact to N ~ 2^19 vectors; beyond that "
    "the sums switch to DECIMAL(38,0) partials (the decimal-cast rule).",
)
def q_embedding_gram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "embeddings"))
    q = e.select("vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv"))
    px = q.select(
        "qv", F.posexplode("qv").alias("i0", "x")
    ).select((F.col("i0")).alias("i"), "x", "qv")
    # j >= i tail of the same row's vector: a second in-row explode, no join
    pairs = px.select(
        "i",
        "x",
        F.posexplode(F.expr(f"slice(qv, i + 1, {DIM} - i)")).alias("k", "xj"),
    ).select("i", (F.col("i") + F.col("k")).alias("j"), (F.col("x") * F.col("xj")).alias("prod"))
    gram = pairs.groupBy("i", "j").agg(F.sum("prod").cast("bigint").alias("gram"))
    dims = px.groupBy("i").agg(
        F.sum("x").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    di = dims.select(F.col("i"), F.col("s").alias("sum_i"), F.col("n").alias("n_vecs"))
    dj = dims.select(F.col("i").alias("j"), F.col("s").alias("sum_j"), F.col("n").alias("nj"))
    return (
        gram.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "n_vecs",
            "gram",
            "sum_i",
            "sum_j",
            (
                (F.col("gram").cast("double") / F.col("n_vecs"))
                - (
                    (F.col("sum_i").cast("double") / F.col("n_vecs"))
                    * (F.col("sum_j").cast("double") / F.col("nj"))
                )
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )
