"""k-means / IVF: determinism, convergence, recall sanity (the rows-only
operators' substitute for the SQL oracle)."""

from poc_juma_etl_spark import all_queries
from poc_juma_etl_spark.catalog import load_table
from poc_juma_etl_spark.operators.kmeans import K, kmeans_fit

from .conftest import SF_ORACLE

SPECS = all_queries()


def test_assign_pandas_matches_literal(spark):
    """The large-k broadcast+pandas assignment must agree with the small-k
    Catalyst-literal path row for row (same argmin, same tie rule)."""
    from pyspark.sql import functions as F

    from poc_juma_etl_spark.operators.kmeans import _assign, kmeans_fit

    e = load_table(spark, SF_ORACLE, "embeddings")
    centroids = kmeans_fit(e, iters=1)
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    lit = {r.vec_id: r.cluster for r in _assign(vecs, centroids, "v", "literal").collect()}
    pdu = {r.vec_id: r.cluster for r in _assign(vecs, centroids, "v", "pandas").collect()}
    assert lit == pdu


def test_kmeans_deterministic(spark):
    e = load_table(spark, SF_ORACLE, "embeddings")
    c1 = kmeans_fit(e, iters=2)
    c2 = kmeans_fit(e, iters=2)
    assert c1 == c2


def test_kmeans_reduces_inertia(spark):
    from pyspark.sql import functions as F

    from poc_juma_etl_spark.operators.kmeans import _assign

    e = load_table(spark, SF_ORACLE, "embeddings")
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    def inertia(centroids):
        assigned = _assign(vecs, centroids, "v")
        dist_exprs = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"),
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0.0),
                        lambda a, b: a + b,
                    ).alias("d"),
                    F.lit(cid).alias("cid"),
                )
                for cid, c in centroids
            ]
        )
        return (
            assigned.withColumn("dd", F.array_min(dist_exprs)["d"])
            .agg(F.sum("dd"))
            .first()[0]
        )

    c0 = kmeans_fit(e, iters=0)
    c3 = kmeans_fit(e, iters=3)
    assert inertia(c3) < inertia(c0)


def test_ivf_topk_sane_and_deterministic(spark):
    out1 = SPECS["q_ann_ivf_topk"].fn(spark, SF_ORACLE).collect()
    out2 = SPECS["q_ann_ivf_topk"].fn(spark, SF_ORACLE).collect()
    assert out1 == out2
    assert len(out1) > 0
    per_query = {}
    for r in out1:
        per_query.setdefault(r.query_id, []).append(r)
    for qid, rows in per_query.items():
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        cos = [r.cosine for r in rows]
        assert cos == sorted(cos, reverse=True)
    # IVF with nprobe=2 of 8 cells should find some of the brute-force top-k
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SPECS["q_ann_bruteforce_topk"].fn(spark, SF_ORACLE).collect()
    }
    ivf = {(r.query_id, r.neighbor_id) for r in out1}
    assert ivf & brute, "IVF found no true neighbors"
