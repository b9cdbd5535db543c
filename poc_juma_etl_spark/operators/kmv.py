"""KMV (bottom-k / theta) distinct sketches with SET OPERATIONS — the
sketch family's answer to the question HLL cannot ask: *how many users are
in segment A AND segment B?* (HLL unions losslessly but cannot intersect;
a KMV/theta sketch supports union, intersection, and difference estimates
from the same k minimum hash values — Beyer et al. SIGMOD'07 / the
DataSketches theta framework.)

Everything here is DETERMINISTIC: the hash is the repo's portable md5
family (first 11 hex digits -> a 44-bit integer, identical text in Spark
and DuckDB), so the sketch contents, thetas, and every estimate are exact
integers that hash-match across engines — the gate is a full value hash,
not an error-bound verdict (accuracy itself is additionally pinned by unit
bounds in tests/test_kmv.py).

Scale shape (the mergeable-sketch shape):

- per set: project the key, DISTINCT the 44-bit hash (one map-side-combined
  aggregation), then ``ORDER BY h LIMIT k`` — Spark plans this as
  TakeOrderedAndProject: every partition keeps its local bottom-k and the
  driver merges k-sized heaps, which IS the KMV merge operation;
- estimates are computed from the two k-row sketches (bounded driver state,
  like the k-means centroid collect);
- exact ground-truth counts ride the same distinct aggregates.

With k = 256 and a 44-bit domain all products stay far inside int64:
(k-1) * 2^44 < 2^52.

Estimators (all floor division, non-negative operands so Spark DIV and
DuckDB // agree):

- distinct:   D̂ = (k-1) * 2^44 // theta      (theta = k-th smallest hash),
              or the exact sketch size when the set has fewer than k
              distinct hashes (the sketch IS the set);
- union:      bottom-k of the merged hash sets, same estimator;
- intersect:  n_i = |{h in skA ∩ skB : h < theta_union}|,
              Î = n_i * 2^44 // theta_union   (0 when either side is exact
              -- then the sketch intersection is itself exact).

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
delegates all analytics to BigQuery (which ships exactly this capability
as theta sketches); this implements it natively (SURVEY.md §2.5 sketch
family, next to q_approx_sketches / q_hll_rollup_merge).

Registered as the driver gate ``q_sketch_kmv_setops`` in round 10 (the
round-9 queue drain); tests/test_kmv.py runs the same Spark-vs-DuckDB
parity the gate runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register

K = 256
HBITS = 44
MAXH = 1 << HBITS

# segment predicates over orders — identical text in Spark SQL and DuckDB
PRED_A = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
PRED_B = "o_totalprice >= 150000"

# 44-bit portable hash of the customer key (md5_long's little sibling —
# 11 hex digits so every estimator product stays inside int64)
SPARK_H44 = "CAST(CONV(SUBSTRING(MD5(CAST(o_custkey AS STRING)), 1, 11), 16, 10) AS BIGINT)"
SQL_H44 = "CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 11)) AS BIGINT)"


def _sketch(spark: SparkSession, sf_dir: str, pred: str) -> list[int]:
    """Bottom-K distinct hashes of the segment's customer keys, ascending.
    DISTINCT is one hash-partitioned aggregation; LIMIT K over the sort is
    TakeOrderedAndProject (per-partition bottom-k + driver k-merge)."""
    rows = (
        load_table(spark, sf_dir, "orders")
        .where(pred)
        .selectExpr(f"{SPARK_H44} AS h")
        .distinct()
        .orderBy("h")
        .limit(K)
        .collect()
    )
    return [r.h for r in rows]


def _estimate(sketch: list[int]) -> int:
    """(k-1) * 2^44 // theta, or the exact size below saturation."""
    if len(sketch) < K:
        return len(sketch)
    return (K - 1) * MAXH // sketch[K - 1]


KMV_ORACLE = f"""
    WITH flags AS MATERIALIZED (
      SELECT o_custkey,
             MAX(CASE WHEN {PRED_A} THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN {PRED_B} THEN 1 ELSE 0 END) AS in_b,
             {SQL_H44} AS h
      FROM orders GROUP BY o_custkey
    ),
    ska AS MATERIALIZED (
      SELECT DISTINCT h FROM flags WHERE in_a = 1 ORDER BY h LIMIT {K}),
    skb AS MATERIALIZED (
      SELECT DISTINCT h FROM flags WHERE in_b = 1 ORDER BY h LIMIT {K}),
    sku AS MATERIALIZED (
      SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
      ORDER BY h LIMIT {K}
    ),
    st AS (
      SELECT
        (SELECT COUNT(*) FROM ska) AS na,
        (SELECT COUNT(*) FROM skb) AS nb,
        (SELECT COUNT(*) FROM sku) AS nu,
        (SELECT MAX(h) FROM ska) AS ta,
        (SELECT MAX(h) FROM skb) AS tb,
        (SELECT MAX(h) FROM sku) AS tu,
        (SELECT COUNT(*) FROM ska JOIN skb USING (h)
          WHERE h < (SELECT MAX(h) FROM sku)) AS ni,
        (SELECT COUNT(*) FROM ska JOIN skb USING (h)) AS ni_all,
        (SELECT COUNT(*) FROM ska WHERE h < (SELECT MAX(h) FROM sku)
          AND h NOT IN (SELECT h FROM skb)) AS nd,
        (SELECT COUNT(*) FROM ska
          WHERE h NOT IN (SELECT h FROM skb)) AS nd_all
    ),
    est AS (
      SELECT
        CASE WHEN na < {K} THEN na ELSE ({K - 1} * {MAXH}::BIGINT) // ta END AS est_a,
        CASE WHEN nb < {K} THEN nb ELSE ({K - 1} * {MAXH}::BIGINT) // tb END AS est_b,
        CASE WHEN nu < {K} THEN nu ELSE ({K - 1} * {MAXH}::BIGINT) // tu END AS est_u,
        CASE WHEN nu < {K} THEN ni_all ELSE (ni * {MAXH}::BIGINT) // tu END AS est_i,
        CASE WHEN nu < {K} THEN nd_all ELSE (nd * {MAXH}::BIGINT) // tu END AS est_d,
        CASE WHEN nu < {K} THEN {MAXH}::BIGINT ELSE tu END AS theta_u
      FROM st
    ),
    exact AS (
      SELECT COUNT(*) FILTER (in_a = 1) AS xa,
             COUNT(*) FILTER (in_b = 1) AS xb,
             COUNT(*) FILTER (in_a = 1 OR in_b = 1) AS xu,
             COUNT(*) FILTER (in_a = 1 AND in_b = 1) AS xi
      FROM flags
    )
    SELECT measure, CAST(value AS BIGINT) AS value FROM (
      SELECT 'est_a' AS measure, est_a AS value FROM est
      UNION ALL SELECT 'est_a_minus_b', est_d FROM est
      UNION ALL SELECT 'est_b', est_b FROM est
      UNION ALL SELECT 'est_intersect', est_i FROM est
      UNION ALL SELECT 'est_union', est_u FROM est
      UNION ALL SELECT 'exact_a', xa FROM exact
      UNION ALL SELECT 'exact_a_minus_b', xa - xi FROM exact
      UNION ALL SELECT 'exact_b', xb FROM exact
      UNION ALL SELECT 'exact_intersect', xi FROM exact
      UNION ALL SELECT 'exact_union', xu FROM exact
      UNION ALL SELECT 'sketch_k', {K}
      UNION ALL SELECT 'theta_union', theta_u FROM est
    ) ORDER BY measure
    """


@register(
    "q_sketch_kmv_setops",
    oracle=KMV_ORACLE,
    doc="KMV/theta bottom-k distinct sketch with UNION, INTERSECTION "
    "and DIFFERENCE estimates — the set algebra HLL cannot do "
    "(Beyer et al. SIGMOD'07 / theta-sketch inclusion-exclusion on "
    "the union's theta). Hash is a portable 44-bit md5 slice, so "
    "every estimate is deterministic and the DuckDB oracle "
    "value-hash-matches ALL estimates plus exact ground truth — not "
    "an error-bound verdict. Scale shape: each sketch is one "
    "hash-partitioned DISTINCT + TakeOrderedAndProject bottom-k "
    "(per-partition k-merge, driver sees k rows); set algebra runs "
    "on two k-sized lists driver-side. Streaming twin: "
    "q_stream_kmv_sketch maintains the same sketches per micro-batch.",
)
def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ska = _sketch(spark, sf_dir, PRED_A)
    skb = _sketch(spark, sf_dir, PRED_B)
    return setops_result(spark, sf_dir, ska, skb)


def setops_result(
    spark: SparkSession, sf_dir: str, ska: list[int], skb: list[int]
) -> DataFrame:
    """Estimates + exact ground truth from two per-segment sketches (shared
    with the streaming twin, streaming/sketch.py, whose gate is exactly
    this output computed from incrementally-maintained sketches)."""
    # union sketch: bottom-k of the merged distinct hash sets (the KMV
    # merge is a k-merge of sorted lists — done here on two k-sized lists)
    sku = sorted(set(ska) | set(skb))[:K]
    est_a, est_b, est_u = _estimate(ska), _estimate(skb), _estimate(sku)

    if len(sku) < K:  # both sides exact -> sketch set algebra is exact
        est_i = len(set(ska) & set(skb))
        est_d = len(set(ska) - set(skb))
    else:
        theta_u = sku[K - 1]
        n_i = len({h for h in set(ska) & set(skb) if h < theta_u})
        n_d = len({h for h in set(ska) - set(skb) if h < theta_u})
        est_i = n_i * MAXH // theta_u
        est_d = n_d * MAXH // theta_u

    # exact ground truth in ONE pass (round-12, measured): the old shape
    # ran a triple count_distinct (an Expand ×3 of the scan) plus a SECOND
    # scan+shuffle for the intersection count. Collapsing the custkey
    # domain first makes u/a/b/i plain conditional sums over one
    # map-side-combined groupBy — same values by construction (max-flags
    # per custkey ≡ distinct membership), half the scans, no Expand
    # (guide §2.3 "aggregate before you shuffle").
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        f"CASE WHEN {PRED_A} THEN 1 ELSE 0 END AS in_a",
        f"CASE WHEN {PRED_B} THEN 1 ELSE 0 END AS in_b",
    )
    per = (
        o.filter("in_a = 1 OR in_b = 1")
        .groupBy("o_custkey")
        .agg(F.max("in_a").alias("a"), F.max("in_b").alias("b"))
    )
    ex = per.agg(
        F.coalesce(F.sum("a"), F.lit(0)).alias("a"),
        F.coalesce(F.sum("b"), F.lit(0)).alias("b"),
        F.count(F.lit(1)).alias("u"),
        F.coalesce(F.sum(F.col("a") * F.col("b")), F.lit(0)).alias("i"),
    ).collect()[0]
    ex_i = int(ex.i)

    rows = [
        ("est_a", est_a),
        ("est_a_minus_b", est_d),
        ("est_b", est_b),
        ("est_intersect", est_i),
        ("est_union", est_u),
        ("exact_a", int(ex.a)),
        ("exact_a_minus_b", int(ex.a) - int(ex_i)),
        ("exact_b", int(ex.b)),
        ("exact_intersect", int(ex_i)),
        ("exact_union", int(ex.u)),
        ("sketch_k", K),
        ("theta_union", sku[K - 1] if len(sku) >= K else MAXH),
    ]
    return spark.createDataFrame(rows, "measure string, value bigint").orderBy(
        "measure"
    )
