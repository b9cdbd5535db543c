"""Distributed k-means + IVF approximate nearest-neighbor search.

The second classic ANN scale path next to SRP-LSH (operators/similarity.py):
k-means learns coarse cells (IVF = inverted file), every vector is assigned
to its nearest centroid, and a query probes only the ``nprobe`` nearest
cells — corpus scanned per query drops from N to ~N·nprobe/k.

Spark-first shape:
- centroids live in a broadcast (k·dim doubles — tiny even for k=65536);
- assignment is one narrow map over the corpus (no shuffle);
- centroid update is posexplode → groupBy(cluster, dim) → avg → rebuild —
  two shuffles per Lloyd iteration, both over k·dim rows;
- the driver holds only the k centroids, never the corpus.

Deterministic: init = the k lowest-vec_id vectors; ties in assignment break
to the lower cluster id. Every query this module registers is
oracle-gated (the Lloyd trainer through its integer-exact twin,
q_kmeans_lloyd_exact); tests/test_kmeans.py pins determinism and
convergence of the float ``kmeans_fit`` path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..plans.queries import register

K = 8
ITERS = 5
NPROBE = 2
TOP_K = 5
N_QUERIES = 10

# Above this k, centroid literals stop being a plan constant and start being
# a plan explosion (k structs of dim doubles each, compiled per stage) — the
# broadcast-variable + Arrow-batched pandas path takes over.
LITERAL_MAX_K = 64


def _assign_literal(
    vec_df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str
) -> DataFrame:
    """Small-k path: centroids inlined as Catalyst array literals — whole
    plan stays in codegen, zero Python. Ties → lower cluster id."""
    dist_cols = []
    for cid, c in centroids:
        arr = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dist_cols.append(F.struct(d.alias("d"), F.lit(cid).alias("cid")))
    best = F.array_min(F.array(*dist_cols))
    return vec_df.withColumn("cluster", best["cid"])


def _assign_pandas(
    vec_df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str
) -> DataFrame:
    """Large-k path: the (k, dim) centroid matrix rides a Spark broadcast
    variable (one copy per executor, not per plan) and assignment is a
    vectorized Arrow-batched pandas UDF — ||x-c||² via the matmul expansion,
    row-chunked so the (chunk, k) distance matrix stays bounded at k=65536.
    np.argmin takes the first minimum, matching the literal path's
    ties-to-lower-cid rule."""
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray([c for _, c in centroids], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
    b = vec_df.sparkSession.sparkContext.broadcast((mat, cids))

    @pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        m, ids = b.value
        m_sq = (m * m).sum(axis=1)
        out = np.empty(len(v), dtype=np.int32)
        chunk = max(1, (16 << 20) // (8 * max(len(ids), 1)))  # ≤16 MiB dists
        x_all = np.stack(v.to_numpy())
        for lo in range(0, len(v), chunk):
            x = x_all[lo : lo + chunk]
            d = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ m.T) + m_sq[None, :]
            out[lo : lo + chunk] = ids[np.argmin(d, axis=1)]
        return pd.Series(out)

    return vec_df.withColumn("cluster", nearest(F.col(vec_col)))


def _assign(
    vec_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    strategy: str | None = None,
) -> DataFrame:
    """Add ``cluster`` = argmin squared-distance to the centroids. One
    narrow map, no shuffle, on both paths; ``strategy`` forces
    'literal'/'pandas' (tests), default picks by k."""
    if strategy is None:
        strategy = "literal" if len(centroids) <= LITERAL_MAX_K else "pandas"
    fn = _assign_literal if strategy == "literal" else _assign_pandas
    return fn(vec_df, centroids, vec_col)


def kmeans_fit(
    df: DataFrame, vec_col: str = "embedding", k: int = K, iters: int = ITERS
) -> list[tuple[int, list[float]]]:
    """Lloyd's algorithm; returns [(cluster_id, centroid)]. The corpus never
    leaves the cluster — only k centroids come back to the driver per
    iteration."""
    first = df.orderBy("vec_id").limit(k).select(vec_col).collect()
    if not first:  # empty corpus: one zero centroid keeps every downstream
        # literal/broadcast well-formed; no row ever evaluates against it
        first = [([0.0],)]
    centroids = [(i, [float(x) for x in r[0]]) for i, r in enumerate(first)]
    vecs = df.select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
    for _ in range(iters):
        assigned = _assign(vecs, centroids, "v")
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
                ).alias("centroid")
            )
            .collect()
        )
        new = {r.cluster: [float(x) for x in r.centroid] for r in means}
        # empty clusters keep their previous centroid
        centroids = [(cid, new.get(cid, c)) for cid, c in centroids]
    return centroids


class _ZeroSeed:
    """Stand-in quantized seed row for an empty corpus (see qv_seeds)."""

    qv = [0] * 64


def qv_seeds(vecs: DataFrame, n: int) -> list:
    """The ``n`` lowest-vec_id quantized seed rows of ``vecs`` (columns
    vec_id, qv), or ONE all-zero stand-in when the corpus is empty: the
    centroid LITERALS built from these rows must be non-empty for the plan
    to analyze (``array_min(array())`` is an AnalysisException), while with
    zero corpus rows nothing ever evaluates against the stand-in — the
    query returns its natural same-schema empty result."""
    rows = vecs.orderBy("vec_id").limit(n).collect()
    return rows if rows else [_ZeroSeed()]


def seed_cell_struct_array(rows) -> str:
    """SQL text for the deterministic cell router shared by
    q_ann_ivf_assign, q_ann_ivf_topk and vectors.q_semantic_dedup: an
    array of named_struct('d', <exact squared distance from column ``qv``
    to each quantized seed centroid>, 'cid', i). Struct field order
    (d, cid) is load-bearing — array_min/array_sort compare field-by-field,
    which encodes ties-to-the-lower-cell-id. Rendered as one SQL string
    because K*64 F.lit() Columns cost a py4j round-trip each (see
    q_ann_pq_adc for the measurement)."""
    structs = []
    for cid, r in enumerate(rows):
        arr = "array(" + ",".join(f"{int(x)}L" for x in r.qv) + ")"
        dist = (
            f"aggregate(zip_with(qv, {arr}, (x,y) -> (x-y)*(x-y)), "
            "CAST(0 AS BIGINT), (acc,v) -> acc + v)"
        )
        structs.append(f"named_struct('d', {dist}, 'cid', {cid})")
    return "array(" + ",".join(structs) + ")"


# Shared oracle prelude for every fixed-seed-centroid query (this module's
# assign/topk + vectors.q_semantic_dedup): quantized vectors, the K lowest-
# vec_id seeds, and exact integer squared distances to each seed. One
# definition so the quantization/tie-break can never drift between oracles
# (the Spark twin is seed_cell_struct_array above).
SQL_SEED_DIST_PRELUDE = f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 4194304) AS BIGINT)) AS qv
      FROM embeddings
    ),
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, qv AS cv
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {K})
    ),
    dist AS (
      SELECT q.vec_id, s.cid,
             CAST(list_sum(list_transform(list_zip(q.qv, s.cv),
                                          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d
      FROM q, seeds s
    )"""

# per-vector norms over the shared qv — needed wherever cosine follows
SQL_SEED_NV_CTE = """
    nv AS (
      SELECT vec_id, qv,
             sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)) AS nrm
      FROM q
    )"""


@register(
    "q_ann_ivf_assign",
    oracle=f"""
    WITH {SQL_SEED_DIST_PRELUDE},
    best AS (
      SELECT vec_id, cid, d,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM dist
    )
    SELECT vec_id, cid AS cell, d AS sq_dist
    FROM best WHERE rn = 1
    ORDER BY vec_id
    """,
    doc=f"IVF cell assignment with fixed centroids: the {K} lowest-vec_id "
    "vectors seed the cells (the same deterministic init kmeans_fit uses) "
    "and every vector maps to its nearest cell by squared distance, ties to "
    "the lower cell id. This is the per-iteration assignment kernel of "
    "q_ann_ivf_topk isolated from the float-iterative Lloyd loop, so it IS "
    "SQL-expressible: distances run over 2^22-quantized int64 components "
    "(exact in both engines; 64·(2^24)² < 2^63, no overflow) and the full "
    "(vec_id, cell, sq_dist) map hash-matches the DuckDB oracle. One narrow "
    "codegen map over a centroid literal at any corpus size — no shuffle.",
)
def q_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import SPARK_QVEC

    # spread(): K quantized 64-dim distances per row on a single-file scan
    # would serialize onto one core (no-op once the scan has real splits)
    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = e.select("vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv"))
    first = qv_seeds(vecs, K)
    best = F.expr(f"array_min({seed_cell_struct_array(first)})")
    return (
        vecs.select(
            "vec_id",
            best["cid"].alias("cell"),
            best["d"].alias("sq_dist"),
        )
        .orderBy("vec_id")
    )


@register(
    "q_ann_ivf_topk",
    oracle=f"""
    WITH {SQL_SEED_DIST_PRELUDE},
    {SQL_SEED_NV_CTE},
    rnk AS (
      SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM dist
    ),
    assign AS (SELECT vec_id, cid AS cell FROM rnk WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid AS probe_cell
      FROM rnk WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}
    ),
    scored AS (
      SELECT p.query_id, an.vec_id AS neighbor_id, an.cell,
             CAST(CAST(list_sum(list_transform(list_zip(qn.qv, nb.qv),
                                               x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
               / (qn.nrm * nb.nrm) AS cosine
      FROM probes p
      JOIN assign an ON an.cell = p.probe_cell AND an.vec_id <> p.query_id
      JOIN nv nb ON nb.vec_id = an.vec_id
      JOIN nv qn ON qn.vec_id = p.query_id
    )
    SELECT query_id, neighbor_id, cell, cosine, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    doc=f"IVF ANN top-{TOP_K} with the deterministic fixed-centroid index "
    f"(the {K} lowest-vec_id vectors seed the cells, 2^22-quantized — the "
    "same kernel q_ann_ivf_assign oracles): every vector routes to its "
    f"nearest cell, each query probes its {NPROBE} nearest cells and "
    "exact-ranks only those candidates by quantized cosine. Fixing the "
    "centroids makes the ENTIRE probe+rank path SQL-expressible, so this "
    "hash-matches the DuckDB oracle end to end; the float-iterative Lloyd "
    "trainer (kmeans_fit) that refines these seeds in production stays "
    "pinned by tests/test_kmeans.py (determinism, convergence, recall). "
    "Scale shape: assignment is one narrow codegen map, the probe table is "
    "queries×nprobe rows broadcast into the candidate equi-join — corpus "
    f"scanned per query ≈ N·{NPROBE}/{K}, never all-pairs.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..plans.queries import scoped_cache
    from .dedup import SPARK_QNORM, SPARK_QVEC, spark_cosine_prequantized

    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = e.select(
        "vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv")
    ).withColumn("qnorm", F.expr(SPARK_QNORM.format(qa="qv")))
    first = qv_seeds(vecs, K)
    darr = seed_cell_struct_array(first)
    # routed corpus, reused by the query side and the candidate side
    assigned = scoped_cache(
        vecs.withColumn("cell", F.expr(f"array_min({darr})")["cid"])
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("qnorm").alias("q_norm"),
        # struct sort orders by (d, cid): ties route to the lower cell id
        F.explode(
            F.expr(f"transform(slice(array_sort({darr}), 1, {NPROBE}), s -> s.cid)")
        ).alias("probe_cell"),
    )
    cand = assigned.select(F.col("vec_id").alias("neighbor_id"), "qv", "qnorm", "cell")
    scored = cand.join(
        F.broadcast(q),
        (F.col("cell") == F.col("probe_cell"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).withColumn(
        "cosine", F.expr(spark_cosine_prequantized("q_qv", "qv", "q_norm", "qnorm"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cell", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# Integer-exact Lloyd k-means: the ITERATIVE trainer itself, hash-verified.
# Quantized int64 vectors make every distance exact; centroid updates use
# truncate-toward-zero integer-division means (DuckDB's // semantics —
# Python's // floors and drifts one unit on negative sums), so after any
# number of iterations both engines hold bit-identical integer centroids.
# This closes the "iterative training is inherently rows-only" gap for
# k-means the way the batched trainer closed it for BPE: the float Lloyd
# (kmeans_fit above) remains the production path; this is its verifiable
# integer twin, and the assignment/update dataflow is identical.

LLOYD_ITERS = 3
INERTIA_SHIFT = 1024  # SUM(d DIV 1024): keeps the exact integer inertia
# total inside BIGINT past 10^7 vectors (d ≤ 64·(2·2^22)^2 ≈ 4.5e15)

_SQL_QV_KM = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 4194304) AS BIGINT))"


def _int_cell_struct_array(cents: list[list[int]]) -> str:
    """Spark SQL text: array of named_struct('d', exact squared distance
    from column qv to each integer centroid, 'cid', i) — the
    seed_cell_struct_array renderer generalized to arbitrary centroid
    lists (post-update iterations)."""
    structs = []
    for cid, cv in enumerate(cents):
        arr = "array(" + ",".join(f"{int(x)}L" for x in cv) + ")"
        dist = (
            f"aggregate(zip_with(qv, {arr}, (x,y) -> (x-y)*(x-y)), "
            "CAST(0 AS BIGINT), (acc,v) -> acc + v)"
        )
        structs.append(f"named_struct('d', {dist}, 'cid', {cid})")
    return "array(" + ",".join(structs) + ")"


def _lloyd_oracle() -> str:
    """Iterative CTE chain: c0 (seeds) → a1/s1/c1 → … → final stats.
    Multiply-referenced CTEs are MATERIALIZED (the round-4 DuckDB
    CTE-inlining lesson); empty cells keep their previous centroid."""
    dist = (
        "CAST(list_sum(list_transform(list_zip(q.qv, c.cv), "
        "x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT)"
    )
    parts = [
        f"q AS MATERIALIZED (SELECT vec_id, {_SQL_QV_KM} AS qv FROM embeddings)",
        f"""c0 AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, qv AS cv
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {K})
    )""",
    ]
    for t in range(1, LLOYD_ITERS + 1):
        prev = f"c{t - 1}"
        parts.append(
            f"""a{t} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {dist}, c.cid) AS rn
        FROM q, {prev} c
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""s{t} AS MATERIALIZED (
      SELECT a.cid, u.pos, SUM(u.val) // COUNT(*) AS m
      FROM a{t} a JOIN (
        SELECT vec_id,
               unnest(list_transform(range(1, {64} + 1),
                                     i -> struct_pack(pos := i, val := qv[i]))) AS u
        FROM q
      ) v ON v.vec_id = a.vec_id
      GROUP BY a.cid, u.pos
    )"""
        )
        parts.append(
            f"""c{t} AS MATERIALIZED (
      SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT cid, list(m ORDER BY pos) AS cv FROM s{t} GROUP BY cid
      ) n ON n.cid = p.cid
    )"""
        )
    final = f"""
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d // {INERTIA_SHIFT}) AS BIGINT) AS inertia_kq
    FROM (
      SELECT vec_id, cid AS cell, d FROM (
        SELECT q.vec_id, c.cid, {dist} AS d,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {dist}, c.cid) AS rn
        FROM q, c{LLOYD_ITERS} c
      ) WHERE rn = 1
    ) GROUP BY cell ORDER BY cell"""
    return "WITH " + ",\n    ".join(parts) + final


@register(
    "q_kmeans_lloyd_exact",
    oracle=_lloyd_oracle(),
    doc=f"Lloyd k-means, the ITERATION ITSELF hash-verified: {LLOYD_ITERS} "
    f"full assign→update rounds over {K} centroids on 2^22-quantized "
    "integer vectors, centroid means as truncate-toward-zero integer "
    "divisions (DuckDB's // semantics; Python's floor-// drifts on "
    "negative sums — caught by this oracle), empty cells keeping their previous "
    "centroid — so both engines hold bit-identical centroids after every "
    "round, and the final per-cell membership + shifted exact inertia "
    "hash-match an iterative-CTE oracle (MATERIALIZED per the round-4 "
    "CTE-inlining lesson). Spark dataflow per round: one narrow literal-"
    "centroid assignment map (zero shuffle), one posexplode shuffle keyed "
    "on (cell, dim) with map-side partials, K×dim rows collected — the "
    "same shape as the production float trainer (kmeans_fit), which "
    "remains the at-scale path; this is its verifiable integer twin.",
)
def q_kmeans_lloyd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.queries import scoped_cache

    e = spread(load_table(spark, sf_dir, "embeddings"))
    from .dedup import SPARK_QVEC

    # cached (round-12, measured): the seed collect, every Lloyd round,
    # and the final membership pass are each their OWN action over this
    # projection — without the cache each re-scans parquet and re-runs
    # the spread shuffle + quantize (the pq_topk vecs / MLlib cache-the-
    # training-set idiom; DISK_ONLY on a cluster).
    vecs = scoped_cache(
        e.select("vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv"))
    )
    cents: list[list[int]] = [[int(x) for x in r.qv] for r in qv_seeds(vecs, K)]
    for _ in range(LLOYD_ITERS):
        best = F.expr(f"array_min({_int_cell_struct_array(cents)})")
        assigned = vecs.withColumn("cell", best["cid"])
        per = (
            assigned.select("cell", F.posexplode("qv").alias("pos0", "val"))
            .groupBy("cell", "pos0")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in per:
            # truncate-toward-zero integer mean: DuckDB's // (and Spark's
            # DIV) truncate on negatives, while Python's // floors —
            # measured one-off centroid drift on negative-sum dims before
            # this match-up
            s, n = int(r.s), int(r.n)
            m = abs(s) // n
            by_cell.setdefault(r.cell, {})[r.pos0] = -m if s < 0 else m
        cents = [
            [by_cell[c][p] for p in range(len(cents[c]))] if c in by_cell else cents[c]
            for c in range(len(cents))
        ]
    best = F.expr(f"array_min({_int_cell_struct_array(cents)})")
    return (
        vecs.select(
            best["cid"].alias("cell"),
            (best["d"] / F.lit(INERTIA_SHIFT)).cast("bigint").alias("dk"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("dk").cast("bigint").alias("inertia_kq"),
        )
        .orderBy("cell")
    )
