"""Product-quantization (PQ) approximate nearest-neighbor search.

The third classic ANN scale path next to SRP-LSH (operators/similarity.py)
and IVF (operators/kmeans.py): each D-dim vector is split into M subvectors,
each subspace is k-means-quantized to K centroids, and a vector is stored as
M small integer codes (M bytes at K=256, M nibbles at K=16) instead of D
floats. Queries scan codes with asymmetric distance computation (ADC): a
per-query lookup table LUT[m][k] = ||q_m − c_{m,k}||² turns each candidate's
approximate distance into M array lookups — no float vector is touched until
a final exact re-rank of the short candidate list. At 100 TB this is the
difference between scanning 256 GB of codes and 25 TB of raw vectors
(D=64, M=4): PQ compresses the scan, IVF (composable with this index —
assign codes within coarse cells) prunes it.

Spark-first shape:
- training is ONE joint Lloyd loop for all M subspaces: the corpus explodes
  to (vec_id, m, subvec) rows once and every iteration runs one assignment
  map + one (m, cluster, pos)-keyed average — two shuffles per iteration
  TOTAL, not per subspace;
- the M×K×(D/M) centroid tensor is a Catalyst literal (1 024 doubles at the
  defaults) so encoding and LUT construction stay in whole-stage codegen,
  zero Python;
- the ADC scan is a broadcast of the tiny query-side LUT table across the
  code list — one corpus pass, sub-linear bytes;
- the driver only ever holds centroids (M×K rows), never the corpus.

Deterministic: init = subvectors of the K lowest-vec_id vectors per
subspace; assignment ties break to the lower code. The registered
q_ann_pq_topk runs the whole pipeline — training included — over
2^22-quantized integer vectors with truncate-toward-zero integer-division
means, so the trained codebooks are bit-identical across engines and the
query is fully hash-gated against an iterative-CTE DuckDB oracle
(the q_kmeans_lloyd_exact recipe applied per subspace). The float-centroid
trainer (pq_fit) remains the production path; its determinism, code shape,
and recall-vs-brute-force are pinned by tests/test_pq.py.

Reference parity: the reference engine (fe-malveira-87/poc-juma-etl) has no
vector search at all — this extends the engine's LLM-data-pipeline surface
(SURVEY.md north-star scope) alongside the other ANN variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..plans.queries import register
from .kmeans import qv_seeds

M = 4  # subspaces
K = 16  # centroids per subspace (4-bit codes)
ITERS = 5
TOP_K = 5
RERANK = 4 * TOP_K  # ADC candidates kept for exact re-ranking
N_QUERIES = 10

Centroids = list[list[list[float]]]  # [m][k] -> subcentroid (D/M floats)


def _sq_dist(a, b) -> F.Column:
    """||a − b||² as a Catalyst fold — stays in codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cent_lit(centroids: Centroids) -> F.Column:
    """The M×K×(D/M) centroid tensor as one array literal."""
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in per_m])
            for per_m in centroids
        ]
    )


def _nearest_code(sv, cents_for_m) -> F.Column:
    """argmin_k ||sv − c_k||² with ties to the lower k. 0-based."""
    scored = F.transform(
        cents_for_m, lambda c, i: F.struct(_sq_dist(sv, c).alias("d"), i.alias("cid"))
    )
    return F.array_min(scored)["cid"]


def _subvectors(v, dim: int, m: int) -> list[F.Column]:
    d = dim // m
    return [F.slice(v, i * d + 1, d) for i in range(m)]


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = M,
    k: int = K,
    iters: int = ITERS,
) -> Centroids:
    """Joint Lloyd training of all M sub-quantizers. Two shuffles per
    iteration total; only M×K×(dim/m) centroid floats reach the driver."""
    d = dim // m
    first = df.orderBy("vec_id").limit(k).select(vec_col).collect()
    if not first:  # empty corpus: one zero codeword per sub-quantizer keeps
        # the centroid literals analyzable; nothing evaluates against them
        first = [([0.0] * dim,)]
    centroids: Centroids = [
        [[float(x) for x in r[0][mi * d : (mi + 1) * d]] for r in first]
        for mi in range(m)
    ]
    v = F.col(vec_col).cast("array<double>")
    subs = df.select(
        "vec_id", F.posexplode(F.array(*_subvectors(v, dim, m))).alias("m", "sv")
    )
    for _ in range(iters):
        cl = F.element_at(_cent_lit(centroids), F.col("m") + 1)
        assigned = subs.withColumn("code", _nearest_code(F.col("sv"), cl))
        means = (
            assigned.select("m", "code", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "code", "pos")
            .agg(F.avg("val").alias("c"))
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.c
                ).alias("centroid")
            )
            .collect()
        )
        new = {(r.m, r.code): [float(x) for x in r.centroid] for r in means}
        # empty cells keep their previous centroid
        centroids = [
            [new.get((mi, ki), centroids[mi][ki]) for ki in range(k)]
            for mi in range(m)
        ]
    return centroids


def pq_encode(
    df: DataFrame,
    centroids: Centroids,
    vec_col: str = "embedding",
    dim: int = 64,
    out_col: str = "codes",
) -> DataFrame:
    """Add ``out_col`` = array<int> of M codes. One narrow codegen map —
    no shuffle, no Python."""
    m = len(centroids)
    v = F.col(vec_col).cast("array<double>")
    lits = _cent_lit(centroids)
    codes = F.array(
        *[
            _nearest_code(sv, F.element_at(lits, mi + 1))
            for mi, sv in enumerate(_subvectors(v, dim, m))
        ]
    )
    return df.withColumn(out_col, codes)


@register(
    "q_ann_pq_adc",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 4194304) AS BIGINT)) AS qv
      FROM embeddings
    ),
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS k, qv
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {K})
    ),
    cb AS (
      SELECT CAST(r.m AS INTEGER) AS m, k,
             list_slice(qv, r.m * {64 // M} + 1, (r.m + 1) * {64 // M}) AS cv
      FROM seeds, range(0, {M}) r(m)
    ),
    subs AS (
      SELECT vec_id, CAST(r.m AS INTEGER) AS m,
             list_slice(qv, r.m * {64 // M} + 1, (r.m + 1) * {64 // M}) AS sv
      FROM q, range(0, {M}) r(m)
    ),
    dists AS (
      SELECT s.vec_id, s.m, c.k,
             CAST(list_sum(list_transform(list_zip(s.sv, c.cv),
                                          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d
      FROM subs s JOIN cb c ON c.m = s.m
    ),
    enc AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT l.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM enc e JOIN dists l ON l.m = e.m AND l.k = e.code
      WHERE l.vec_id < {N_QUERIES} AND e.vec_id <> l.vec_id
      GROUP BY l.vec_id, e.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rk AS INTEGER) AS rk FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    doc=f"PQ ADC scan with fixed codebooks: the {K} lowest-vec_id vectors "
    f"seed each of the {M} sub-quantizers (pq_fit's deterministic init), the "
    "corpus is encoded to nearest sub-centroids (ties to the lower code), "
    f"and queries rank neighbors by the summed per-subspace LUT distances — "
    "the ADC kernel of q_ann_pq_topk isolated from the float-iterative Lloyd "
    "loop, making it SQL-expressible: all distances run over 2^22-quantized "
    "int64 components, exact in both engines, so the top-k hash-matches the "
    "DuckDB oracle. Corpus side is one codegen encode map + a broadcast of "
    "the 10-query LUT table — no shuffle grows with corpus size.",
)
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .dedup import SPARK_QVEC

    d = 64 // M
    # spread(): the encode map evaluates M*K subspace distances per row; a
    # single-file scan would run the whole corpus on one core (no-op at scale)
    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = e.select("vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv"))
    first = qv_seeds(vecs, K)
    # codebook[m][k] = m-th quantized subvector of the k-th seed
    cb = [[[int(x) for x in r.qv[mi * d : (mi + 1) * d]] for r in first] for mi in range(M)]

    # The M*K centroid literals are rendered as ONE SQL string and parsed in
    # a single expr() call: building the same tree from 1024 F.lit() Column
    # objects costs ~2 s of py4j round-trips per invocation (measured at
    # sf0.1) before any job runs — string rendering is microseconds.
    def arr(vals: list[int]) -> str:
        return "array(" + ",".join(f"{v}L" for v in vals) + ")"

    def sq_dist(sv: str, cv: list[int]) -> str:
        return (
            f"aggregate(zip_with({sv}, {arr(cv)}, (x,y) -> (x-y)*(x-y)), "
            "CAST(0 AS BIGINT), (acc,v) -> acc + v)"
        )

    def sv(mi: int) -> str:
        return f"slice(qv, {mi * d + 1}, {d})"

    codes = "array(" + ",".join(
        "array_min(array("
        + ",".join(
            f"named_struct('d', {sq_dist(sv(mi), cb[mi][k])}, 'cid', {k})"
            for k in range(len(cb[mi]))
        )
        + ")).cid"
        for mi in range(M)
    ) + ")"
    coded = vecs.select(F.col("vec_id").alias("neighbor_id"), F.expr(codes).alias("codes"))
    luts = "array(" + ",".join(
        "array(" + ",".join(sq_dist(sv(mi), cb[mi][k]) for k in range(len(cb[mi]))) + ")"
        for mi in range(M)
    ) + ")"
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.expr(luts).alias("luts")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("luts"), lambda c, lut: F.element_at(lut, c + 1)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        coded.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", adc)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rk")
        .orderBy("query_id", "rk")
    )


def _arr_sql(vals: list[int]) -> str:
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _sq_dist_sql(sv: str, cv: list[int]) -> str:
    """Spark SQL text: exact int64 ||sv − cv||² against a centroid literal."""
    return (
        f"aggregate(zip_with({sv}, {_arr_sql(cv)}, (x,y) -> (x-y)*(x-y)), "
        "CAST(0 AS BIGINT), (acc,v) -> acc + v)"
    )


def _pq_lloyd_oracle() -> str:
    """DuckDB twin of the integer-exact PQ pipeline: joint Lloyd training of
    all M sub-quantizers as an iterative CTE chain (c0 seeds → a1/s1/c1 → …),
    then encode, query LUTs, ADC candidate ranking, and quantized-cosine
    re-rank. Truncate-toward-zero integer-division means (``//``) and
    MATERIALIZED multiply-referenced CTEs follow q_kmeans_lloyd_exact."""
    from .dedup import SQL_QDOT, SQL_QNORM, SQL_QVEC

    d = 64 // M
    dist = (
        "CAST(list_sum(list_transform(list_zip(s.sv, c.cv), "
        "x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT)"
    )
    qvec = SQL_QVEC.format(a="embedding")
    parts = [
        f"q AS MATERIALIZED (SELECT vec_id, {qvec} AS qv FROM embeddings)",
        f"""subs AS MATERIALIZED (
      SELECT vec_id, CAST(r.m AS INTEGER) AS m,
             list_slice(qv, r.m * {d} + 1, (r.m + 1) * {d}) AS sv
      FROM q, range(0, {M}) r(m)
    )""",
        f"""c0 AS MATERIALIZED (
      SELECT m, CAST(ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INTEGER) AS k,
             sv AS cv
      FROM subs WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT {K})
    )""",
    ]
    for t in range(1, ITERS + 1):
        prev = f"c{t - 1}"
        parts.append(
            f"""a{t} AS MATERIALIZED (
      SELECT vec_id, m, k AS code FROM (
        SELECT s.vec_id, s.m, c.k,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {dist}, c.k) AS rn
        FROM subs s JOIN {prev} c ON c.m = s.m
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""s{t} AS MATERIALIZED (
      SELECT a.m, a.code, u.pos, SUM(u.val) // COUNT(*) AS mval
      FROM a{t} a JOIN (
        SELECT vec_id, m,
               unnest(list_transform(range(1, {d} + 1),
                                     i -> struct_pack(pos := i, val := sv[i]))) AS u
        FROM subs
      ) v ON v.vec_id = a.vec_id AND v.m = a.m
      GROUP BY a.m, a.code, u.pos
    )"""
        )
        parts.append(
            f"""c{t} AS MATERIALIZED (
      SELECT p.m, p.k, COALESCE(n.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT m, code, list(mval ORDER BY pos) AS cv FROM s{t} GROUP BY m, code
      ) n ON n.m = p.m AND n.code = p.k
    )"""
        )
    qdot = SQL_QDOT.format(qa="qq.qv", qb="nq.qv")
    qn = SQL_QNORM.format(qa="qq.qv")
    nn = SQL_QNORM.format(qa="nq.qv")
    parts.append(
        f"""enc AS MATERIALIZED (
      SELECT vec_id, m, k AS code FROM (
        SELECT s.vec_id, s.m, c.k,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {dist}, c.k) AS rn
        FROM subs s JOIN c{ITERS} c ON c.m = s.m
      ) WHERE rn = 1
    )"""
    )
    parts.append(
        f"""luts AS MATERIALIZED (
      SELECT s.vec_id, s.m, c.k, {dist} AS d
      FROM subs s JOIN c{ITERS} c ON c.m = s.m
      WHERE s.vec_id < {N_QUERIES}
    )"""
    )
    parts.append(
        f"""adc AS (
      SELECT l.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM enc e JOIN luts l ON l.m = e.m AND l.k = e.code
      WHERE e.vec_id <> l.vec_id
      GROUP BY l.vec_id, e.vec_id
    )""",
    )
    parts.append(
        f"""cand AS (
      SELECT query_id, neighbor_id, adc_dist FROM (
        SELECT query_id, neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS crn
        FROM adc
      ) WHERE crn <= {RERANK}
    )""",
    )
    parts.append(
        f"""rr AS (
      SELECT c.query_id, c.neighbor_id, c.adc_dist,
             CAST({qdot} AS DOUBLE) / ({qn} * {nn}) AS cosine
      FROM cand c JOIN q qq ON qq.vec_id = c.query_id
                  JOIN q nq ON nq.vec_id = c.neighbor_id
    )""",
    )
    final = f"""
    SELECT query_id, neighbor_id, adc_dist, cosine, CAST(rk AS INTEGER) AS rk FROM (
      SELECT query_id, neighbor_id, adc_dist, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      FROM rr
    ) WHERE rk <= {TOP_K}
    ORDER BY query_id, rk"""
    return "WITH " + ",\n    ".join(parts) + final


@register(
    "q_ann_pq_topk",
    oracle=_pq_lloyd_oracle(),
    doc=f"PQ ANN top-{TOP_K}, TRAINING INCLUDED in the hash gate: a "
    f"{M}×{K}-centroid product quantizer is Lloyd-trained jointly for "
    f"{ITERS} iterations over 2^22-quantized integer vectors (deterministic "
    "lowest-vec_id seeds, ties to the lower code, truncate-toward-zero "
    "integer-division means, empty cells carrying forward — the "
    "q_kmeans_lloyd_exact arithmetic applied per subspace), so both engines "
    f"hold bit-identical codebooks after every round. Each vector compresses "
    f"to {M} 4-bit codes; queries ADC-scan the code list via broadcast int64 "
    f"lookup tables, keep {RERANK} candidates, and exact-rank those with the "
    "bit-exact quantized cosine. Spark dataflow per training round: one "
    "narrow literal-centroid assignment map (zero shuffle) + one "
    "(m,code,pos)-keyed shuffle with map-side partials; only M×K×(D/M) "
    "integers ever reach the driver. The float-centroid trainer (pq_fit) "
    "remains the production path, pinned by tests/test_pq.py.",
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .dedup import SPARK_QNORM, SPARK_QVEC, spark_cosine_prequantized

    from ..plans.queries import scoped_cache

    d = 64 // M
    e = spread(load_table(spark, sf_dir, "embeddings"))
    # cached: the quantized corpus is read by every training iteration, the
    # seed collect, the final encode, and the query side — the standard
    # cache-the-training-set Lloyd shape (what MLlib KMeans does); without
    # it each iteration re-scans parquet and re-quantizes
    vecs = scoped_cache(
        e.select("vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv"))
    )
    first = qv_seeds(vecs, K)
    # cb[m][k] = m-th quantized subvector of the k-th seed
    cb: list[list[list[int]]] = [
        [[int(x) for x in r.qv[mi * d : (mi + 1) * d]] for r in first]
        for mi in range(M)
    ]

    # joint integer Lloyd: the corpus explodes to (vec_id, m, sv) once; each
    # iteration is one literal-tensor assignment map + one (m,code,pos)
    # aggregation — two shuffles per iteration TOTAL, not per subspace
    subs = vecs.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("qv", mi * d + 1, d) for mi in range(M)])
        ).alias("m", "sv"),
    )

    def assign_expr(cents: list[list[list[int]]]) -> str:
        # CASE on m, not element_at(array(...), m+1): CreateArray evaluates
        # ALL M subspace distance arrays per row before element_at picks
        # one, so every training row paid M*K distance computations for
        # the K it needs; CASE evaluates only the matched branch — a 4x
        # cut in per-row assignment arithmetic (guide §1.2 step 2,
        # measured round 12). Values identical: m is always in [0, M).
        #
        # Round-13, measured and REJECTED: replacing the per-iteration
        # literal tensor with a broadcast codebook DataFrame + higher-order
        # assignment (`array_min(transform(cb[m], ...))`) to amortize the
        # ~0.2 s/iteration Catalyst cost of this M*K*d-literal tree. Codes
        # identical, but 0.75x warm (0.57 vs 0.43 s/iteration): Spark's
        # higher-order array lambdas evaluate interpreted, which costs more
        # than analyzing the literal tree that whole-stage codegen then
        # compiles to straight-line arithmetic. A trivial-assignment floor
        # measured 0.22 s/iteration — the residual per-step cost is plan
        # processing + scheduling, inherent to one job per Lloyd round.
        branches = " ".join(
            "WHEN {mi} THEN array_min(array({structs})).cid".format(
                mi=mi,
                structs=",".join(
                    f"named_struct('d', {_sq_dist_sql('sv', cents[mi][k])}, 'cid', {k})"
                    for k in range(len(cents[mi]))
                ),
            )
            for mi in range(M)
        )
        return f"CASE m {branches} END"

    for _ in range(ITERS):
        per = (
            subs.withColumn("code", F.expr(assign_expr(cb)))
            .select("m", "code", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "code", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new: dict[tuple[int, int], dict[int, int]] = {}
        for r in per:
            # truncate-toward-zero integer mean (DuckDB's // / Spark's DIV);
            # Python's floor-// drifts one unit on negative sums
            s, n = int(r.s), int(r.n)
            mv = abs(s) // n
            new.setdefault((r.m, r.code), {})[r.pos] = -mv if s < 0 else mv
        cb = [
            [
                [new[(mi, k)][p] for p in range(d)] if (mi, k) in new else cb[mi][k]
                for k in range(len(cb[mi]))
            ]
            for mi in range(M)
        ]

    # encode the corpus against the FINAL codebooks — rendered as one SQL
    # string (1 024 F.lit() Columns cost ~2 s of py4j round-trips; see
    # q_ann_pq_adc)
    codes = "array(" + ",".join(
        "array_min(array("
        + ",".join(
            f"named_struct('d', {_sq_dist_sql(f'slice(qv, {mi * d + 1}, {d})', cb[mi][k])}, 'cid', {k})"
            for k in range(len(cb[mi]))
        )
        + ")).cid"
        for mi in range(M)
    ) + ")"
    coded = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(codes).alias("codes"),
        F.col("qv").alias("n_qv"),
    ).withColumn("n_norm", F.expr(SPARK_QNORM.format(qa="n_qv")))

    luts = "array(" + ",".join(
        "array("
        + ",".join(
            _sq_dist_sql(f"slice(qv, {mi * d + 1}, {d})", cb[mi][k])
            for k in range(len(cb[mi]))
        )
        + ")"
        for mi in range(M)
    ) + ")"
    q = (
        vecs.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(luts).alias("luts"),
            F.col("qv").alias("q_qv"),
        )
        .withColumn("q_norm", F.expr(SPARK_QNORM.format(qa="q_qv")))
    )

    # ADC scan: one corpus pass, approx distance = Σ_m LUT[m][code_m], int64
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("luts"), lambda c, lut: F.element_at(lut, c + 1)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = coded.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("adc_dist", adc)
    w_adc = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    cands = scored.withColumn("c_rk", F.row_number().over(w_adc)).filter(
        F.col("c_rk") <= RERANK
    )
    # exact re-rank of the short list only
    cosine = F.expr(spark_cosine_prequantized("q_qv", "n_qv", "q_norm", "n_norm"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cands.withColumn("cosine", cosine)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


# ---------------------------------------------------------------------------
# Composed IVF + PQ index (the FAISS IVFADC layout, by_residual=false):
# a coarse quantizer routes every vector to a cell; queries probe only their
# NPROBE nearest cells and ADC-scan the codes stored there. The scan cost
# per query drops from O(corpus) to O(corpus * NPROBE / NCELLS) — the
# composition that makes billion-vector ANN tractable. Both codebooks are
# the deterministic lowest-vec_id seeds (q_ann_ivf_assign / q_ann_pq_adc),
# so the whole index — routing, codes, probes, ranks — is int-exact and
# fully SQL-oracled.
NCELLS = 8
NPROBE = 2


@register(
    "q_ann_ivfpq_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 4194304) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cseeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, qv AS cv
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {NCELLS})
    ),
    cdist AS (
      SELECT q.vec_id, s.cid,
             CAST(list_sum(list_transform(list_zip(q.qv, s.cv),
                                          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d
      FROM q, cseeds s
    ),
    cells AS (  -- coarse routing: every vector's nearest cell
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM cdist
      ) WHERE rn = 1
    ),
    probes AS (  -- queries probe their {NPROBE} nearest cells
      SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM cdist WHERE vec_id < {N_QUERIES}
      ) WHERE rn <= {NPROBE}
    ),
    pseeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS k, qv
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {K})
    ),
    cb AS (
      SELECT CAST(r.m AS INTEGER) AS m, k,
             list_slice(qv, r.m * {64 // M} + 1, (r.m + 1) * {64 // M}) AS cv
      FROM pseeds, range(0, {M}) r(m)
    ),
    subs AS (
      SELECT vec_id, CAST(r.m AS INTEGER) AS m,
             list_slice(qv, r.m * {64 // M} + 1, (r.m + 1) * {64 // M}) AS sv
      FROM q, range(0, {M}) r(m)
    ),
    dists AS (
      SELECT s.vec_id, s.m, c.k,
             CAST(list_sum(list_transform(list_zip(s.sv, c.cv),
                                          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d
      FROM subs s JOIN cb c ON c.m = s.m
    ),
    enc AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    adc AS (  -- ADC over probed cells only
      SELECT l.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM enc e
      JOIN dists l ON l.m = e.m AND l.k = e.code
      JOIN cells c ON c.vec_id = e.vec_id
      JOIN probes p ON p.query_id = l.vec_id AND p.cell = c.cell
      WHERE l.vec_id < {N_QUERIES} AND e.vec_id <> l.vec_id
      GROUP BY l.vec_id, e.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rk AS INTEGER) AS rk FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    doc=f"IVF+PQ composed index (FAISS IVFADC layout, by_residual=false): "
    f"a {NCELLS}-cell coarse quantizer routes every vector at encode time; "
    f"queries probe their {NPROBE} nearest cells and ADC-scan only the "
    f"codes stored there — per-query scan cost O(corpus·{NPROBE}/{NCELLS}) "
    "instead of O(corpus), the composition that makes billion-vector ANN "
    "tractable. Corpus side is one codegen map (cell + codes) and never "
    "shuffles on corpus size; the probe table is queries×nprobe rows and "
    "rides a broadcast into the candidate join. Deterministic seeded "
    "codebooks keep the whole index int-exact and SQL-oracled.",
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .dedup import SPARK_QVEC

    d = 64 // M
    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = e.select("vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv"))
    first = qv_seeds(vecs, max(K, NCELLS))
    coarse = [[int(x) for x in r.qv] for r in first[:NCELLS]]
    cb = [[[int(x) for x in r.qv[mi * d : (mi + 1) * d]] for r in first[:K]] for mi in range(M)]

    def arr(vals: list[int]) -> str:
        return "array(" + ",".join(f"{v}L" for v in vals) + ")"

    def sq_dist(sv: str, cv: list[int]) -> str:
        return (
            f"aggregate(zip_with({sv}, {arr(cv)}, (x,y) -> (x-y)*(x-y)), "
            "CAST(0 AS BIGINT), (acc,v) -> acc + v)"
        )

    def sv(mi: int) -> str:
        return f"slice(qv, {mi * d + 1}, {d})"

    # coarse distances to all cells as a struct array: the corpus side only
    # needs the argmin (array_min — no per-row sort); the 10-query probe
    # side sorts to take the NPROBE nearest
    cstructs = (
        "array("
        + ",".join(
            f"named_struct('d', {sq_dist('qv', coarse[cid])}, 'cid', {cid})"
            for cid in range(len(coarse))
        )
        + ")"
    )
    csorted = f"array_sort({cstructs})"
    codes = "array(" + ",".join(
        "array_min(array("
        + ",".join(
            f"named_struct('d', {sq_dist(sv(mi), cb[mi][k])}, 'cid', {k})"
            for k in range(len(cb[mi]))
        )
        + ")).cid"
        for mi in range(M)
    ) + ")"
    coded = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(f"array_min({cstructs}).cid").alias("cell"),
        F.expr(codes).alias("codes"),
    )
    luts = "array(" + ",".join(
        "array(" + ",".join(sq_dist(sv(mi), cb[mi][k]) for k in range(len(cb[mi]))) + ")"
        for mi in range(M)
    ) + ")"
    probes = (
        vecs.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(f"transform(slice({csorted}, 1, {NPROBE}), s -> s.cid)").alias("pcells"),
            F.expr(luts).alias("luts"),
        )
        .select("query_id", F.explode("pcells").alias("p_cell"), "luts")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("luts"), lambda c, lut: F.element_at(lut, c + 1)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        coded.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("p_cell"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("adc_dist", adc)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rk")
        .orderBy("query_id", "rk")
    )


@register(
    "q_ann_ivfpq_residual_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 4194304) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cseeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, qv AS cv
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {NCELLS})
    ),
    cdist AS (
      SELECT q.vec_id, s.cid,
             CAST(list_sum(list_transform(list_zip(q.qv, s.cv),
                                          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d
      FROM q, cseeds s
    ),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM cdist
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM cdist WHERE vec_id < {N_QUERIES}
      ) WHERE rn <= {NPROBE}
    ),
    res AS (  -- every vector's residual from its own cell's centroid
      SELECT q.vec_id,
             list_transform(list_zip(q.qv, s.cv), x -> x[1] - x[2]) AS rv
      FROM q JOIN cells c ON c.vec_id = q.vec_id
             JOIN cseeds s ON s.cid = c.cell
    ),
    pseeds AS (  -- PQ codebooks seeded from the first K vectors' RESIDUALS
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS k, rv
      FROM (SELECT vec_id, rv FROM res ORDER BY vec_id LIMIT {K})
    ),
    cb AS (
      SELECT CAST(r.m AS INTEGER) AS m, k,
             list_slice(rv, r.m * {64 // M} + 1, (r.m + 1) * {64 // M}) AS cv
      FROM pseeds, range(0, {M}) r(m)
    ),
    subs AS (
      SELECT vec_id, CAST(r.m AS INTEGER) AS m,
             list_slice(rv, r.m * {64 // M} + 1, (r.m + 1) * {64 // M}) AS sv
      FROM res, range(0, {M}) r(m)
    ),
    dists AS (
      SELECT s.vec_id, s.m, c.k,
             CAST(list_sum(list_transform(list_zip(s.sv, c.cv),
                                          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d
      FROM subs s JOIN cb c ON c.m = s.m
    ),
    enc AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    qres AS (  -- query residual is per PROBED cell, not the query's own
      SELECT p.query_id, p.cell,
             list_transform(list_zip(q.qv, s.cv), x -> x[1] - x[2]) AS rq
      FROM probes p JOIN q ON q.vec_id = p.query_id
                    JOIN cseeds s ON s.cid = p.cell
    ),
    qdists AS (
      SELECT u.query_id, u.cell, u.m, c.k,
             CAST(list_sum(list_transform(list_zip(u.sv, c.cv),
                                          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d
      FROM (
        SELECT query_id, cell, CAST(r.m AS INTEGER) AS m,
               list_slice(rq, r.m * {64 // M} + 1, (r.m + 1) * {64 // M}) AS sv
        FROM qres, range(0, {M}) r(m)
      ) u JOIN cb c ON c.m = u.m
    ),
    adc AS (
      SELECT l.query_id, e.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM enc e
      JOIN cells c ON c.vec_id = e.vec_id
      JOIN qdists l ON l.cell = c.cell AND l.m = e.m AND l.k = e.code
      WHERE e.vec_id <> l.query_id
      GROUP BY l.query_id, e.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rk AS INTEGER) AS rk FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    doc=f"Residual IVF+PQ (FAISS IVFADC with by_residual=true — the "
    "production default): vectors are PQ-coded on their RESIDUAL from the "
    "coarse centroid, which concentrates the code range on the within-cell "
    "spread (tighter quantization than coding raw vectors), and each query "
    "builds a separate LUT per probed cell from its own per-cell residual. "
    "Corpus side stays one codegen map — the cell branch selects the "
    "centroid from an array-of-arrays literal in-row; nothing per-vector "
    "reaches the driver. All residual arithmetic is int64-exact, so the "
    "full composed index hash-matches the oracle.",
)
def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .dedup import SPARK_QVEC

    d = 64 // M
    e = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = e.select("vec_id", F.expr(SPARK_QVEC.format(a="embedding")).alias("qv"))
    first = qv_seeds(vecs, max(K, NCELLS))
    coarse = [[int(x) for x in r.qv] for r in first[:NCELLS]]

    def arr(vals: list[int]) -> str:
        return "array(" + ",".join(f"{v}L" for v in vals) + ")"

    def sq_dist_lit(sv: str, cv: list[int]) -> str:
        return (
            f"aggregate(zip_with({sv}, {arr(cv)}, (x,y) -> (x-y)*(x-y)), "
            "CAST(0 AS BIGINT), (acc,v) -> acc + v)"
        )

    cstructs = (
        "array("
        + ",".join(
            f"named_struct('d', {sq_dist_lit('qv', coarse[cid])}, 'cid', {cid})"
            for cid in range(len(coarse))
        )
        + ")"
    )
    coarse_lits = "array(" + ",".join(arr(cv) for cv in coarse) + ")"
    # residual of each seed wrt ITS OWN cell, computed driver-side on the
    # K collected seed rows (codebook-sized, same as pq_fit's seeding)
    def own_cell(qv: list[int]) -> int:
        best = min(
            range(len(coarse)),
            key=lambda c: (sum((a - b) ** 2 for a, b in zip(qv, coarse[c])), c),
        )
        return best

    cb = []
    for mi in range(M):
        row = []
        for r in first[:K]:
            qv = [int(x) for x in r.qv]
            cv = coarse[own_cell(qv)]
            rv = [a - b for a, b in zip(qv, cv)]
            row.append(rv[mi * d : (mi + 1) * d])
        cb.append(row)

    # corpus side: cell, residual, codes — one codegen map
    cell_expr = f"array_min({cstructs}).cid"
    res_expr = f"zip_with(qv, element_at({coarse_lits}, cell + 1), (x,y) -> x - y)"

    def sv(mi: int) -> str:
        return f"slice(rv, {mi * d + 1}, {d})"

    codes = "array(" + ",".join(
        "array_min(array("
        + ",".join(
            f"named_struct('d', {sq_dist_lit(sv(mi), cb[mi][k])}, 'cid', {k})"
            for k in range(len(cb[mi]))
        )
        + ")).cid"
        for mi in range(M)
    ) + ")"
    coded = (
        vecs.withColumn("cell", F.expr(cell_expr))
        .withColumn("rv", F.expr(res_expr))
        .select(F.col("vec_id").alias("neighbor_id"), "cell", F.expr(codes).alias("codes"))
    )
    # query side: one row per (query, probed cell) with that cell's LUTs
    csorted = f"array_sort({cstructs})"
    luts = "array(" + ",".join(
        "array(" + ",".join(sq_dist_lit(sv(mi), cb[mi][k]) for k in range(len(cb[mi]))) + ")"
        for mi in range(M)
    ) + ")"
    probes = (
        vecs.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "qv",
            F.explode(
                F.expr(f"transform(slice({csorted}, 1, {NPROBE}), s -> s.cid)")
            ).alias("p_cell"),
        )
        .withColumn(
            "rv", F.expr(f"zip_with(qv, element_at({coarse_lits}, p_cell + 1), (x,y) -> x - y)")
        )
        .select("query_id", "p_cell", F.expr(luts).alias("luts"))
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("luts"), lambda c, lut: F.element_at(lut, c + 1)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        coded.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("p_cell"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("adc_dist", adc)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rk")
        .orderBy("query_id", "rk")
    )
