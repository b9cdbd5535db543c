"""Distributed top-principal-direction extraction by fixed-point POWER
ITERATION over the embeddings table — the "whiten / de-mean-direction the
embedding space" pass of an LLM-data pipeline (and the building block of
PCA dimensionality reduction), expressed the only way a 100 TB engine can
afford: the Gram matrix is NEVER materialized. Each step computes

    G·v  =  Σ_rows  q · (qᵀ v)

as ONE column-pruned scan + ONE map-side-combined aggregation (64
per-dimension sums); the direction vector lives on the driver and enters
the next step's expression as literals — exactly the logreg/PageRank
fixed-point idiom (operators/logreg.py).

Exactness: all arithmetic is integer fixed-point —

- embeddings quantize to ints at scale 2^10 (round, the shared vector
  idiom at a narrower scale chosen so every intermediate stays in int64:
  |q| <= 2^12, score <= 2^35, per-dim gradient <= 2^58 at sf3 row counts),
- per-row scores rescale by sign-split truncating division (Spark DIV and
  DuckDB // agree on non-negative operands; negatives route through ABS),
- normalization is max-norm (divide by max|component| scaled to 2^16),
  which needs no square root and keeps the whole trace in exact integers,
- a Rayleigh-style energy Σ (qᵀv / 2^16)² rides the same aggregation as
  the convergence witness.

A DuckDB oracle replays the identical K steps as an unrolled CTE chain
(:func:`pca_oracle_sql`) — value-hash equality on the full step trace
(energy, max-gradient, all 64 components per step), not approximate
agreement. Directional correctness vs a float eigensolver is pinned in
tests/test_pca.py (cosine > 0.99 to numpy's top eigenvector).

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
delegates all analytics to BigQuery and has no vector surface; this
extends the engine's native embedding toolbox (SURVEY.md north-star
extension families, next to q_embedding_gram_stats / q_semantic_dedup).

Registered as the driver gate ``q_pca_power_iteration`` in round 10 (the
round-9 queue drain); tests/test_pca.py runs the same Spark-vs-DuckDB
parity the gate runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

DIM = 64
QS = 1 << 10  # embedding quantization scale
VS = 1 << 16  # direction-vector fixed-point scale (max-norm target)
SDIV = 1 << 10  # per-row score rescale before the second multiply
RDIV = 1 << 16  # per-row score rescale for the Rayleigh energy term
STEPS = 4


def _tdiv(x: int, c: int) -> int:
    """Truncate-toward-zero division (== floor for non-negative x), the
    Python twin of the engines' sign-split expression."""
    return x // c if x >= 0 else -((-x) // c)


def _sdiv_sql(x: str, c: int, idiv: str) -> str:
    """Sign-split truncating division: identical semantics in Spark
    (``DIV``) and DuckDB (``//``) because every operand is non-negative."""
    return f"(CASE WHEN ({x}) >= 0 THEN (({x}) {idiv} {c}) ELSE -((-({x})) {idiv} {c}) END)"


def _q_exprs(elem: str) -> list[str]:
    """The 64 quantized-component expressions; ``elem`` is the engine's
    1-indexed array accessor format string."""
    return [
        f"CAST(round(CAST({elem.format(i=i + 1)} AS DOUBLE) * {QS}) AS BIGINT) AS q{i}"
        for i in range(DIM)
    ]


def _step_update(g: list[int]) -> list[int]:
    """Max-norm renormalization of the raw G·v aggregate: scale so the
    largest |component| lands at ~VS, in exact integer arithmetic."""
    m = max((abs(x) for x in g), default=0)
    d = max(m // VS, 1)
    return [_tdiv(x, d) for x in g]


def pca_power_iteration(
    spark: SparkSession, sf_dir: str, steps: int = STEPS
) -> DataFrame:
    """Run ``steps`` fixed-point power-iteration steps from the all-ones
    direction; returns one row per step: the Rayleigh energy and max
    |gradient| computed WITH the direction entering the step, plus the
    renormalized direction leaving it — integer-exact, so the whole trace
    is hash-comparable across engines."""
    from ..plans.queries import scoped_cache

    # cached (round-12): every step is its OWN action (collect), so unlike
    # the single-action subtree-dedup cases rejected this round, the cache
    # is actually hit — steps 2..K read the quantized columns from memory
    # instead of re-scanning parquet and re-quantizing (the pq_topk vecs /
    # MLlib cache-the-training-set idiom; DISK_ONLY on a cluster).
    feats = scoped_cache(
        load_table(spark, sf_dir, "embeddings").selectExpr(
            *_q_exprs("element_at(embedding, {i})")
        )
    )
    v = [VS] * DIM
    rows = []
    for step in range(1, steps + 1):
        s = " + ".join(f"(q{i} * {v[i]})" for i in range(DIM))
        proj = feats.selectExpr(
            *[f"q{i}" for i in range(DIM)],
            f"{_sdiv_sql(s, SDIV, 'DIV')} AS sp",
            f"{_sdiv_sql(s, RDIV, 'DIV')} AS sr",
        )
        aggs = [F.expr(f"SUM(q{i} * sp)").alias(f"g{i}") for i in range(DIM)]
        aggs.append(F.expr("SUM(sr * sr)").alias("ray"))
        r = proj.agg(*aggs).collect()[0]
        g = [int(r[f"g{i}"] or 0) for i in range(DIM)]
        ray = int(r["ray"] or 0)
        mx = max((abs(x) for x in g), default=0)
        v = _step_update(g)
        rows.append((step, ray, mx, *v))
    schema = "step int, ray long, mx long, " + ", ".join(
        f"v{i} long" for i in range(DIM)
    )
    return spark.createDataFrame(rows, schema).orderBy("step")


def pca_oracle_sql(steps: int = STEPS) -> str:
    """The identical K steps as a DuckDB CTE chain: projection CTE ``p{i}``
    rescales the per-row score with the direction entering step i, gradient
    CTE ``g{i}`` aggregates (cast to BIGINT — DuckDB widens integer SUMs to
    HUGEINT), ``w{i}`` applies the exact max-norm renormalization."""
    q_cols = ",\n        ".join(_q_exprs("embedding[{i}]"))
    parts = [f"q AS MATERIALIZED (\n        SELECT {q_cols}\n        FROM embeddings)"]
    prev_from = "q"
    prev_v = [str(VS)] * DIM
    for i in range(1, steps + 1):
        s = " + ".join(f"(q{j} * {prev_v[j]})" for j in range(DIM))
        qs = ", ".join(f"q{j}" for j in range(DIM))
        parts.append(
            f"ps{i} AS (SELECT {qs}, ({s}) AS s FROM {prev_from})"
        )
        parts.append(
            f"p{i} AS (SELECT {qs}, {_sdiv_sql('s', SDIV, '//')} AS sp, "
            f"{_sdiv_sql('s', RDIV, '//')} AS sr FROM ps{i})"
        )
        # COALESCE: SUM over zero rows is NULL in DuckDB and would poison
        # ray/mx and every v component on an empty embeddings table, while
        # the Spark side coalesces to integer zeros (`int(r[...] or 0)`) —
        # the logreg nn.n = 0 bug class (round-9 advice)
        g_cols = ",\n            ".join(
            f"CAST(COALESCE(SUM(q{j} * sp), 0) AS BIGINT) AS g{j}"
            for j in range(DIM)
        )
        parts.append(
            f"g{i} AS MATERIALIZED (\n        SELECT {g_cols},\n"
            f"            CAST(COALESCE(SUM(sr * sr), 0) AS BIGINT) AS ray FROM p{i})"
        )
        greatest = ", ".join(f"ABS(g{j})" for j in range(DIM))
        parts.append(f"m{i} AS (SELECT GREATEST({greatest}) AS mx, ray FROM g{i})")
        w_cols = ",\n            ".join(
            f"CAST({_sdiv_sql(f'g{j}', f'GREATEST(mx // {VS}, 1)', '//')} AS BIGINT) AS v{j}"
            for j in range(DIM)
        )
        parts.append(
            f"w{i} AS MATERIALIZED (\n        SELECT {w_cols} FROM g{i}, m{i})"
        )
        prev_from = f"q, w{i} w"
        prev_v = [f"w.v{j}" for j in range(DIM)]
    v_names = ", ".join(f"v{j}" for j in range(DIM))
    selects = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, m{i}.ray, CAST(m{i}.mx AS BIGINT) AS mx, w{i}.* "
        f"FROM m{i}, w{i}"
        for i in range(1, steps + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(step AS INTEGER) AS step, ray, mx, {v_names} FROM (\n"
        + f"    {selects}\n    ) ORDER BY step"
    )


# ---------------------------------------------------------------------------
# driver gate (round-10 registration of the round-9 queue)

from ..plans.queries import register  # noqa: E402  (after the helpers it wraps)


@register(
    "q_pca_power_iteration",
    oracle=pca_oracle_sql(),
    doc="Gram-free top-principal-direction extraction by INTEGER "
    "fixed-point power iteration over the embeddings table: each of the "
    "4 steps computes G·v = Σ q·(qᵀv) as ONE column-pruned scan + ONE "
    "map-side-combined aggregation (64 per-dimension sums + the Rayleigh "
    "energy witness); the direction vector lives on the driver and "
    "enters the next step as literals; renormalization is exact integer "
    "max-norm. The Gram matrix is never materialized — the only shape "
    "that survives 100 TB. DuckDB replays the identical steps as an "
    "unrolled CTE chain; the gate is value-hash equality on the full "
    "step trace (energy, max-gradient, all 64 components per step). "
    "Directional correctness vs a float eigensolver is pinned in "
    "tests/test_pca.py (|cos| > 0.99 on a planted-spike fixture).",
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca_power_iteration(spark, sf_dir)
