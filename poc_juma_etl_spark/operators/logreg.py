"""Distributed full-batch logistic regression by fixed-point gradient
descent — the canonical "train a quality classifier over the corpus" shape
of an LLM-data pipeline, expressed the only way a 100 TB engine can afford:
each step is ONE scan + ONE map-side-combined aggregation (per-feature
gradient sums), the weight vector lives on the driver and enters the next
step's expression as literals (constant-folded, effectively broadcast).

Exactness is the point (the PageRank/TWAP idiom applied to training): all
arithmetic is INTEGER fixed-point —

- features are small integers derived from orders columns,
- weights are bigints at scale 2**16,
- the sigmoid is the rational fast-sigmoid  p = (1 + z/(1+|z|)) / 2
  evaluated as all-positive integer division (trunc == floor, so Spark's
  ``DIV`` and DuckDB's ``//`` agree),
- gradient/error sums are exact bigint aggregates (order-independent, so a
  1000-way parallel aggregation hash-matches a sequential engine; the
  squared-error term is bounded by WS² · n ≈ 2³² · n, far inside bigint),
- the weight update happens in exact Python/SQL integer arithmetic.

A DuckDB oracle replays the identical K steps as an unrolled CTE chain
(:func:`logreg_oracle_sql`) — value-hash equality, not approximate
agreement. The rational sigmoid is a standard bounded surrogate; fitting
behavior (squared error strictly decreasing from w = 0 via the bias term)
is pinned by unit tests.

Registered as the driver gate ``q_logreg_gd`` in round 10 (the round-9
queue drain); tests/test_logreg.py runs the same Spark-vs-DuckDB parity
the gate runs.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
delegates all analytics to BigQuery and has no ML surface; this operator
extends the engine's native training-data toolbox (SURVEY.md §2.5).

Scale shape: K passes over a 4-integer-column projection (column-pruned
scan), each reduced map-side to one 6-value row; no shuffle wider than the
aggregation's partial-merge, no driver state beyond the weight vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

WS = 1 << 16  # weight / probability fixed-point scale
LR_DEN = 16  # learning rate 1/16
STEPS = 6

# feature expressions over the orders table — identical text works in both
# Spark SQL and DuckDB (floor of an IEEE-exact double division; EXTRACT day;
# integer modulus), so the two engines derive bit-identical integer inputs
FEATURES: tuple[tuple[str, str], ...] = (
    # ranges kept small (0..7) so the shared fixed learning rate is stable
    # for every coordinate — fixed-point GD has no per-feature scaling, so
    # normalization happens in the feature map, as it would in production
    ("x_bias", "CAST(1 AS BIGINT)"),
    ("x_price", "CAST(FLOOR(o_totalprice / 65536) AS BIGINT)"),
    ("x_day", "CAST((EXTRACT(DAY FROM o_orderdate) - 1) AS BIGINT) % 8"),
    ("x_cust", "CAST(o_custkey % 8 AS BIGINT)"),
)
LABEL = "CAST(CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS BIGINT)"


def _p_expr(
    weights: list[int],
    idiv: str,
    features: tuple[tuple[str, str], ...] = FEATURES,
) -> str:
    """Fixed-point fast-sigmoid probability (scale WS) with the CURRENT
    weights inlined as literals. ``idiv`` is the engine's integer-division
    operator (Spark ``DIV``, DuckDB ``//``); every division here has
    non-negative operands, so truncating and flooring division agree.
    ``features`` defaults to the orders feature map; the quality-filter
    pipeline (operators/qualityfilter.py) passes its own."""
    z = " + ".join(f"({w} * {name})" for (name, _), w in zip(features, weights))
    return (
        f"(({WS} + (CASE WHEN ({z}) >= 0 THEN 1 ELSE -1 END) * "
        f"((ABS({z}) * {WS}) {idiv} ({WS} + ABS({z})))) {idiv} 2)"
    )


def _update(weights: list[int], grads: list[int], n: int) -> list[int]:
    """One exact integer GD step: w -= lr * mean-gradient, evaluated as
    sign-split all-positive division (both engines floor positives)."""
    out = []
    for w, g in zip(weights, grads):
        step = abs(g) // (LR_DEN * n)
        out.append(w - step if g >= 0 else w + step)
    return out


def logreg_gd(spark: SparkSession, sf_dir: str, steps: int = STEPS) -> DataFrame:
    """Train ``steps`` full-batch GD steps on the orders table; returns one
    row per step: the squared-error and accuracy metrics computed with the
    weights ENTERING the step, plus the updated weights leaving it —
    integer-exact, so the whole trace is hash-comparable across engines."""
    from ..plans.queries import scoped_cache

    # cached (round-12, measured): each GD step is its OWN action, so
    # steps 2..K read the projected feature columns from memory instead
    # of re-scanning parquet and re-deriving the features (the pq_topk
    # vecs / pca feats idiom; DISK_ONLY on a cluster).
    feats = scoped_cache(
        load_table(spark, sf_dir, "orders").selectExpr(
            *(f"{expr} AS {name}" for name, expr in FEATURES),
            f"{LABEL} AS y",
        )
    )
    weights = [0] * len(FEATURES)
    rows = []
    for step in range(1, steps + 1):
        p = _p_expr(weights, "DIV")
        err = f"({p} - y * {WS})"
        aggs = [
            F.expr(f"SUM({err} * {name})").alias(f"g_{name}")
            for name, _ in FEATURES
        ] + [
            F.expr(f"SUM({err} * {err})").alias("sq"),
            F.expr(
                f"SUM(CASE WHEN ({p} >= {WS // 2}) = (y = 1) THEN 1 ELSE 0 END)"
            ).alias("correct"),
            # n rides the same aggregation — a standalone count() would be
            # one extra full scan per training run (round-9 review)
            F.count(F.lit(1)).alias("n"),
        ]
        r = feats.agg(*aggs).collect()[0]
        n = int(r["n"])
        grads = [int(r[f"g_{name}"] or 0) for name, _ in FEATURES]
        if n:
            weights = _update(weights, grads, n)
        rows.append((step, int(r["sq"] or 0), int(r["correct"] or 0), *weights))
    schema = "step int, sq_err bigint, n_correct bigint, " + ", ".join(
        f"w_{name} bigint" for name, _ in FEATURES
    )
    return spark.createDataFrame(rows, schema).orderBy("step")


def logreg_oracle_sql(
    steps: int = STEPS,
    features: tuple[tuple[str, str], ...] = FEATURES,
    feats_cte: str | None = None,
) -> str:
    """The identical K steps as a DuckDB CTE chain: metric CTE ``m{i}``
    aggregates with the weights entering step i (zero for step 1); weight
    CTE ``s{i}`` applies the exact integer update. Every output is cast to
    BIGINT (DuckDB widens integer SUMs to HUGEINT) so the schema matches
    the Spark side column for column.

    Weights from step i-1 enter step i's per-row expression by CROSS-
    JOINING the one-row ``s{i-1}`` CTE into the scan (``FROM feats,
    s{i-1}``) and referencing its columns — the pca_oracle_sql idiom.
    The original scalar-subquery form (``(SELECT w FROM s{i-1})`` inlined
    ~40x per row expression) re-evaluated per ROW in DuckDB: the sf1
    replay that took the pca oracle seconds ran >25 minutes with
    unbounded memory growth before the round-10 rewrite.

    ``features``/``feats_cte`` parameterize the chain for reuse by the
    quality-filter oracle (its own projection over documents)."""

    feat_cols = ",\n        ".join(f"{expr} AS {name}" for name, expr in features)
    if feats_cte is None:
        feats_cte = (
            f"feats AS MATERIALIZED (\n        SELECT {feat_cols},"
            f"\n        {LABEL} AS y FROM orders)"
        )
    parts, prev_w, prev_from = training_chain_sql(
        steps, features, feats_cte, include_metrics=True
    )
    selects = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, "
        f"CAST(COALESCE(m{i}.sq, 0) AS BIGINT) AS sq_err, "
        f"CAST(COALESCE(m{i}.correct, 0) AS BIGINT) AS n_correct, "
        + ", ".join(f"s{i}.w_{name} AS w_{name}" for name, _ in features)
        + f" FROM m{i}, s{i}"
        for i in range(1, steps + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    SELECT CAST(step AS INTEGER) AS step, sq_err, n_correct, "
        + ", ".join(f"w_{name}" for name, _ in features)
        + f" FROM (\n    {selects}\n    ) ORDER BY step"
    )


def training_chain_sql(
    steps: int,
    features: tuple[tuple[str, str], ...],
    feats_cte: str,
    include_metrics: bool = False,
) -> tuple[list[str], list[str], str]:
    """Build the K-step training CTE chain over a caller-supplied ``feats``
    CTE (columns: the feature names + ``y``). Returns (CTE parts, the
    final-weight column references, the FROM clause that scores ``feats``
    with those weights) — shared by the logreg gate and the quality-filter
    pipeline's oracles. ``include_metrics`` adds the per-step squared-error
    and accuracy sums (``m{i}.sq``/``m{i}.correct``) the logreg trace
    outputs; callers that only need the weights skip two full-table
    aggregate expressions per step."""
    parts = [
        feats_cte,
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM feats)",
    ]
    prev_w = ["CAST(0 AS BIGINT)"] * len(features)
    prev_from = "feats"
    for i in range(1, steps + 1):
        p = _p_expr(prev_w, "//", features)
        err = f"({p} - y * {WS})"
        g_cols = ",\n            ".join(
            f"SUM({err} * {name}) AS g_{name}" for name, _ in features
        )
        metric_cols = (
            f",\n            SUM({err} * {err}) AS sq,\n"
            f"            SUM(CASE WHEN ({p} >= {WS // 2}) = (y = 1) THEN 1 ELSE 0 END) AS correct"
            if include_metrics
            else ""
        )
        parts.append(
            f"m{i} AS MATERIALIZED (\n        SELECT {g_cols}{metric_cols}\n"
            f"        FROM {prev_from})"
        )
        # the update needs m{i}, nn, and (for i >= 2) the one-row s{i-1}
        upd_from = f"m{i}, nn" if i == 1 else f"m{i}, nn, s{i - 1}"
        w_cols = ",\n            ".join(
            # nn.n = 0 keeps the entering weights (the Spark side skips the
            # update on an empty table; DuckDB's x // 0 would yield NULL and
            # break the empty-input hash parity — round-9 review)
            f"CAST(CASE WHEN nn.n = 0 THEN ({pw}) "
            f"WHEN m{i}.g_{name} >= 0 "
            f"THEN ({pw}) - (ABS(m{i}.g_{name}) // ({LR_DEN} * nn.n)) "
            f"ELSE ({pw}) + (ABS(m{i}.g_{name}) // ({LR_DEN} * nn.n)) END "
            f"AS BIGINT) AS w_{name}"
            for (name, _), pw in zip(features, prev_w)
        )
        parts.append(
            f"s{i} AS MATERIALIZED (\n        SELECT {w_cols} FROM {upd_from})"
        )
        prev_w = [f"s{i}.w_{name}" for name, _ in features]
        prev_from = f"feats, s{i}"
    return parts, prev_w, prev_from


# ---------------------------------------------------------------------------
# driver gate (round-10 registration of the round-9 queue)

from ..plans.queries import register  # noqa: E402  (after the helpers it wraps)


@register(
    "q_logreg_gd",
    oracle=logreg_oracle_sql(),
    doc="Distributed full-batch logistic regression by INTEGER fixed-point "
    "gradient descent over orders — the train-a-quality-classifier shape "
    "of an LLM data pipeline. Each of the 6 steps is one column-pruned "
    "scan + one map-side-combined aggregation (per-feature gradient sums "
    "+ squared error + accuracy + n in the same pass); the weight vector "
    "lives on the driver and enters the next step as constant-folded "
    "literals. The rational fast-sigmoid and sign-split truncating "
    "division keep every intermediate an exact bigint, so the DuckDB "
    "oracle replays the identical steps as an unrolled CTE chain and the "
    "gate is value-hash equality on the full training trace — not "
    "approximate convergence. Scale shape: K passes over a 4-int "
    "projection, no shuffle wider than the aggregation partial-merge, "
    "driver state = the weight vector.",
)
def q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return logreg_gd(spark, sf_dir)
