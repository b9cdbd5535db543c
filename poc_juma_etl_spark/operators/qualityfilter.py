"""Model-based corpus quality filtering, end to end — the classifier-filter
stage of an LLM data pipeline (CCNet / fastText-filter shape): TRAIN a
quality classifier on weak rule labels over the documents table, SCORE the
whole corpus with the learned weights, FILTER by probability threshold, and
report per-language admission statistics.

Built on the fixed-point logistic-regression core (operators/logreg.py —
the `_p_expr` rational sigmoid and `_update` integer GD step are shared):
every step is one column-pruned scan + one map-side-combined aggregation;
weights live on the driver and enter each expression as literals; the
scoring pass is a single in-row expression over the same projection. All
arithmetic is integer fixed-point, so the DuckDB oracle
(:func:`quality_filter_oracle_sql`) replays the identical K training steps
as an unrolled CTE chain and the identical scoring aggregation — full
value-hash equality on the per-language output.

Features (all small integers, identical text in both engines apart from
the integer-division operator):

- bias,
- length bucket  LEAST(n_chars idiv 64, 7),
- english indicator (lang = 'en'),
- token-count bucket LEAST(n_tokens idiv 16, 7) over the portable
  whitespace tokenization (the q_text_token_stats parity pair).

Weak labels: ``lang = 'en' AND n_chars >= 256`` — a rule the features can
represent linearly, so the trained filter's agreement with the rule is a
meaningful fit check (pinned in tests), while the GATE is exactness, which
holds for any label quality.

Scale: K+1 passes over a 3-column projection; the filter itself adds no
shuffle beyond the per-language aggregation. Registered as the driver
gates ``q_quality_filter`` and ``q_quality_filter_pr_curve`` in round 10
(the round-9 queue drain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register
from .logreg import LR_DEN, WS, _p_expr, _update

STEPS = 6


def qf_features(idiv: str) -> tuple[tuple[str, str], ...]:
    """Feature map over the (lang, n_chars, n_tok) projection; ``idiv`` is
    the engine's integer-division operator (Spark DIV, DuckDB //) — every
    operand is non-negative, so the two semantics agree."""
    return (
        ("x_bias", "CAST(1 AS BIGINT)"),
        ("x_len", f"LEAST(CAST(n_chars AS BIGINT) {idiv} 64, 7)"),
        ("x_en", "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)"),
        ("x_tok", f"LEAST(n_tok {idiv} 16, 7)"),
        # interaction term: the weak rule is a conjunction (en AND long),
        # which is linear in en*len but not in {en, len} alone — without it
        # squared-loss GD settles on the majority-class plateau
        (
            "x_enlen",
            "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) * "
            f"LEAST(CAST(n_chars AS BIGINT) {idiv} 64, 7)",
        ),
    )


LABEL = "CAST(CASE WHEN lang = 'en' AND n_chars >= 256 THEN 1 ELSE 0 END AS BIGINT)"

OUT_COLS = "lang string, n_docs long, n_kept long, n_agree long, sum_score long"


def train_quality_weights(
    spark: SparkSession, sf_dir: str, steps: int = STEPS
) -> list[int]:
    """K full-batch fixed-point GD steps over the documents projection;
    returns the final integer weight vector."""
    feats = _projection(spark, sf_dir)
    features = qf_features("DIV")
    weights = [0] * len(features)
    for _ in range(steps):
        p = _p_expr(weights, "DIV", features)
        err = f"({p} - y * {WS})"
        aggs = [
            F.expr(f"SUM({err} * {name})").alias(f"g_{name}")
            for name, _ in features
        ] + [F.count(F.lit(1)).alias("n")]
        r = feats.agg(*aggs).collect()[0]
        n = int(r["n"])
        grads = [int(r[f"g_{name}"] or 0) for name, _ in features]
        if n:
            weights = _update(weights, grads, n)
    return weights


def _projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokens

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        F.col("n_chars"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
    )
    features = qf_features("DIV")
    return base.selectExpr(
        "lang",
        *(f"{expr} AS {name}" for name, expr in features),
        f"{LABEL} AS y",
    )


def _qf_feats_cte() -> str:
    """The documents-table feature projection as the training chain's
    ``feats`` CTE (keeps ``lang`` for the per-language rollup)."""
    features = qf_features("//")
    feat_cols = ",\n        ".join(f"{expr} AS {name}" for name, expr in features)
    return (
        "base AS MATERIALIZED (\n        SELECT lang, n_chars,"
        " CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok"
        "\n        FROM documents),\n    "
        f"feats AS MATERIALIZED (\n        SELECT lang, {feat_cols},\n"
        f"        {LABEL} AS y FROM base)"
    )


def quality_filter_oracle_sql(steps: int = STEPS) -> str:
    """The identical pipeline as one DuckDB statement: materialized feature
    projection, unrolled K-step training CTE chain (the shared
    logreg.training_chain_sql — final weights enter the scoring scan as a
    one-row CROSS JOIN, never per-row scalar subqueries: the round-10
    rewrite that took the sf1 replay from >25 min to sub-second), then the
    scoring aggregation with the final weights."""
    from .logreg import training_chain_sql

    features = qf_features("//")
    parts, prev_w, prev_from = training_chain_sql(steps, features, _qf_feats_cte())
    p = _p_expr(prev_w, "//", features)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ({p}) >= {WS // 2} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN (({p}) >= {WS // 2}) = (y = 1) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_agree,
           CAST(SUM({p}) AS BIGINT) AS sum_score
    FROM {prev_from} GROUP BY lang ORDER BY lang"""
    )


@register(
    "q_quality_filter",
    oracle=quality_filter_oracle_sql(),
    doc="Model-based corpus quality filtering end to end (the "
    "CCNet / fastText-filter pipeline shape): TRAIN a fixed-point "
    "logistic-regression classifier on weak rule labels over the "
    "documents table (6 full-batch GD steps, each one column-pruned "
    "scan + one map-side-combined aggregation, weights driver-side "
    "as literals), SCORE the corpus with the learned weights in one "
    "in-row expression, FILTER at p >= 1/2, and report per-language "
    "admission statistics. Integer fixed-point throughout, so the "
    "DuckDB oracle replays training AND scoring as an unrolled CTE "
    "chain — full value-hash equality. The en*length interaction "
    "feature lets squared-loss GD learn the conjunction rule "
    "(without it training parks on the majority plateau — module "
    "docstring). Scale: K+1 passes over a 3-column projection, no "
    "shuffle beyond the per-language aggregation.",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train, score, filter, report: per-language document counts, kept
    counts at p >= 1/2, agreement with the weak rule, and the exact integer
    score mass — the whole pipeline hash-comparable across engines."""
    weights = train_quality_weights(spark, sf_dir)
    feats = _projection(spark, sf_dir)
    p = _p_expr(weights, "DIV", qf_features("DIV"))
    return (
        feats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr(
                f"SUM(CASE WHEN ({p}) >= {WS // 2} THEN 1 ELSE 0 END)"
            ).cast("long").alias("n_kept"),
            F.expr(
                f"SUM(CASE WHEN (({p}) >= {WS // 2}) = (y = 1) THEN 1 ELSE 0 END)"
            ).cast("long").alias("n_agree"),
            F.expr(f"SUM({p})").cast("long").alias("sum_score"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# PR-curve / threshold-sweep variant (round-9 verdict #8: pin the score
# CALIBRATION shape, not just the fixed-threshold admission)

N_BINS = 8  # score bins: LEAST(p DIV (WS/8), 7) — p spans [0, WS]


def quality_filter_pr_oracle_sql(steps: int = STEPS) -> str:
    """Replays the identical training chain (shared
    logreg.training_chain_sql — final weights cross-joined, never per-row
    scalar subqueries), then the bin aggregation and a descending
    cumulative window (oracle-side SQL is unconstrained)."""
    from .logreg import training_chain_sql

    features = qf_features("//")
    parts, prev_w, prev_from = training_chain_sql(steps, features, _qf_feats_cte())
    p = _p_expr(prev_w, "//", features)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    binned AS (
      SELECT LEAST(({p}) // {WS // N_BINS}, {N_BINS - 1}) AS bin, y
      FROM {prev_from}
    ),
    per_bin AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM binned GROUP BY bin
    )
    SELECT CAST(bin AS BIGINT) AS bin, n_docs, n_pos,
           CAST(SUM(n_docs) OVER (ORDER BY bin DESC) AS BIGINT) AS n_admitted,
           CAST(SUM(n_pos) OVER (ORDER BY bin DESC) AS BIGINT) AS n_tp
    FROM per_bin ORDER BY bin"""
    )


@register(
    "q_quality_filter_pr_curve",
    oracle=quality_filter_pr_oracle_sql(),
    doc="Threshold sweep over the trained quality filter's score "
    "bins: per-bin doc/positive counts plus descending-cumulative "
    "admitted/true-positive counts — the integer numerators of the "
    "precision/recall curve at every candidate threshold, pinning "
    "the score CALIBRATION shape, not just one operating point. "
    "Same training chain as q_quality_filter; the sweep adds one "
    "groupBy over 8 bins and a driver-side cumulative over <= 8 "
    "rows (bounded collect — no global window).",
)
def q_quality_filter_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-score-bin admission sweep with the trained weights: for every
    bin, the document and positive-label counts, plus the cumulative
    admitted/true-positive counts if the threshold were set at that bin's
    lower edge (descending cumulative = the precision/recall curve's
    integer numerators). The per-bin aggregation is one scan; the
    cumulative runs driver-side over <= N_BINS rows (the bounded-collect
    idiom — a windowless plan, since a global window would serialize the
    corpus through one task and the registry-wide plan sweep bans it)."""
    weights = train_quality_weights(spark, sf_dir)
    feats = _projection(spark, sf_dir)
    p = _p_expr(weights, "DIV", qf_features("DIV"))
    per_bin = (
        feats.selectExpr(f"LEAST(({p}) DIV {WS // N_BINS}, {N_BINS - 1}) AS bin", "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .collect()
    )
    stats = sorted(((int(r.bin), int(r.n_docs), int(r.n_pos)) for r in per_bin),
                   reverse=True)
    rows, adm, tp = [], 0, 0
    for b, nd, np_ in stats:
        adm += nd
        tp += np_
        rows.append((b, nd, np_, adm, tp))
    schema = "bin long, n_docs long, n_pos long, n_admitted long, n_tp long"
    return spark.createDataFrame(rows, schema).orderBy("bin")
