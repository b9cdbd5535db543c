"""Model-evaluation and feature-preparation operators.

A training-data pipeline doesn't stop at curation: the same engine scores
candidate ranking features (AUC), builds leakage-free categorical features
(target encoding), and compresses unbounded categorical vocabularies into
fixed-width vectors (the hashing trick). Three operators, all exact
integer arithmetic so Spark and DuckDB agree bit-for-bit:

- **Sliced ranking AUC** (``q_eval_auc``): the Mann-Whitney U statistic per
  evaluation slice — AUC = P(score_pos > score_neg) + 0.5 P(tie). Computed
  from per-(slice, score) counts, so the shuffle is on the aggregated
  score table, never row pairs (the naive pos x neg join is quadratic);
  the tie-correct rank sum is a *slice-partitioned* cumulative window —
  never a global window (a global AUC over one giant slice would reuse the
  range-partitioned prefix-sum of ``operators/sampling.budget_select``).
  The U numerator is kept in exact 2x-scaled integers; the final division
  converts two exact int64s, which both engines round identically.

- **Leave-one-out target encoding** (``q_target_encoding``): the classic
  high-cardinality categorical feature — replace category c on row i by
  the mean label of *other* rows in c, smoothed toward the global prior:
  (sum_c - y_i + m * prior) / (n_c - 1 + m). Excluding the row's own label
  prevents target leakage. All rationals: numerator and denominator are
  carried as exact integers (prior folded in by cross-multiplying with the
  global count), emitted alongside the double quotient. One tiny per-
  category aggregate broadcast back over the rows; one scalar broadcast
  for the prior — zero wide shuffles beyond the category groupBy.

- **Feature hashing** (``q_feature_hashing``): Weinberger et al.'s hashing
  trick — categorical features are folded into a fixed 64-bucket signed
  vector via a portable md5-derived hash (bucket = h % 64, sign from the
  next hash bit). No vocabulary state, no fit step, mergeable counts: the
  embedding of a 100 TB corpus is one groupBy on the bucket id.

- **Calibration audit** (``q_eval_calibration``): the reliability-diagram
  companion to AUC — AUC measures ranking, calibration measures whether
  the score's implied probability matches observed frequency. Scores are
  normalized against the global max into equal-width bins (a broadcast
  scalar + map-side integer division — never a global ntile window);
  per bin the mean predicted probability, observed positive rate, and the
  Brier contribution are all carried as exact integer numerators over the
  common denominator, so each emitted double is one exact int64/int64
  division both engines round identically.

The reference (fe-malveira-87/poc-juma-etl) has no ML surface at all —
these extend the engine along SURVEY.md §2.5's extension axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.text import SQL_MD5_LONG, md5_long
from .queries import register

TE_SMOOTH = 20  # pseudo-observations pulled toward the global prior
FH_BUCKETS = 64


@register(
    "q_eval_auc",
    oracle="""
    WITH scored AS (
      SELECT source, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    per_score AS (
      SELECT source, score,
             SUM(y) AS p, SUM(1 - y) AS n
      FROM scored GROUP BY source, score
    ),
    ranked AS (
      SELECT source, p, n,
             COALESCE(SUM(n) OVER (
               PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM per_score
    )
    SELECT source,
           CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n) AS BIGINT) AS n_neg,
           CAST(SUM(p * (2 * neg_below + n)) AS BIGINT) AS u2,
           CAST(SUM(p * (2 * neg_below + n)) AS DOUBLE)
             / NULLIF(CAST(2 * SUM(p) * SUM(n) AS DOUBLE), 0) AS auc
    FROM ranked GROUP BY source ORDER BY source
    """,
    doc="Per-slice ranking AUC (Mann-Whitney U with tie correction): how "
    "well n_chars ranks English documents above non-English ones, per "
    "source slice. U is assembled from per-(slice, score) counts — one "
    "shuffle over the aggregated score table, never the quadratic "
    "pos x neg pair join — with the below-score negative mass from a "
    "slice-partitioned cumulative window (a single-slice global AUC "
    "would swap in the range-partitioned prefix sum the token-budget "
    "operator demonstrates). u2 = 2U stays integer-exact (ties count "
    "1, clear wins 2); AUC = u2 / (2 n_pos n_neg) divides two exact "
    "int64s, which Spark and DuckDB round identically. Slices with a "
    "degenerate class (no positives or no negatives) yield NULL, not a "
    "fabricated 0.5.",
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("source", "score").agg(
        F.sum("y").alias("p"), F.sum(1 - F.col("y")).alias("n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_score.withColumn(
        "neg_below", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    agg = ranked.groupBy("source").agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum("n").cast("bigint").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("neg_below") + F.col("n")))
        .cast("bigint")
        .alias("u2"),
    )
    return agg.select(
        "source",
        "n_pos",
        "n_neg",
        "u2",
        (
            F.col("u2").cast("double")
            / F.nullif((2 * F.col("n_pos") * F.col("n_neg")).cast("double"), F.lit(0.0))
        ).alias("auc"),
    ).orderBy("source")


@register(
    "q_target_encoding",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    per_cat AS (
      SELECT source, SUM(y) AS sum_y, COUNT(*) AS n_c
      FROM scored GROUP BY source
    ),
    gtot AS (SELECT SUM(y) AS gp, COUNT(*) AS gn FROM scored)
    SELECT s.doc_id, s.source, CAST(s.y AS INTEGER) AS y,
           CAST(g.gn * (c.sum_y - s.y) + {TE_SMOOTH} * g.gp AS BIGINT) AS enc_num,
           CAST(g.gn * (c.n_c - 1 + {TE_SMOOTH}) AS BIGINT) AS enc_den,
           CAST(g.gn * (c.sum_y - s.y) + {TE_SMOOTH} * g.gp AS DOUBLE)
             / CAST(g.gn * (c.n_c - 1 + {TE_SMOOTH}) AS DOUBLE) AS enc
    FROM scored s JOIN per_cat c USING (source) CROSS JOIN gtot g
    ORDER BY s.doc_id
    """,
    doc="Leave-one-out target encoding of the source category against the "
    f"is-English label, smoothed by m={TE_SMOOTH} pseudo-observations of "
    "the global prior: enc_i = (sum_c - y_i + m*prior) / (n_c - 1 + m). "
    "Excluding row i's own label from its encoding is what makes the "
    "feature leakage-free for training. The prior (gp/gn) is folded in "
    "exactly by cross-multiplying with the global count, so numerator "
    "and denominator stay int64 and the emitted double is one exact "
    "division both engines round identically. Plan shape: one groupBy "
    "on the category, the tiny per-category aggregate broadcast back "
    "over the rows, a 1-row scalar broadcast for the prior — per-row "
    "work thereafter, no window anywhere.",
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    per_cat = scored.groupBy("source").agg(
        F.sum("y").alias("sum_y"), F.count(F.lit(1)).alias("n_c")
    )
    glob = scored.agg(F.sum("y").alias("gp"), F.count(F.lit(1)).alias("gn"))
    num = F.col("gn") * (F.col("sum_y") - F.col("y")) + TE_SMOOTH * F.col("gp")
    den = F.col("gn") * (F.col("n_c") - 1 + TE_SMOOTH)
    return (
        scored.join(F.broadcast(per_cat), "source")
        .crossJoin(F.broadcast(glob))
        .select(
            "doc_id",
            "source",
            F.col("y").cast("int").alias("y"),
            num.cast("bigint").alias("enc_num"),
            den.cast("bigint").alias("enc_den"),
            (num.cast("double") / den.cast("double")).alias("enc"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_feature_hashing",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, 'source=' || source AS feat FROM documents
      UNION ALL
      SELECT doc_id, 'lang=' || lang AS feat FROM documents
    ),
    hashed AS (
      SELECT feat,
             {SQL_MD5_LONG.format(x="feat")} % {FH_BUCKETS} AS bucket,
             CASE WHEN ({SQL_MD5_LONG.format(x="feat")} // {FH_BUCKETS}) % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM feats
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(COUNT(DISTINCT feat) AS BIGINT) AS n_features,
           CAST(SUM(sign) AS BIGINT) AS signed_count
    FROM hashed GROUP BY bucket ORDER BY bucket
    """,
    doc="Feature hashing (Weinberger et al. '09): categorical features "
    f"(source, lang) fold into a fixed {FH_BUCKETS}-bucket signed vector "
    "— bucket = h % buckets, sign from the next hash bit, both from the "
    "portable 60-bit md5 hash every sampler in this repo uses, so the "
    "embedding is reproducible across engines and partitionings with no "
    "vocabulary state and no fit step. Signed sums make colliding "
    "features cancel in expectation (the unbiased-estimate trick). "
    "Mergeable counts: hashing a 100 TB corpus is map-side arithmetic "
    "plus one groupBy on the bucket id; n_features per bucket is the "
    "collision audit.",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id", F.concat(F.lit("source="), F.col("source")).alias("feat")
    ).unionAll(
        d.select("doc_id", F.concat(F.lit("lang="), F.col("lang")).alias("feat"))
    )
    h = md5_long(F.col("feat"))
    hashed = feats.select(
        "feat",
        (h % FH_BUCKETS).alias("bucket"),
        # 64 = 2^6: shiftright is the exact integer h // 64 — float `/` on a
        # 60-bit hash rounds above 2^53 (the decimal-cast-exactness trap)
        F.when((F.shiftright(h, 6) % 2) == 0, 1).otherwise(-1).alias("sign"),
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.countDistinct("feat").cast("bigint").alias("n_features"),
            F.sum("sign").cast("bigint").alias("signed_count"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_terms",
            "n_features",
            "signed_count",
        )
        .orderBy("bucket")
    )


CAL_BINS = 10


@register(
    "q_eval_calibration",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    s AS (SELECT MAX(score) AS smax FROM scored),
    binned AS (
      SELECT (sc.score * {CAL_BINS}) // (s.smax + 1) AS bin,
             sc.score, sc.y, s.smax
      FROM scored sc CROSS JOIN s
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(SUM(score) AS BIGINT) AS sum_score,
           CAST(SUM(score * score)
                - 2 * MAX(smax) * SUM(score * y)
                + MAX(smax) * MAX(smax) * SUM(y) AS BIGINT) AS brier_num,
           CAST(SUM(score) AS DOUBLE)
             / CAST(COUNT(*) * MAX(smax) AS DOUBLE) AS mean_p,
           CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos,
           CAST(SUM(score * score)
                - 2 * MAX(smax) * SUM(score * y)
                + MAX(smax) * MAX(smax) * SUM(y) AS DOUBLE)
             / CAST(COUNT(*) * MAX(smax) * MAX(smax) AS DOUBLE) AS brier
    FROM binned GROUP BY bin ORDER BY bin
    """,
    doc=f"Score-calibration audit (reliability diagram + Brier score) of "
    "the n_chars-ranks-English score: scores normalize to p = score/max "
    f"and land in {CAL_BINS} equal-width bins via exact integer division "
    "against a broadcast global max — NEVER a global ntile window (the "
    "no-partition-less-window rule). Per bin: mean predicted probability, "
    "observed positive rate, and the Brier sum Σ(p−y)², expanded so its "
    "numerator Σs² − 2S·Σsy + S²·Σy stays int64-exact (S = max score); "
    "every emitted double is ONE division of two exact int64s, which "
    "Spark and DuckDB round identically. The 100 TB shape: one scalar "
    "broadcast, map-side binning, a {CAL_BINS}-row groupBy — mergeable "
    "partials, no window, no sort until the 10-row output.",
)
def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    smax = scored.agg(F.max("score").alias("smax"))
    binned = scored.crossJoin(F.broadcast(smax)).withColumn(
        "bin", F.expr(f"(score * {CAL_BINS}) div (smax + 1)")
    )
    brier_num = (
        F.sum(F.col("score") * F.col("score"))
        - 2 * F.max("smax") * F.sum(F.col("score") * F.col("y"))
        + F.max("smax") * F.max("smax") * F.sum("y")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("sum_y"),
            F.sum("score").cast("bigint").alias("sum_score"),
            brier_num.cast("bigint").alias("brier_num"),
            (
                F.sum("score").cast("double")
                / (F.count(F.lit(1)) * F.max("smax")).cast("double")
            ).alias("mean_p"),
            (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "frac_pos"
            ),
            (
                brier_num.cast("double")
                / (F.count(F.lit(1)) * F.max("smax") * F.max("smax")).cast("double")
            ).alias("brier"),
        )
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n",
            "sum_y",
            "sum_score",
            "brier_num",
            "mean_p",
            "frac_pos",
            "brier",
        )
        .orderBy("bin")
    )
