"""Coverage batch: edit-distance dedup (blocked), LATERAL correlated
subquery, regexp extraction, first/last/nth window values."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table, register_views, spread
from .queries import register

LEV_MAX = 4


@register(
    "q_dedup_levenshtein",
    oracle=f"""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= {LEV_MAX}
    WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX}
    ORDER BY part_a, part_b
    """,
    doc=f"Edit-distance near-dup with blocking: only same-brand pairs are "
    f"compared (the blocking key caps candidates at O(n²/blocks)), a SOUND "
    f"length-band prune drops pairs whose length difference exceeds "
    f"{LEV_MAX} before any DP runs (levenshtein ≥ |len_a − len_b|, so no "
    f"true pair is lost), then levenshtein ≤ {LEV_MAX}. The string-"
    "similarity member of the dedup family — at 10⁹+ rows the next step is "
    "replacing the brand block with a cheap fingerprint (length band × "
    "phonetic code), since within-block cost is quadratic and the fixed "
    "brand cardinality stops bounding it (the r6 sf1 soak's slowest cell).",
)
def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The candidate scan uses the THRESHOLDED levenshtein (Spark 3.5+):
    # banded dynamic programming that abandons a pair as soon as the
    # distance provably exceeds LEV_MAX — O(len·LEV_MAX) per pair instead
    # of O(len²), and it returns the exact distance for survivors (−1
    # otherwise), so one evaluation serves both filter and output. The
    # length-band join predicate is evaluated before the DP and is sound
    # (distance is bounded below by the length difference).
    # spread(): the thresholded-DP probe is CPU-heavy per candidate pair; a
    # small single-file scan yields 1-2 input splits and would run the whole
    # quadratic block on two cores (observed at sf1 — no-op at real scale)
    p = spread(load_table(spark, sf_dir, "part"))
    a = p.alias("a")
    b = p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), LEV_MAX)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
                <= LEV_MAX
            ),
        )
        .filter(dist >= 0)  # thresholded form yields −1 above LEV_MAX
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("bigint").alias("edit_dist"),
        )
        .orderBy("part_a", "part_b")
    )


@register(
    "q_dedup_levenshtein_grouped",
    oracle=f"""
    WITH pairs AS (
      SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       AND abs(length(a.p_name) - length(b.p_name)) <= {LEV_MAX}
      WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX}
    ),
    sym AS (
      SELECT part_a AS p_partkey, part_b AS partner, edit_dist FROM pairs
      UNION ALL
      SELECT part_b AS p_partkey, part_a AS partner, edit_dist FROM pairs
    )
    SELECT p_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(bit_xor(partner) AS BIGINT) AS partner_xor,
           CAST(SUM(partner) AS BIGINT) AS partner_sum,
           CAST(SUM(edit_dist) AS BIGINT) AS dist_sum
    FROM sym GROUP BY p_partkey ORDER BY p_partkey
    """,
    doc="Edit-distance near-dup, BOUNDED output: the q_dedup_levenshtein "
    "pair set folded to one row per involved part — partner count, order-"
    "independent bit_xor and sum checksums, edit-distance total — so the "
    "full-row hash gate covers the family at every scale (the raw pair "
    "form emits ~10^8 name-pair rows on the replicated sf1 fixture, past "
    "any driver/oracle materialization budget; same recipe as the simhash "
    "and cosine grouped twins).",
)
def q_dedup_levenshtein_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 dup-collapse (SCALING.md): the DP probe runs once per DISTINCT
    # (brand, name) pair, never per copy pair — the replicated soak fixture
    # duplicates every name 10x within its brand, so the copy-pair join did
    # 100x the levenshtein work for aggregates that are derivable
    # analytically from group stats (measured 139 s at sf1; distinct-name
    # volume is scale-constant there). Per part x in name-group A with
    # matched neighbor groups B (same brand, lev(A,B) in [0, LEV_MAX],
    # B != A) the pair-graph aggregates are:
    #   n_dups      = (|A| - 1)            + sum_B |B|     (intra dist-0 pairs)
    #   partner_sum = (sum_ids(A) - x)     + sum_B sum_ids(B)
    #   partner_xor = xor_ids(A) ^ x       ^ xor_B xor_ids(B)
    #   dist_sum    = 0                    + sum_B |B| * dist(A, B)
    # — bitwise the fold of the full (a < b) pair set both directions, which
    # the unchanged all-pairs DuckDB oracle still computes independently.
    p = spread(load_table(spark, sf_dir, "part"))  # see q_dedup_levenshtein
    groups = p.groupBy("p_brand", "p_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("gsz"),
        F.sum("p_partkey").cast("bigint").alias("id_sum"),
        F.expr("bit_xor(p_partkey)").cast("bigint").alias("id_xor"),
    )
    nb = groups.select(
        F.col("p_brand").alias("nb_brand"),
        F.col("p_name").alias("nb_name"),
        F.col("gsz").alias("nb_gsz"),
        F.col("id_sum").alias("nb_id_sum"),
        F.col("id_xor").alias("nb_id_xor"),
    )
    dist = F.levenshtein(F.col("p_name"), F.col("nb_name"), LEV_MAX)
    neigh = (
        groups.select("p_brand", "p_name")
        .join(
            nb,
            (F.col("p_brand") == F.col("nb_brand"))
            & (F.col("p_name") != F.col("nb_name"))
            & (F.abs(F.length(F.col("p_name")) - F.length(F.col("nb_name"))) <= LEV_MAX),
        )
        .filter(dist >= 0)  # thresholded DP yields -1 above LEV_MAX
        .groupBy("p_brand", "p_name")
        .agg(
            F.sum(F.col("nb_gsz")).cast("bigint").alias("nb_cnt"),
            F.sum(F.col("nb_id_sum")).cast("bigint").alias("nb_sum"),
            F.expr("bit_xor(nb_id_xor)").cast("bigint").alias("nb_xor"),
            F.sum(F.col("nb_gsz") * dist.cast("bigint")).cast("bigint").alias("nb_dsum"),
        )
    )
    out = (
        p.select("p_partkey", "p_brand", "p_name")
        .join(groups, ["p_brand", "p_name"])
        .join(neigh, ["p_brand", "p_name"], "left")
        .select(
            "p_partkey",
            (
                (F.col("gsz") - 1) + F.coalesce(F.col("nb_cnt"), F.lit(0))
            ).cast("bigint").alias("n_dups"),
            (
                F.col("id_xor")
                .bitwiseXOR(F.col("p_partkey"))
                .bitwiseXOR(F.coalesce(F.col("nb_xor"), F.lit(0)))
            ).cast("bigint").alias("partner_xor"),
            (
                (F.col("id_sum") - F.col("p_partkey"))
                + F.coalesce(F.col("nb_sum"), F.lit(0))
            ).cast("bigint").alias("partner_sum"),
            F.coalesce(F.col("nb_dsum"), F.lit(0)).cast("bigint").alias("dist_sum"),
        )
        .filter(F.col("n_dups") > 0)
        .orderBy("p_partkey")
    )
    return out


@register(
    "q_lateral_top2_orders",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) t
    WHERE c.c_custkey <= 100
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """,
    doc="LATERAL correlated subquery: each customer's two most expensive "
    "orders. Same SQL runs on both engines; Catalyst rewrites it to the "
    "window top-k shape rather than per-row subquery execution.",
)
def q_lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_custkey <= 100
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
        """
    )


@register(
    "q_regexp_extract_props",
    oracle="""
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_value,
           regexp_matches(props, '^\\{{"k": \\d+\\}}$') AS well_formed
    FROM events
    WHERE user_id <= 20
    ORDER BY event_id
    """.replace("{{", "{").replace("}}", "}"),
    doc="Regex surface: capture-group extraction + full-match validation "
    "over the JSON props strings (regexp_extract group semantics pinned to "
    "group 1 in both engines).",
)
def q_regexp_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("bigint").alias("k_value"),
        F.col("props").rlike(r'^\{"k": \d+\}$').alias("well_formed"),
    ).orderBy("event_id")


@register(
    "q_window_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_order
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    doc="first_value/last_value/nth_value: a customer's first, last, and "
    "second orders attached to every row (full-partition frames where the "
    "value depends on unseen rows).",
)
def q_window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_order"),
            F.last("o_orderkey").over(wfull).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(wfull).alias("second_order"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )
