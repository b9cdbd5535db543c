"""Round-6c additions: exact repeated-span dedup, PMI collocations, and
grouped weighted medians.

- **Span-level exact dedup** (``q_text_span_dedup``): the ExactSubstr pass
  of Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  Better") re-expressed relationally: instead of a suffix array, slide a
  k-token shingle window, keep shingles that occur more than once in the
  corpus, and merge each document's overlapping duplicated shingles into
  MAXIMAL spans (gaps-and-islands per document). Differs from
  q_dedup_passage (fixed non-overlapping chunks — misses shifted copies)
  and q_dedup_winnow_overlap (sampled fingerprints — misses short spans):
  sliding windows catch every duplicated run of >= k tokens exactly.

- **PMI collocations** (``q_text_pmi_collocations``): pointwise mutual
  information over adjacent token pairs, ranked by the exact integer
  proxy (c_xy * N * 2^14) div (c_x * c_y) — the ln() is deliberately
  absent (transcendental results are not bit-portable, the repo's
  exactness rule) and monotonicity is preserved, so the ranking is
  engine-exact. The standard collocation/phrase-mining primitive for
  tokenizer curricula and stopword discovery.

- **Grouped weighted median** (``q_weighted_median``): smallest value v
  per group with 2*cumweight(v) >= totalweight, computed over per-value
  aggregated weights (one groupBy collapses ties BEFORE the window, so
  the cumulative window runs over distinct values only) — the exact
  robust-center statistic percentile_approx replaces at scale, kept
  exact here.

Reference scope: the reference (fe-malveira-87/poc-juma-etl) delegates all
analytics to BigQuery and has no text/statistics surface; these belong to
the beyond-reference training-data extension (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..checkpoint import truncate_lineage
from ..operators.text import SQL_MD5_LONG, md5_long, tokens
from .queries import register, scoped_cache, scoped_dir

SPAN_K = 8  # duplicated-run granularity: report runs of >= 8 shared tokens
PMI_SCALE = 1 << 14
PMI_MIN_COUNT = 5
PMI_TOP = 30


@register(
    "q_text_span_dedup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    sh AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             {SQL_MD5_LONG.format(
                 x=f"array_to_string(list_slice(ts, i + 1, i + {SPAN_K}), ' ')"
             )} AS h
      FROM (
        SELECT doc_id, ts, unnest(range(0, len(ts) - {SPAN_K} + 1)) AS i
        FROM tok WHERE len(ts) >= {SPAN_K}
      )
    ),
    dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
    hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {SPAN_K} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM hits
      )
    ),
    spans AS (
      SELECT doc_id, island, COUNT(*) AS n_sh,
             MAX(pos) - MIN(pos) + {SPAN_K} AS span_tokens
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(n_sh) AS BIGINT) AS n_dup_shingles,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
             CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT p.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
           p.n_dup_shingles, p.n_spans, p.dup_tokens, p.max_span_tokens,
           CAST(p.dup_tokens AS DOUBLE) / len(t.ts) AS dup_ratio
    FROM per_doc p JOIN tok t USING (doc_id)
    ORDER BY p.doc_id
    """,
    doc=f"Exact duplicated-SPAN detection (the ExactSubstr pass of Lee et "
    f"al. 2022, suffix-array-free): every sliding {SPAN_K}-token shingle "
    "that occurs >= 2 times corpus-wide marks its positions; per document "
    "the marked positions merge into MAXIMAL duplicated spans by gaps-and-"
    f"islands (break when the gap exceeds {SPAN_K}, i.e. spans no longer "
    "overlap or touch), reported as span count, covered tokens, longest "
    "span, and the duplicated-token ratio — the per-doc signal a span-"
    "level cleaner cuts on. Catches SHIFTED copies that fixed-chunk "
    "passage dedup misses and short exact runs winnowing samples away. "
    "Scale shape: shuffles hash on the 60-bit shingle hash (collisions "
    "~2^-60, deterministic in both engines); the dup-shingle set joins "
    "back by hash (posting-list size, never n²); island windows partition "
    "per doc_id over dup positions only — at 100 TB every stage is "
    "linear in shingle volume, the same envelope as exact dedup.",
)
def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 dup-collapse (SCALING.md): shingle positions, the dup set,
    # and the gaps-and-islands spans are all functions of the TEXT, so they
    # are computed once per distinct text and the per-doc stats join back
    # to the copies. The corpus-wide "occurs >= 2" dup test is preserved
    # exactly by weighting each rep's occurrence count with its duplicate
    # group size (a shingle appearing once in a text with 2+ copies is a
    # duplicate — sum(gsz) >= 2 — exactly as the unanimous per-copy count
    # was). Shingle/shuffle volume now tracks distinct texts.
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select("doc_id", F.md5("text").alias("h_txt"))
    groups = keyed.groupBy("h_txt").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("gsz")
    )
    members = scoped_cache(keyed.join(groups, "h_txt").select("doc_id", "rep"))
    reps = d.join(groups.select(F.col("rep").alias("doc_id"), "gsz"), "doc_id")
    tok = reps.select("doc_id", "gsz", tokens("text").alias("ts"))
    sh = (
        tok.filter(F.size("ts") >= SPAN_K)
        .select(
            "doc_id",
            "gsz",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(ts) - {SPAN_K}), "
                    f"i -> concat_ws(' ', slice(ts, i + 1, {SPAN_K})))"
                )
            ).alias("pos", "shingle"),
        )
        .select(
            "doc_id",
            "gsz",
            F.col("pos").cast("bigint").alias("pos"),
            md5_long(F.col("shingle")).alias("h"),
        )
    )
    # Round-13 (measured, LANDED): sh feeds two consumers (the corpus-wide
    # dup-set groupBy and the per-doc hits join) and was evaluated twice —
    # unlike the pagerank/source-overlap/hybrid sites where the r12 class
    # rejection held (idle cores make duplicate evaluation ~free), here the
    # duplicated subtree is the posexplode+md5 shingle generation itself and
    # the cache wins at BOTH core counts: 1.66x at local[32], 1.41x at
    # local[8] in an interleaved A/B, values identical (477 rows).
    sh = scoped_cache(sh)
    dup = sh.groupBy("h").agg(F.sum("gsz").alias("c")).filter(F.col("c") >= 2)
    hits = sh.join(dup.select("h"), "h").select("doc_id", "pos")
    wl = Window.partitionBy("doc_id").orderBy("pos")
    wcum = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = hits.withColumn("prev", F.lag("pos").over(wl)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > SPAN_K), 1
            ).otherwise(0)
        ).over(wcum),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("n_sh"),
        (F.max("pos") - F.min("pos") + SPAN_K).alias("span_tokens"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("n_sh").cast("bigint").alias("n_dup_shingles"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_tokens").cast("bigint").alias("dup_tokens"),
        F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
    )
    doclen = tok.select("doc_id", F.size("ts").cast("bigint").alias("n_tokens"))
    rep_out = per_doc.join(doclen, "doc_id").select(
        F.col("doc_id").alias("rep"),
        "n_tokens",
        "n_dup_shingles",
        "n_spans",
        "dup_tokens",
        "max_span_tokens",
        (F.col("dup_tokens").cast("double") / F.col("n_tokens")).alias("dup_ratio"),
    )
    return (
        members.join(rep_out, "rep")
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_shingles",
            "n_spans",
            "dup_tokens",
            "max_span_tokens",
            "dup_ratio",
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_pmi_collocations",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    uni AS (
      SELECT u.w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(ts) AS w FROM tok) u GROUP BY u.w
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
    bi AS (
      SELECT b.w1, b.w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM (
        SELECT unnest(list_transform(range(1, len(ts)),
                 i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS b
        FROM tok WHERE len(ts) >= 2
      )
      GROUP BY b.w1, b.w2
      HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ),
    scored AS (
      SELECT bi.w1, bi.w2, bi.c_xy, u1.c AS c_x, u2.c AS c_y, n.n_tokens,
             (bi.c_xy * n.n_tokens * {PMI_SCALE}) // (u1.c * u2.c) AS pmi_scaled,
             CAST(bi.c_xy * n.n_tokens AS DOUBLE)
               / CAST(u1.c * u2.c AS DOUBLE) AS lift
      FROM bi JOIN uni u1 ON u1.w = bi.w1
              JOIN uni u2 ON u2.w = bi.w2
              CROSS JOIN n
    )
    SELECT w1, w2, c_xy, c_x, c_y, n_tokens,
           CAST(pmi_scaled AS BIGINT) AS pmi_scaled, lift
    FROM scored
    ORDER BY pmi_scaled DESC, w1, w2
    LIMIT {PMI_TOP}
    """,
    doc=f"PMI collocation mining over adjacent token pairs (phrase "
    f"discovery for tokenizer curricula): pairs seen >= {PMI_MIN_COUNT} "
    f"times rank by the exact integer proxy (c_xy·N·2^14) div (c_x·c_y) — "
    "monotone in PMI with ln() deliberately absent (transcendental libm "
    "results are not bit-portable, the repo's exactness rule); the lift "
    "double divides two exact int64 products, one IEEE op. int64 "
    "headroom: c_xy·N·2^14 < 2^63 holds to N ~ 2.4e7 tokens even in the "
    "degenerate one-bigram corpus; real corpora (c_xy ≪ N) clear it far "
    "beyond — switch the proxy to DECIMAL(38,0) past that. Scale shape: "
    "unigram and bigram counts are map-side-combinable dictionary "
    "aggregates; the two count joins are vocabulary-sized, never corpus-"
    "sized; top-30 is a TakeOrdered, no global sort.",
)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens("text").alias("ts"))
    uni = (
        tok.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n = uni.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    bi = (
        tok.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2), "
                    "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= PMI_MIN_COUNT)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            "n_tokens",
            F.expr(
                f"(c_xy * n_tokens * {PMI_SCALE}) div (c_x * c_y)"
            ).cast("bigint").alias("pmi_scaled"),
            (
                (F.col("c_xy") * F.col("n_tokens")).cast("double")
                / (F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("pmi_scaled"), "w1", "w2").limit(PMI_TOP)


@register(
    "q_weighted_median",
    oracle="""
    WITH per_val AS (
      SELECT l_returnflag AS grp, l_extendedprice AS val,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT grp, val, w,
             SUM(w) OVER (PARTITION BY grp ORDER BY val
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY grp) AS tw
      FROM per_val
    )
    SELECT grp, val AS weighted_median, CAST(cw AS BIGINT) AS cum_weight,
           CAST(tw AS BIGINT) AS total_weight
    FROM (
      SELECT grp, val, cw, tw,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY val) AS rn
      FROM cum WHERE 2 * cw >= tw
    ) WHERE rn = 1
    ORDER BY grp
    """,
    doc="Grouped weighted median — the exact robust center: smallest "
    "l_extendedprice per return flag whose cumulative l_quantity weight "
    "reaches half the group total. Weights aggregate per distinct value "
    "FIRST (ties collapse before any window), so the cumulative window "
    "walks distinct values only — at 100 TB that is a groupBy down to "
    "the value domain plus a per-group window, never a raw-row sort; a "
    "single-group variant would swap in the range-partitioned prefix sum "
    "(token-budget exemplar). Quantities are integral by TPC-H "
    "construction and summed as exact BIGINTs; the median value itself "
    "is selected, not computed, so no float arithmetic exists anywhere.",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (round-12, measured and REJECTED): recutting the cumulative
    # window onto the range-partitioned global-prefix-sum idiom
    # (budget_select: repartitionByRange(grp, val) + cached pid layout +
    # per-partition totals collect + broadcast offsets + min_by final
    # aggregate) A/B'd at 0.60x (best 5.12s vs 3.06s, values identical)
    # — the recut's fixed jobs (range sampling, cache
    # fill, offsets collect) cost more at bench SFs than the 3-task
    # window they replace. The grp-partitioned window stays; it IS the
    # known parallelism ceiling here (3 l_returnflag groups), but its
    # input is the (grp, val) DISTINCT domain — groupBy'd first, so the
    # window walks value-domain rows, not raw lineitem — and the
    # budget_select idiom remains the documented recut if the value
    # domain ever outgrows a task.
    li = load_table(spark, sf_dir, "lineitem")
    per_val = li.groupBy(
        F.col("l_returnflag").alias("grp"), F.col("l_extendedprice").alias("val")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("grp")
    cum = per_val.withColumn("cw", F.sum("w").over(wcum)).withColumn(
        "tw", F.sum("w").over(wtot)
    )
    wrn = Window.partitionBy("grp").orderBy("val")
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .withColumn("rn", F.row_number().over(wrn))
        .filter(F.col("rn") == 1)
        .select(
            "grp",
            F.col("val").alias("weighted_median"),
            F.col("cw").cast("bigint").alias("cum_weight"),
            F.col("tw").cast("bigint").alias("total_weight"),
        )
        .orderBy("grp")
    )


SKEW_TOP = 10
PPM = 1_000_000
FRESH_SLA_S = 3 * 86400
ZM_FILES = 64


@register(
    "q_skew_key_stats",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    totals AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM per_key
    )
    SELECT CAST(rn AS INTEGER) AS rank, user_id, cnt,
           total_rows, n_keys,
           CAST((cnt * {PPM}) // total_rows AS BIGINT) AS share_ppm,
           CAST((max_cnt * 100 * n_keys) // total_rows AS BIGINT)
             AS max_over_mean_x100
    FROM (
      SELECT p.user_id, p.cnt, g.total_rows, g.n_keys, g.max_cnt,
             ROW_NUMBER() OVER (ORDER BY p.cnt DESC, p.user_id) AS rn
      FROM per_key p CROSS JOIN totals g
    ) WHERE rn <= {SKEW_TOP}
    ORDER BY rank
    """,
    doc=f"Join-key skew audit — the diagnostic you run BEFORE a 100 TB "
    "join melts one executor: per-key row counts for events.user_id, the "
    f"top-{SKEW_TOP} heaviest keys with exact parts-per-million share, "
    "and the max/mean hot-key ratio (×100, exact integer division) that "
    "decides between a plain shuffle join, AQE skew splitting, or the "
    "salting operators (q_salted_skew_join). Plan shape: one map-side-"
    "combinable groupBy down to the key domain, a TakeOrdered top-k, a "
    "1-row global aggregate broadcast back — and NO window anywhere: "
    "rank over the k-row result is a broadcast self-join count, so not "
    "even a bounded input smuggles a partition-less windowspec into the "
    "registry (the plan sweep bans the construct outright).",
)
def q_skew_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    glob = per_key.agg(
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    # top-k FIRST (TakeOrdered — no global window over the key domain);
    # rank over the k-row result comes from a broadcast self-join count
    # (rank = 1 + #rows strictly ahead), not a partition-less window —
    # the registry-wide sweep bans those even over bounded inputs
    topk = per_key.orderBy(F.desc("cnt"), "user_id").limit(SKEW_TOP)
    other = topk.select(F.col("user_id").alias("o_uid"), F.col("cnt").alias("o_cnt"))
    ahead = (F.col("o_cnt") > F.col("cnt")) | (
        (F.col("o_cnt") == F.col("cnt")) & (F.col("o_uid") < F.col("user_id"))
    )
    ranked = (
        topk.crossJoin(F.broadcast(other))
        .groupBy("user_id", "cnt")
        .agg((F.sum(ahead.cast("long")) + 1).cast("int").alias("rank"))
    )
    return (
        ranked.crossJoin(F.broadcast(glob))
        .select(
            "rank",
            "user_id",
            "cnt",
            "total_rows",
            "n_keys",
            F.expr(f"(cnt * {PPM}) div total_rows").cast("bigint").alias("share_ppm"),
            F.expr("(max_cnt * 100 * n_keys) div total_rows")
            .cast("bigint")
            .alias("max_over_mean_x100"),
        )
        .orderBy("rank")
    )


@register(
    "q_dq_freshness_sla",
    oracle=f"""
    WITH per_type AS (
      SELECT event_type, MAX(ts) AS last_ts,
             CAST(MAX(epoch_us(ts) // 1000000) AS BIGINT) AS last_s
      FROM events GROUP BY event_type
    ),
    totals AS (SELECT MAX(last_s) AS global_s FROM per_type)
    SELECT p.event_type, p.last_ts,
           CAST(g.global_s - p.last_s AS BIGINT) AS lag_s,
           (g.global_s - p.last_s) <= {FRESH_SLA_S} AS within_sla
    FROM per_type p CROSS JOIN totals g
    ORDER BY p.event_type
    """,
    doc=f"Per-source freshness SLA audit — the pipeline-health staple: each "
    "event type's last-seen timestamp, its lag behind the freshest source "
    f"in exact integer seconds, and a {FRESH_SLA_S // 86400}-day SLA "
    "verdict. A stalled upstream shows up as one red row while the table "
    "keeps growing from other sources — total-row monitoring alone never "
    "sees it. Shape: one groupBy to the type domain, a 1-row broadcast, "
    "map-side arithmetic; the same query over a partitioned warehouse "
    "table prunes to the newest partitions only.",
)
def q_dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.max(F.col("ts").cast("long")).cast("bigint").alias("last_s"),
    )
    glob = per_type.agg(F.max("last_s").alias("global_s"))
    return (
        per_type.crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            "last_ts",
            (F.col("global_s") - F.col("last_s")).cast("bigint").alias("lag_s"),
            ((F.col("global_s") - F.col("last_s")) <= FRESH_SLA_S).alias("within_sla"),
        )
        .orderBy("event_type")
    )


@register(
    "q_zonemap_skip_stats",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
      FROM events
    ),
    bounds AS (
      SELECT MIN(sec) AS lo, MAX(sec) AS hi,
             CAST(MIN(sec) + (MAX(sec) - MIN(sec)) // 3 AS BIGINT) AS q_lo,
             CAST(MIN(sec) + (MAX(sec) - MIN(sec)) // 3
                  + (MAX(sec) - MIN(sec)) // 10 AS BIGINT) AS q_hi
      FROM ev
    ),
    placed AS (
      SELECT e.sec, b.q_lo, b.q_hi,
             CAST(((e.sec - b.lo) * {ZM_FILES}) // (b.hi - b.lo + 1) AS BIGINT)
               AS f_sorted,
             CAST({SQL_MD5_LONG.format(x="CAST(e.event_id AS VARCHAR)")}
                  % {ZM_FILES} AS BIGINT) AS f_hash
      FROM ev e CROSS JOIN bounds b
    ),
    layouts AS (
      SELECT 'ts_sorted' AS layout, f_sorted AS file_id, sec, q_lo, q_hi FROM placed
      UNION ALL
      SELECT 'insertion_hash', f_hash, sec, q_lo, q_hi FROM placed
    ),
    files AS (
      SELECT layout, file_id, MIN(sec) AS f_min, MAX(sec) AS f_max,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MAX(q_lo) AS q_lo, MAX(q_hi) AS q_hi
      FROM layouts GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN f_max < q_lo OR f_min > q_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS files_skipped,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN f_max < q_lo OR f_min > q_hi THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped,
           CAST(SUM(CASE WHEN f_max < q_lo OR f_min > q_hi THEN n_rows ELSE 0 END)
                AS DOUBLE) / SUM(n_rows) AS skip_ratio
    FROM files GROUP BY layout ORDER BY layout
    """,
    doc=f"Zone-map (min/max data-skipping) effectiveness, simulated "
    "relationally: the events table is virtually laid out into "
    f"{ZM_FILES} files two ways — range-binned by timestamp (what the "
    "compaction planner + gold materializer produce) vs md5-hash "
    "placement (insertion order) — and a time-range predicate covering "
    "~10% of the table's span is tested against each file's min/max "
    "footer stats. The ts-sorted "
    "layout skips nearly every file; the hash layout skips ~none: THE "
    "quantified argument for layout-aware writes at 100 TB, where a "
    "skipped file is a file never read. All arithmetic is exact integer "
    "seconds (epoch-truncated); binning is map-side against one broadcast "
    "bounds row; per-file footers are one groupBy per layout — the "
    "simulation costs two dictionary-sized shuffles regardless of table "
    "size. Companion to etl_dpp_prune_e2e (real partition pruning) and "
    "q_compaction_plan (real layout planning).",
)
def q_zonemap_skip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("long").alias("sec")
    )
    bounds = ev.agg(
        F.min("sec").alias("lo"),
        F.max("sec").alias("hi"),
        (F.min("sec") + F.expr("(max(sec) - min(sec)) div 3")).alias("q_lo"),
        (
            F.min("sec")
            + F.expr("(max(sec) - min(sec)) div 3")
            + F.expr("(max(sec) - min(sec)) div 10")
        ).alias("q_hi"),
    )
    placed = ev.crossJoin(F.broadcast(bounds)).select(
        "sec",
        "q_lo",
        "q_hi",
        F.expr(f"((sec - lo) * {ZM_FILES}) div (hi - lo + 1)")
        .cast("bigint")
        .alias("f_sorted"),
        (md5_long(F.col("event_id").cast("string")) % ZM_FILES)
        .cast("bigint")
        .alias("f_hash"),
    )
    layouts = placed.select(
        F.lit("ts_sorted").alias("layout"),
        F.col("f_sorted").alias("file_id"),
        "sec",
        "q_lo",
        "q_hi",
    ).unionAll(
        placed.select(
            F.lit("insertion_hash").alias("layout"),
            F.col("f_hash").alias("file_id"),
            "sec",
            "q_lo",
            "q_hi",
        )
    )
    files = layouts.groupBy("layout", "file_id").agg(
        F.min("sec").alias("f_min"),
        F.max("sec").alias("f_max"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("q_lo").alias("q_lo"),
        F.max("q_hi").alias("q_hi"),
    )
    skipped = (F.col("f_max") < F.col("q_lo")) | (F.col("f_min") > F.col("q_hi"))
    return (
        files.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(skipped.cast("long")).cast("bigint").alias("files_skipped"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(skipped, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_skipped"),
            (
                F.sum(F.when(skipped, F.col("n_rows")).otherwise(0)).cast("double")
                / F.sum("n_rows")
            ).alias("skip_ratio"),
        )
        .orderBy("layout")
    )


def _langid_pred_sql() -> str:
    from ..operators.text import LANG_MARKERS, _lang_score_sql

    scores = ",\n             ".join(
        f"{_lang_score_sql(lg)} AS score_{lg}" for lg in LANG_MARKERS
    )
    return f"""
    tok AS (
      SELECT doc_id, lang AS labeled_lang,
             string_split_regex(trim(text), '\\s+') AS ts
      FROM documents
    ),
    scores AS (
      SELECT doc_id, labeled_lang,
             {scores}
      FROM tok
    ),
    pred AS (
      SELECT doc_id, labeled_lang,
             CASE greatest(score_en, score_es, score_fr, score_de, score_zh)
               WHEN score_en THEN 'en' WHEN score_es THEN 'es'
               WHEN score_fr THEN 'fr' WHEN score_de THEN 'de'
               ELSE 'zh' END AS predicted_lang
      FROM scores
    )"""


@register(
    "q_eval_langid_confusion",
    oracle=f"""
    WITH {_langid_pred_sql()},
    gold AS (
      SELECT labeled_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_gold
      FROM pred GROUP BY 1
    ),
    predm AS (
      SELECT predicted_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_pred
      FROM pred GROUP BY 1
    ),
    tp AS (
      SELECT labeled_lang AS lang, CAST(COUNT(*) AS BIGINT) AS tp
      FROM pred WHERE labeled_lang = predicted_lang GROUP BY 1
    )
    SELECT COALESCE(g.lang, p.lang) AS lang,
           COALESCE(g.n_gold, 0) AS n_gold,
           COALESCE(p.n_pred, 0) AS n_pred,
           COALESCE(t.tp, 0) AS tp,
           CAST(COALESCE(t.tp, 0) AS DOUBLE)
             / NULLIF(CAST(COALESCE(p.n_pred, 0) AS DOUBLE), 0) AS precision_,
           CAST(COALESCE(t.tp, 0) AS DOUBLE)
             / NULLIF(CAST(COALESCE(g.n_gold, 0) AS DOUBLE), 0) AS recall_,
           CAST(2 * COALESCE(t.tp, 0) AS DOUBLE)
             / NULLIF(CAST(COALESCE(g.n_gold, 0) + COALESCE(p.n_pred, 0) AS DOUBLE), 0)
             AS f1
    FROM gold g
    FULL OUTER JOIN predm p ON p.lang = g.lang
    LEFT JOIN tp t ON t.lang = COALESCE(g.lang, p.lang)
    ORDER BY lang
    """,
    doc="Classifier-quality audit of the marker-lexicon language ID "
    "(q_text_langid) against the gold lang column: per-language support, "
    "prediction count, true positives, and precision/recall/F1 — each a "
    "SINGLE division of exact int64 counts (F1 via the 2·TP/(gold+pred) "
    "identity, so no compound float expression exists), degenerate "
    "classes NULL not fabricated. The eval loop every heuristic filter "
    "in a curation pipeline needs before it gates data; at 100 TB the "
    "whole audit reduces to three class-domain-sized count aggregates "
    "over one prediction scan.",
)
def q_eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import q_text_langid

    pred = q_text_langid(spark, sf_dir).select("labeled_lang", "predicted_lang")
    gold = pred.groupBy(F.col("labeled_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gold")
    )
    predm = pred.groupBy(F.col("predicted_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred")
    )
    tp = (
        pred.filter(F.col("labeled_lang") == F.col("predicted_lang"))
        .groupBy(F.col("labeled_lang").alias("lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tp"))
    )
    joined = (
        gold.join(predm, "lang", "full_outer")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_gold", F.lit(0)).cast("bigint").alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    return joined.select(
        "lang",
        "n_gold",
        "n_pred",
        "tp",
        (
            F.col("tp").cast("double")
            / F.nullif(F.col("n_pred").cast("double"), F.lit(0.0))
        ).alias("precision_"),
        (
            F.col("tp").cast("double")
            / F.nullif(F.col("n_gold").cast("double"), F.lit(0.0))
        ).alias("recall_"),
        (
            (2 * F.col("tp")).cast("double")
            / F.nullif((F.col("n_gold") + F.col("n_pred")).cast("double"), F.lit(0.0))
        ).alias("f1"),
    ).orderBy("lang")


_RI_RELS = (
    # (name, child table, child key, parent table, parent key)
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _ri_sql(name: str, ct: str, ck: str, pt: str, pk: str) -> str:
    return f"""
      SELECT '{name}' AS relationship,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM {ct}) AS child_rows,
             (SELECT CAST(COUNT(DISTINCT {ck}) AS BIGINT) FROM {ct}) AS child_keys,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM {ct}
               WHERE {ck} IS NOT NULL
                 AND {ck} NOT IN (SELECT {pk} FROM {pt} WHERE {pk} IS NOT NULL))
               AS orphan_rows,
             (SELECT CAST(COUNT(DISTINCT {ck}) AS BIGINT) FROM {ct}
               WHERE {ck} IS NOT NULL
                 AND {ck} NOT IN (SELECT {pk} FROM {pt} WHERE {pk} IS NOT NULL))
               AS orphan_keys,
             (SELECT COUNT(*) FROM {ct}
               WHERE {ck} IS NOT NULL
                 AND {ck} NOT IN (SELECT {pk} FROM {pt} WHERE {pk} IS NOT NULL)) = 0
               AS ok"""


@register(
    "q_dq_referential_integrity",
    oracle=" UNION ALL ".join(_ri_sql(*rel) for rel in _RI_RELS)
    + "\n    ORDER BY relationship",
    doc="Warehouse-wide referential-integrity audit: every declared "
    f"foreign-key relationship ({len(_RI_RELS)} across the star schema + "
    "events) checked in one query — child row/key totals, orphan rows and "
    "orphan keys via LEFT ANTI join against the parent key set, and an "
    "ok verdict per edge. The load-time DQ gate a warehouse runs after "
    "every batch: one red row names the broken edge AND its blast radius "
    "(rows vs keys separates one corrupt key from a systemic miss). "
    "Scale shape: each check is an anti join that broadcasts the parent "
    "key set when small (dims here) and hash-shuffles on the key "
    "otherwise; the eight checks are independent Spark jobs over "
    "column-pruned scans (key columns only reach the parquet reader), "
    "so wall-clock is the widest single child scan.",
)
def q_dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-12 recut (guide §2.3 "aggregate before you shuffle"): each
    # relationship used to scan its child TWICE (row/key totals with a
    # countDistinct Expand, plus an anti-join orphan recount — 112
    # Exchanges across the 8 checks). Now the child collapses to its key
    # domain in ONE map-side-combinable groupBy, LEFT-joins the parent
    # key set (broadcast when dim-sized, hash otherwise — AQE decides),
    # and all four stats fall out of one aggregate over key-domain rows:
    # child_rows = Σ counts, child_keys = non-null key groups,
    # orphan_* = the unmatched groups. Half the fact-table scans, no
    # Expand, no anti join; values are identical by construction.
    out = None
    for name, ct, ck, pt, pk in _RI_RELS:
        child = load_table(spark, sf_dir, ct).select(F.col(ck).alias("k"))
        parent = (
            load_table(spark, sf_dir, pt)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("__m", F.lit(1))
        )
        keyed = child.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
        orphan = F.col("k").isNotNull() & F.col("__m").isNull()
        row = (
            keyed.join(parent, "k", "left")
            .agg(
                F.lit(name).alias("relationship"),
                # coalesce (ADVICE r12): over a ZERO-ROW child the global
                # aggregate's sum is NULL where the oracle's COUNT(*) is 0
                F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("child_rows"),
                F.count(F.when(F.col("k").isNotNull(), 1))
                .cast("bigint")
                .alias("child_keys"),
                F.coalesce(F.sum(F.when(orphan, F.col("c"))), F.lit(0))
                .cast("bigint")
                .alias("orphan_rows"),
                F.coalesce(F.sum(F.when(orphan, 1)), F.lit(0))
                .cast("bigint")
                .alias("orphan_keys"),
            )
            .withColumn("ok", F.col("orphan_rows") == 0)
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relationship")


PATH_TOP = 20


@register(
    "q_event_trigram_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE e3 IS NOT NULL GROUP BY e1, e2, e3
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tri)
    SELECT e1, e2, e3, cnt, total,
           CAST((cnt * 1000000) // total AS BIGINT) AS share_ppm
    FROM tri CROSS JOIN tot
    ORDER BY cnt DESC, e1, e2, e3
    LIMIT {PATH_TOP}
    """,
    doc=f"Top user journeys: per-user event TRIGRAMS (two LEADs over the "
    "user-partitioned time order, ties broken by event_id) counted "
    f"corpus-wide, top-{PATH_TOP} with exact ppm share — the three-step "
    "extension of the Markov transition matrix (q_event_transitions), "
    "where funnel designers actually look (A->B->A loops, dead-end "
    "pairs). Shape: the window partitions on user_id (session-sized "
    "state), trigram counts are map-side combinable, top-k is a "
    "TakeOrdered — no global sort, no pair joins, linear at any event "
    "volume.",
)
def q_event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    tri = seq.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = tri.agg(F.sum("cnt").cast("bigint").alias("total"))
    return (
        tri.crossJoin(F.broadcast(tot))
        .select(
            "e1",
            "e2",
            "e3",
            "cnt",
            "total",
            F.expr("(cnt * 1000000) div total").cast("bigint").alias("share_ppm"),
        )
        .orderBy(F.desc("cnt"), "e1", "e2", "e3")
        .limit(PATH_TOP)
    )


KCORE_K = 130
KCORE_ROUNDS = 8


def _kcore_sql() -> str:
    parts = [
        """e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )""",
        "s0 AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        "n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM s0)",
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        parts.append(
            f"""n{r} AS MATERIALIZED (
      SELECT u AS node FROM s{p} GROUP BY u HAVING COUNT(*) >= {KCORE_K}
    )"""
        )
        parts.append(
            f"""s{r} AS MATERIALIZED (
      SELECT s.u, s.v FROM s{p} s
      JOIN n{r} a ON a.node = s.u JOIN n{r} b ON b.node = s.v
    )"""
        )
    stats = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, (SELECT COUNT(*) FROM n{r - 1}) - "
        f"(SELECT COUNT(*) FROM n{r}) AS n_removed, "
        f"(SELECT COUNT(*) FROM n{r}) AS n_remaining"
        for r in range(1, KCORE_ROUNDS + 1)
    )
    last = f"n{KCORE_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    , rounds AS ({stats})
    SELECT CAST(round AS INTEGER) AS round,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(n_remaining AS BIGINT) AS n_remaining,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {last}) AS core_size,
           (SELECT CAST(COALESCE(SUM(node), 0) AS BIGINT) FROM {last})
             AS core_id_sum,
           (SELECT COUNT(*) FROM n{KCORE_ROUNDS - 1}) =
             (SELECT COUNT(*) FROM {last}) AS converged
    FROM rounds ORDER BY round"""
    )


@register(
    "q_graph_kcore",
    oracle=_kcore_sql(),
    doc=f"k-core decomposition by iterative peeling over the part "
    f"co-purchase graph: {KCORE_ROUNDS} rounds of 'drop nodes with degree "
    f"< {KCORE_K}, keep only edges between survivors', reporting per-round "
    "removals, the surviving core size, an id-sum content check, and a "
    "converged verdict (last round removed nothing). Defining the output "
    "as exactly R peels (rather than 'until fixpoint') keeps it well-"
    "defined at ANY scale and lets the oracle replay the same R rounds as "
    "a MATERIALIZED CTE chain — the iterative-oracle recipe of PageRank/"
    "BPE/Lloyd applied to graph peeling. Spark shape (round-8 re-cut, the "
    "pagerank idiom): round 1 peels the bulk with one degree groupBy + two "
    "survivor semi-joins, then the surviving edge list is re-cut hash-"
    "partitioned on u ONCE and cached; rounds 2..R are DELTA peels — the "
    "round's removed-node set (small by then) joins the cached edges to "
    "produce per-neighbor degree decrements, so each round shuffles only "
    "node-delta-sized tables and never re-shuffles edges (the degree "
    "invariant deg_r(u) = degree among currently-alive nodes is exactly "
    "the oracle's per-round HAVING recount, maintained incrementally; "
    "zero-degree survivors are kept in the degree table so they are "
    "counted alive this round and peel next round, as the oracle's edge-"
    "driven recount does implicitly). Early exit fires when a round "
    "removes nothing (remaining rounds are no-ops by definition). The "
    "dense-core mining primitive for community seeds and spam-cluster "
    "detection.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # Round-13 representation recut (the verdict's item 4; guide §2.3/§2.4):
    # candidate pairs never materialize as a DISTINCT edge table. Both
    # directions of every in-basket pair are emitted in-row and collapse
    # straight into a cached ADJACENCY LIST — one groupBy(u) whose map-side
    # collect_set already dedupes, replacing the old chain of pair-distinct
    # shuffle → symmetric union → localCheckpoint rewrite (the 2.4M-row edge
    # table crossed three exchanges before the peel even started; sf0.1
    # probe: 99.7% of raw pairs were already unique, so the distinct was a
    # full shuffle for nothing). The exploded view of the cached adjacency
    # feeds kcore_peel ALREADY hash-partitioned on u — exactly the layout
    # its round-1 degree count and delta rounds want. Values identical: the
    # edge set is the same symmetric distinct set; node universe = adjacency
    # row count (every edge endpoint, as before). Earlier measured
    # rejections stand unchanged and still apply to this shape: the BFS
    # half-size-cache idiom (r11, 0.43x at sf1) and the degree-upper-bound
    # prefilter (r12, 0.82-0.83x on both graph shapes).
    per_basket = baskets.select(
        F.explode(
            F.expr("transform(parts, x -> struct(x AS u, filter(parts, y -> y != x) AS vs))")
        ).alias("p")
    ).select("p.u", "p.vs")
    adj = scoped_cache(
        per_basket.groupBy("u").agg(
            F.array_distinct(F.flatten(F.collect_list("vs"))).alias("nbrs")
        )
    )
    n_nodes = adj.count()  # materializes the cache; this IS the node universe
    sym = adj.select("u", F.explode("nbrs").alias("v"))
    return kcore_peel(spark, sym, KCORE_K, KCORE_ROUNDS, n_nodes=n_nodes)


def kcore_peel(
    spark: SparkSession,
    sym: DataFrame,
    k: int,
    max_rounds: int,
    recut_threshold: float = 0.5,
    n_nodes: int | None = None,
) -> DataFrame:
    """Exactly ``max_rounds`` k-core peels over a SYMMETRIC edge list
    (u, v) — the delta-peeling engine behind q_graph_kcore, factored so
    units can pin the incremental-degree math against brute force on
    adversarial synthetic graphs (cascading removals, zero-degree
    survivors) that the fixture's K never exercises.

    ``recut_threshold`` (round-9, the pagerank measured-switch idiom
    applied to the cache): once the alive-node count falls below
    threshold × the count at the last edge re-cut, the cached edge list —
    which every round's delta join scans in full — is re-cut to
    survivors-only edges and re-cached. Each re-cut pays one shuffle of
    the (now much smaller) surviving edges; the halving rule bounds total
    re-cut volume at ~2× the round-1 edge set while the per-round scans
    shrink geometrically — the term that dominates deep peels (many
    rounds, steadily shrinking core). Correctness is unaffected: the
    incremental degree table is the state; the cache only ever loses
    edges incident to already-removed nodes, whose decrements can no
    longer reach an alive row."""
    # n_nodes: callers that PREFILTER the edge list (drop edges between two
    # provably-sub-k nodes) must pass the true node-universe count — such a
    # node can vanish from sym entirely yet still belongs in round 1's
    # alive-then-removed accounting.
    prev_n = sym.select("u").distinct().count() if n_nodes is None else n_nodes
    # -- round 1: bulk peel (most nodes die here at any K worth peeling) --
    deg0 = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    surv = deg0.filter(F.col("d") >= k).select(F.col("u").alias("node"))
    # One-time edge re-cut (the pagerank idiom): survivors-only edges,
    # hash-partitioned on u and CACHED (not checkpointed — under AQE a
    # localCheckpoint's LogicalRDD reports UnknownPartitioning, so every
    # delta round would re-shuffle the edges; an InMemoryRelation keeps the
    # REPARTITION_BY_COL partitioning visible to the planner; on a real
    # cluster this persist is DISK_ONLY). Rounds 2..R never shuffle edges:
    # the removed-node delta comes TO the edge partitioning.
    alive_edges = scoped_cache(
        sym.join(surv.select(F.col("node").alias("u")), "u")
        .join(surv.select(F.col("node").alias("v")), "v")
        .select("u", "v")
        .repartition(F.col("u"))
    )
    alive_edges.count()  # materialize so the planner sees the final partitioning
    n_surv = surv.count()
    rounds = [(1, prev_n - n_surv, n_surv)]
    prev_n = n_surv
    nodes_at_cut = n_surv  # alive count when the edge cache was last re-cut
    # deg_1: degree among survivors — LEFT join keeps zero-degree survivors
    # (all neighbors peeled) in the node universe at count 0, so they are
    # counted alive this round and removed next round, exactly like the
    # oracle's edge-driven HAVING recount.
    deg = truncate_lineage(
        surv.join(
            alive_edges.groupBy(F.col("u").alias("node")).agg(
                F.count(F.lit(1)).alias("d")
            ),
            "node",
            "left",
        ).select("node", F.coalesce("d", F.lit(0)).alias("d"))
    )
    for r in range(2, max_rounds + 1):
        removed = deg.filter(F.col("d") < k).select("node")
        if removed.isEmpty():
            # converged: the remaining rounds are no-ops BY DEFINITION —
            # fill them in without running more Spark jobs
            for rr in range(r, max_rounds + 1):
                rounds.append((rr, 0, prev_n))
            break
        # delta decrements: edges OUT of removed nodes (symmetric list, so
        # these are exactly the edges INTO removed nodes) decrease each
        # surviving neighbor's alive-degree by 1. Edge side is cached and
        # u-partitioned — only the delta moves; the groupBy("v") shuffles
        # matched edges only (delta x avg-degree rows).
        dec = (
            alive_edges.join(removed.select(F.col("node").alias("u")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        deg = truncate_lineage(
            deg.join(removed, "node", "left_anti")
            .join(dec, "node", "left")
            .select(
                "node", (F.col("d") - F.coalesce("dec", F.lit(0))).alias("d")
            )
        )
        n_surv = deg.count()
        rounds.append((r, prev_n - n_surv, n_surv))
        prev_n = n_surv
        if 0 < n_surv < recut_threshold * nodes_at_cut and r < max_rounds:
            # the alive set halved since the cache was cut: every remaining
            # round would still scan the stale (larger) edge set, so pay one
            # shuffle of the small surviving edges now and scan less forever
            # after. Semi-joins against the CURRENT alive nodes drop edges
            # whose decrements could only land on already-removed rows.
            alive_nodes = deg.select("node")
            recut = scoped_cache(
                alive_edges.join(
                    alive_nodes.select(F.col("node").alias("u")), "u", "left_semi"
                )
                .join(alive_nodes.select(F.col("node").alias("v")), "v", "left_semi")
                .select("u", "v")
                .repartition(F.col("u"))
            )
            recut.count()  # materialize before dropping the old cache
            alive_edges.unpersist()
            alive_edges = recut
            nodes_at_cut = n_surv
    core = deg.select("node")  # n_R: survivors after the final executed peel
    core_rows = core.agg(
        F.count(F.lit(1)).cast("bigint").alias("core_size"),
        F.coalesce(F.sum("node"), F.lit(0)).cast("bigint").alias("core_id_sum"),
    ).collect()[0]
    # every Spark job this query runs has completed (the result below is
    # built from collected rows), so release the edge cache NOW rather than
    # leaving it pinned for callers that never invoke release_caches()
    alive_edges.unpersist()
    converged = rounds[-1][1] == 0
    out = spark.createDataFrame(
        [
            (r, rem, left, int(core_rows["core_size"]), int(core_rows["core_id_sum"]), converged)
            for r, rem, left in rounds
        ],
        "round int, n_removed bigint, n_remaining bigint, "
        "core_size bigint, core_id_sum bigint, converged boolean",
    )
    return out.orderBy("round")


EXPORT_BUDGET = 20_000  # token budget: partial selection at every fixture SF
EXPORT_SHARDS = 16


def _export_manifest_sql() -> str:
    from ..operators.components import SQL_PIPELINE_RANKED

    return (
        SQL_PIPELINE_RANKED
        + f""",
    kept2 AS (
      SELECT doc_id, quality_score AS quality FROM ranked WHERE rk = 1
    ),
    ntok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM tok),
    sel AS (
      SELECT k.doc_id, n.n_tokens,
             SUM(n.n_tokens) OVER (
               ORDER BY k.quality DESC, k.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM kept2 k JOIN ntok n USING (doc_id)
    ),
    chosen AS (
      SELECT doc_id, n_tokens, cum_tokens FROM sel
      WHERE cum_tokens <= {EXPORT_BUDGET}
    )
    SELECT CAST({SQL_MD5_LONG.format(x="CAST(doc_id AS VARCHAR)")}
                % {EXPORT_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(MAX(cum_tokens) AS BIGINT) AS max_cum_tokens
    FROM chosen GROUP BY 1 ORDER BY shard"""
    )


@register(
    "q_corpus_export_manifest",
    oracle=_export_manifest_sql(),
    doc=f"The curation pipeline's LAST MILE, end-to-end in one declarative "
    "plan: near-dup edges → connected components → keep-best-quality per "
    f"cluster (q_dedup_pipeline_keep, reused as a DataFrame) → {EXPORT_BUDGET}"
    "-token budget selection via the range-partitioned global prefix sum "
    f"(operators/sampling.budget_select, reused) → deterministic "
    f"{EXPORT_SHARDS}-way md5 sharding → the per-shard manifest a training "
    "job consumes (doc counts, token sums, id checksums, coverage bounds). "
    "Every stage is an already-gated operator COMPOSED at the DataFrame "
    "level — the demonstration that the engine's pieces snap together into "
    "a real export run; the oracle replays the entire chain (recursive-CTE "
    "components included) off one shared SQL prelude, so pipeline "
    "semantics cannot drift between the stage gates and this composition. "
    "Scale shape is inherited stage-wise: shingle-hash shuffles, label "
    "propagation, the no-global-window prefix sum, one manifest groupBy.",
)
def q_corpus_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import pipeline_keep_ranked
    from ..operators.sampling import budget_select

    # round-11 recut: the keep stage's scored projection already tokenized
    # every document for the quality score — carry n_tokens out of it
    # instead of re-tokenizing the corpus and re-attaching counts with a
    # doc-scale join (one full scan + one shuffle join removed; the oracle
    # is unchanged because ntok-join-kept == kept-with-ntok row for row)
    scored = pipeline_keep_ranked(spark, sf_dir).select(
        "doc_id", F.col("quality_score").alias("quality"), "n_tokens"
    )
    sel = budget_select(spark, scored, EXPORT_BUDGET)
    return (
        sel.withColumn(
            "shard",
            (md5_long(F.col("doc_id").cast("string")) % EXPORT_SHARDS).cast("bigint"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
            F.max("cum_tokens").cast("bigint").alias("max_cum_tokens"),
        )
        .orderBy("shard")
    )


@register(
    "etl_wap_publish_e2e",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           TRUE AS audit_pass, TRUE AS published
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Write-Audit-Publish e2e — the warehouse promotion pattern that "
    "keeps bad batches out of consumer view: the daily per-type gold "
    "rollup lands in a STAGING directory; an audit re-reads the staged "
    "files and reconciles exact-integer invariants (row counts, event "
    "totals, event_id checksums) against the source aggregates; ONLY a "
    "passing audit is re-written to the publish location, which consumers "
    "then read. The emitted audit_pass/published booleans are the REAL "
    "comparison results over the staged bytes — a corrupted write, lost "
    "partition, or double-publish flips them and the hash gate fails. "
    "Checksums are integer event_id sums (never float sums — order-"
    "dependent). At scale the audit is one aggregate over footer-pruned "
    "staged files vs one over the source — two cheap scans buying "
    "atomic-visibility semantics on a plain object store.",
)
def etl_wap_publish_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        "event_type",
        "event_id",
    )
    gold = ev.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )
    if ev.isEmpty():
        return gold.groupBy("event_type").agg(
            F.countDistinct("event_date").cast("bigint").alias("n_days"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("id_checksum").cast("bigint").alias("id_checksum"),
            F.lit(True).alias("audit_pass"),
            F.lit(True).alias("published"),
        ).orderBy("event_type")
    stage = scoped_dir("wap_stage_")
    publish = scoped_dir("wap_publish_")
    gold.write.mode("overwrite").parquet(stage)
    staged = spark.read.parquet(stage)
    # audit: exact-integer reconciliation of the STAGED bytes vs source
    a = staged.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_events").alias("n"),
        F.sum("id_checksum").alias("ck"),
    ).collect()[0]
    b = ev.agg(
        F.countDistinct("event_date", "event_type").alias("rows"),
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("ck"),
    ).collect()[0]
    audit_pass = (a["rows"], a["n"], a["ck"]) == (b["rows"], b["n"], b["ck"])
    published = False
    if audit_pass:
        staged.write.mode("overwrite").parquet(publish)
        published = True
    consumer = spark.read.parquet(publish) if published else staged.limit(0)
    return (
        consumer.groupBy("event_type")
        .agg(
            F.countDistinct("event_date").cast("bigint").alias("n_days"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("id_checksum").cast("bigint").alias("id_checksum"),
        )
        .select(
            "event_type",
            "n_days",
            "n_events",
            "id_checksum",
            F.lit(audit_pass).alias("audit_pass"),
            F.lit(published).alias("published"),
        )
        .orderBy("event_type")
    )


@register(
    "q_event_seasonality_profile",
    oracle="""
    WITH hr AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
               AS value_sum
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS type_total FROM hr GROUP BY 1
    )
    SELECT h.event_type, h.hour, h.n, t.type_total, h.value_sum,
           CAST((h.n * 24 * 100) // t.type_total AS BIGINT) AS index_x100
    FROM hr h JOIN tot t USING (event_type)
    ORDER BY h.event_type, h.hour
    """,
    doc="Hour-of-day seasonality profile per event type: activity counts, "
    "decimal-summed value totals (the string-hop conversion — float sums "
    "are order-dependent, decimal partials are not), and the seasonal "
    "index n·24·100 div type_total (100 = flat; exact integer division) — "
    "the load-shaping/capacity primitive behind cron placement and "
    "anomaly baselines (a 3 a.m. spike is invisible against a daily "
    "total, obvious against its hourly index). Shape: one (type, hour) "
    "groupBy — 24×|types| rows — plus a type-domain broadcast; trivially "
    "partition-prunable when events is date-partitioned.",
)
def q_event_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    hr = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dec_to_double(F.sum(F.col("value").cast("decimal(25,6)"))).alias("value_sum"),
    )
    tot = hr.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("type_total"))
    return (
        hr.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "hour",
            "n",
            "type_total",
            "value_sum",
            F.expr("(n * 24 * 100) div type_total").cast("bigint").alias("index_x100"),
        )
        .orderBy("event_type", "hour")
    )
