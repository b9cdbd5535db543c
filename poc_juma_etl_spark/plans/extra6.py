"""Round-5 additions: SCD2 dimension build + point-in-time lookup, and an
in-plan ANN recall evaluation.

SCD2 (type-2 slowly-changing dimension) is the warehouse pattern the
reference's BigQuery consumers would reach for next after the gold CTAS
(reference scope: materialize_gold.py stops at plain snapshots): collapse
a change history into [valid_from, valid_to) versioned rows, then join
facts to the version that was current at the fact's event time. Both
halves are pure DataFrame windows/joins — no state, no UDFs — and both
oracle exactly.

The recall query closes an evaluation gap: the engine ships several ANN
index paths (IVF, LSH, PQ) whose *implementations* are hash-gated, but a
curation pipeline also needs the index-quality number itself — recall@k
against the exact answer — computed in-plan, not in a notebook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dsum, register

# ---------------------------------------------------------------------------
# SCD2: customer order-priority history from the orders change stream.
# Run boundaries are deterministic: the change ordering key
# (o_orderdate, o_orderkey) is unique per customer.

_SQL_SCD2 = """
    s AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ),
    v AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             SUM(CASE WHEN prev IS NULL OR prev <> o_orderpriority
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM s
    ),
    runs AS (
      SELECT o_custkey AS custkey, CAST(version AS BIGINT) AS version,
             MAX(o_orderpriority) AS priority,
             MIN(o_orderdate) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM v GROUP BY o_custkey, version
    ),
    scd AS (
      SELECT custkey, version, priority, valid_from,
             LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY version)
               AS valid_to,
             n_orders
      FROM runs
    )"""


def _scd2_runs(changes: DataFrame) -> DataFrame:
    """Weighted run collapse: (custkey, odate, okey, priority, weight) →
    (custkey, version, priority, valid_from, n_orders). ``weight`` lets an
    already-collapsed version (the incremental path's carried-over open
    version) re-enter the stream as one pseudo-change carrying its order
    count. valid_to chaining is the caller's job — it depends on which
    segment of the history is being (re)built."""
    wseq = W.partitionBy("custkey").orderBy("odate", "okey")
    chg = (
        F.lag("priority").over(wseq).isNull()
        | (F.lag("priority").over(wseq) != F.col("priority"))
    ).cast("int")
    versioned = changes.withColumn(
        "version", F.sum(chg).over(wseq.rowsBetween(W.unboundedPreceding, 0))
    )
    return versioned.groupBy(
        "custkey", F.col("version").cast("bigint").alias("version")
    ).agg(
        F.max("priority").alias("priority"),
        F.min("odate").alias("valid_from"),
        F.sum("weight").cast("bigint").alias("n_orders"),
    )


def _order_changes(o: DataFrame) -> DataFrame:
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("odate"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("priority"),
        F.lit(1).alias("weight"),
    )


def _scd2_from_orders(o: DataFrame) -> DataFrame:
    runs = _scd2_runs(_order_changes(o))
    wver = W.partitionBy("custkey").orderBy("version")
    return runs.withColumn("valid_to", F.lead("valid_from").over(wver))


def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(custkey, version, priority, valid_from, valid_to, n_orders): each
    customer's order-priority history collapsed into SCD2 intervals —
    consecutive same-priority orders form one version, valid_to is the
    next version's valid_from (NULL = current). Two windows and one
    aggregate, all partitioned by custkey: shuffles once on the dimension
    key and never widens past the change stream."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return _scd2_from_orders(o)


@register(
    "q_scd2_dimension_build",
    oracle=f"""
    WITH {_SQL_SCD2}
    SELECT custkey, version, priority, valid_from, valid_to, n_orders
    FROM scd ORDER BY custkey, version
    """,
    doc="Type-2 slowly-changing dimension build: collapse each customer's "
    "order-priority change stream into versioned [valid_from, valid_to) "
    "intervals (LAG change-flag → running-sum version id → per-run "
    "aggregate → LEAD close-out; valid_to NULL marks the current "
    "version). Every window is partitioned by the dimension key, so the "
    "whole build is one shuffle on custkey regardless of history depth — "
    "the standard CDC-to-warehouse compaction. Deterministic run "
    "boundaries: the ordering key (o_orderdate, o_orderkey) is unique.",
)
def q_scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_dimension(spark, sf_dir).select(
        "custkey", "version", "priority", "valid_from", "valid_to", "n_orders"
    ).orderBy("custkey", "version")


@register(
    "q_scd2_point_in_time_join",
    oracle=f"""
    WITH {_SQL_SCD2},
    fact AS (
      SELECT l.l_shipdate,
             l.l_extendedprice * (1 - l.l_discount) AS revenue,
             o.o_custkey AS custkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    keys AS (SELECT DISTINCT custkey, l_shipdate FROM fact),
    lkp AS (
      SELECT custkey, l_shipdate, priority FROM (
        SELECT k.custkey, k.l_shipdate, d.priority,
               ROW_NUMBER() OVER (PARTITION BY k.custkey, k.l_shipdate
                                  ORDER BY d.valid_from DESC, d.version DESC) AS rn
        FROM keys k
        JOIN scd d ON d.custkey = k.custkey AND d.valid_from <= k.l_shipdate
      ) WHERE rn = 1
    )
    SELECT lkp.priority AS priority_at_ship,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(CAST(SUM(CAST(f.revenue AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
    FROM fact f JOIN lkp ON lkp.custkey = f.custkey AND lkp.l_shipdate = f.l_shipdate
    GROUP BY lkp.priority ORDER BY priority_at_ship
    """,
    doc="Point-in-time (as-of) lookup against the SCD2 dimension: each "
    "lineitem reads the priority version current at its ship date, then "
    "revenue rolls up by the looked-up attribute — how a fact table "
    "reads a versioned dimension without time-travel storage. The lookup "
    "is resolved per DISTINCT (custkey, ship_date) key by MERGE-AND-"
    "CARRY-FORWARD: version-start rows and key rows union into one "
    "per-customer timeline, sorted once, and last(priority, ignorenulls) "
    "carries each version over the keys it covers — O(keys + versions) "
    "rows through one custkey-partitioned window, versus the keys × "
    "versions candidate join whose sf1 soak run ground a single-task "
    "hash map to 1.8 GB (this rewrite IS that soak fix). Resolving per "
    "distinct key also sidesteps any reliance on a unique fact key (the "
    "fixture's (orderkey, linenumber) is NOT unique; a per-fact rn=1 "
    "window silently dropped rows with engine-dependent survivors — "
    "caught by this oracle before it shipped). Ties at same-day version "
    "flips break to the later version: version rows sort before the key "
    "row on their date, ascending, so the carry picks the last.",
)
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    # spread(): the single-file fixture scan yields 1-2 input splits, so
    # the 6M-row distinct's map-side partial aggregate would otherwise run
    # (and grow its hash map) on one core — at real scale the scan has
    # thousands of splits and this is a no-op
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_shipdate",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    fact = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_shipdate", "revenue", F.col("o_custkey").alias("custkey")
    )
    dim = scd2_dimension(spark, sf_dir).select(
        "custkey", "version", "priority", "valid_from"
    )
    # merge-and-carry-forward DIRECTLY onto the fact rows (round-13 recut,
    # guide §2.4): the carry window tolerates duplicate (custkey, d) rows —
    # last(priority, ignorenulls) gives every fact row of a day the same
    # carried version — so the distinct key set, its shuffle, the fact
    # cache, and the two-sided re-attach sort-merge join all disappear.
    # Plan: 20 Exchanges → 6, the fact table crosses exactly one
    # Exchange (the custkey carry window) and is scanned once. Semantics are
    # the r8 soak fix's, unchanged: no rn=1 per-fact window anywhere (the
    # carry never dedupes, so the non-unique fact key is still safe), and
    # the same (d, is_key, version) sort — version rows before same-day key
    # rows (valid_from <= shipdate inclusive), ascending version so the
    # carried last() is the same-day flip winner.
    starts = dim.select(
        "custkey",
        F.col("valid_from").alias("d"),
        F.lit(0).alias("is_key"),
        "version",
        "priority",
        F.lit(None).cast("double").alias("revenue"),
    )
    factrows = fact.select(
        "custkey",
        F.col("l_shipdate").alias("d"),
        F.lit(1).alias("is_key"),
        F.lit(None).cast("bigint").alias("version"),
        F.lit(None).cast("string").alias("priority"),
        "revenue",
    )
    wseq = (
        W.partitionBy("custkey")
        .orderBy("d", "is_key", "version")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        starts.unionByName(factrows)
        .withColumn("cur", F.last("priority", ignorenulls=True).over(wseq))
        # fact rows before the customer's first version carry nothing — the
        # fixture has shipdates preceding the first order date — and the
        # candidate form (the oracle) excludes them too
        .filter((F.col("is_key") == 1) & F.col("cur").isNotNull())
        .groupBy(F.col("cur").alias("priority_at_ship"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            dsum("revenue", "revenue"),
        )
        .orderBy("priority_at_ship")
    )


SCD2_SPLIT = "2001-01-01"  # fixture orders span 1995-01-01 .. 2001-08-01


@register(
    "q_scd2_incremental_apply",
    oracle=f"""
    WITH {_SQL_SCD2}
    SELECT custkey, version, priority, valid_from, valid_to, n_orders
    FROM scd ORDER BY custkey, version
    """,
    doc="Incremental SCD2 maintenance — the production form of the build: "
    f"the dimension as of {SCD2_SPLIT} absorbs the change batch from after "
    "the split WITHOUT re-reading the closed history. Only each affected "
    "customer's OPEN version can change, so the merge re-collapses just "
    "{open version as one weighted pseudo-change} + {that customer's new "
    "changes} (the weighted run collapse carries the open version's order "
    "count through), renumbers with the customer's base version offset, "
    "and unions the untouched rows back. The oracle is the FULL rebuild "
    "over all orders: incremental apply must be indistinguishable from "
    "rebuild, row for row — the incremental-view-maintenance equivalence, "
    "hash-checked. Work is proportional to the delta (affected customers "
    "× their open+new changes), not history size: the at-scale nightly "
    "merge shape.",
)
def q_scd2_incremental_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return scd2_incremental_from_orders(o, SCD2_SPLIT)


def scd2_incremental_from_orders(o: DataFrame, split_date: str) -> DataFrame:
    """Incremental SCD2 merge at an arbitrary split date (the registered
    query pins SCD2_SPLIT; tests sweep other splits, including the empty-
    base and empty-delta edges, against the full rebuild)."""
    split = F.lit(split_date).cast("date")
    base = _scd2_from_orders(o.filter(F.col("o_orderdate") < split))
    delta = _order_changes(o.filter(F.col("o_orderdate") >= split))

    affected = delta.select("custkey").distinct().withColumn("aff", F.lit(1))
    marked = base.join(affected, "custkey", "left")
    # closed versions of affected customers are immutable (their valid_to
    # already points at the open version's valid_from, which survives as
    # the recomputed segment's first run start); unaffected customers keep
    # everything, open version included
    keep = marked.filter(F.col("aff").isNull() | F.col("valid_to").isNotNull())
    # the open version re-enters the change stream as ONE pseudo-change
    # dated at its own valid_from (sorts before every delta change) and
    # weighted with its collapsed order count
    open_carried = (
        marked.filter(F.col("aff").isNotNull() & F.col("valid_to").isNull())
        .select(
            "custkey",
            F.col("valid_from").alias("odate"),
            F.lit(-1).cast("long").alias("okey"),
            "priority",
            F.col("n_orders").cast("int").alias("weight"),
        )
    )
    recollapsed = _scd2_runs(open_carried.unionByName(delta))
    # version renumbering: the recomputed segment replaces the base's open
    # version, so local run i becomes base_version_count - 1 + i
    # (customers new in the delta have no base rows: offset 0)
    voff = base.groupBy("custkey").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("voff")
    )
    wver = W.partitionBy("custkey").orderBy("version")
    recomputed = (
        recollapsed.join(voff, "custkey", "left")
        .select(
            "custkey",
            (F.col("version") + F.coalesce(F.col("voff"), F.lit(0))).alias("version"),
            "priority",
            "valid_from",
            "n_orders",
            F.lead("valid_from").over(wver).alias("valid_to"),
        )
    )
    cols = ["custkey", "version", "priority", "valid_from", "valid_to", "n_orders"]
    return (
        keep.select(*cols).unionByName(recomputed.select(*cols)).orderBy("custkey", "version")
    )


# ---------------------------------------------------------------------------
# ANN recall@k: IVF's top-k versus the exact brute-force top-k, in-plan.


def _build_recall_oracle() -> str:
    from ..operators.kmeans import (
        K,
        NPROBE,
        SQL_SEED_DIST_PRELUDE,
        SQL_SEED_NV_CTE,
        TOP_K,
    )
    from ..operators.similarity import N_QUERIES

    return f"""
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
    ivf_scored AS (
      SELECT p.query_id, an.vec_id AS neighbor_id,
             CAST(CAST(list_sum(list_transform(list_zip(qn.qv, nb.qv),
                                               x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
               / (qn.nrm * nb.nrm) AS cosine
      FROM probes p
      JOIN assign an ON an.cell = p.probe_cell AND an.vec_id <> p.query_id
      JOIN nv nb ON nb.vec_id = an.vec_id
      JOIN nv qn ON qn.vec_id = p.query_id
    ),
    ivf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM ivf_scored
      ) WHERE rk <= {TOP_K}
    ),
    bf_scored AS (
      SELECT qn.vec_id AS query_id, nb.vec_id AS neighbor_id,
             CAST(CAST(list_sum(list_transform(list_zip(qn.qv, nb.qv),
                                               x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
               / (qn.nrm * nb.nrm) AS cosine
      FROM nv qn JOIN nv nb ON nb.vec_id <> qn.vec_id
      WHERE qn.vec_id < {N_QUERIES}
    ),
    bf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM bf_scored
      ) WHERE rk <= {TOP_K}
    )
    SELECT b.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM bf_topk b
    LEFT JOIN ivf_topk i
      ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id ORDER BY b.query_id
    """


@register(
    "q_ann_recall_at_k",
    oracle=_build_recall_oracle(),
    doc="ANN index-quality evaluation in-plan: recall@5 of the IVF index "
    "against the exact brute-force neighbors, per probe query — the "
    "number a curation pipeline tracks when it tunes nprobe/cells. Both "
    "top-k sides reuse the registered operators' own plans (one shared "
    "quantized-cosine kernel, broadcast query sets), then a "
    "queries×k-sized left join counts overlaps; the oracle rebuilds both "
    "paths from the shared seed-cell CTEs, so the measured recall is "
    "itself hash-verified, not just plausible. Evaluation cost: the "
    "brute-force side is one corpus scan per query batch — the same "
    "price the baseline operator already pays; everything downstream is "
    "k-row arithmetic.",
)
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import TOP_K, q_ann_ivf_topk
    from ..operators.similarity import q_ann_bruteforce_topk

    bf = q_ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = q_ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_hits"),
            (F.count("hit").cast("double") / TOP_K).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Feature drift: distribution shift of events.value between two time
# windows, reported per bucket with rational-only divergence terms.

DRIFT_SPLIT = "2024-01-16"  # fixture events span 2024-01-01 .. 2024-01-30
DRIFT_BUCKETS = 10


@register(
    "q_feature_drift",
    oracle=f"""
    WITH ref AS (
      SELECT event_type, value FROM events
      WHERE ts < TIMESTAMP '{DRIFT_SPLIT} 00:00:00'
    ),
    cur AS (
      SELECT event_type, value FROM events
      WHERE ts >= TIMESTAMP '{DRIFT_SPLIT} 00:00:00'
    ),
    bounds AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM ref GROUP BY event_type
    ),
    spine AS (
      SELECT b.event_type, b.lo, b.hi, r.range AS bucket
      FROM bounds b, range(0, {DRIFT_BUCKETS}) r
    ),
    bref AS (
      SELECT r.event_type,
             CASE WHEN b.hi > b.lo
                  THEN greatest(0, least({DRIFT_BUCKETS - 1},
                       CAST(floor((r.value - b.lo) / ((b.hi - b.lo) / {DRIFT_BUCKETS}.0)) AS BIGINT)))
                  ELSE 0 END AS bucket,
             COUNT(*) AS n
      FROM ref r JOIN bounds b ON b.event_type = r.event_type
      GROUP BY 1, 2
    ),
    bcur AS (
      SELECT c.event_type,
             CASE WHEN b.hi > b.lo
                  THEN greatest(0, least({DRIFT_BUCKETS - 1},
                       CAST(floor((c.value - b.lo) / ((b.hi - b.lo) / {DRIFT_BUCKETS}.0)) AS BIGINT)))
                  ELSE 0 END AS bucket,
             COUNT(*) AS n
      FROM cur c JOIN bounds b ON b.event_type = c.event_type
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             (SELECT COUNT(*) FROM ref r WHERE r.event_type = bounds.event_type) AS t_ref,
             (SELECT COUNT(*) FROM cur c WHERE c.event_type = bounds.event_type) AS t_cur
      FROM bounds
    ),
    joined AS (
      SELECT s.event_type, CAST(s.bucket AS BIGINT) AS bucket,
             CAST(COALESCE(br.n, 0) AS BIGINT) AS n_ref,
             CAST(COALESCE(bc.n, 0) AS BIGINT) AS n_cur,
             CAST(COALESCE(br.n, 0) AS DOUBLE) / NULLIF(t.t_ref, 0) AS p_ref,
             CAST(COALESCE(bc.n, 0) AS DOUBLE) / NULLIF(t.t_cur, 0) AS p_cur
      FROM spine s
      LEFT JOIN bref br ON br.event_type = s.event_type AND br.bucket = s.bucket
      LEFT JOIN bcur bc ON bc.event_type = s.event_type AND bc.bucket = s.bucket
      JOIN tot t ON t.event_type = s.event_type
    )
    SELECT event_type, bucket, n_ref, n_cur, p_ref, p_cur,
           abs(p_cur - p_ref) AS l1_term,
           CASE WHEN p_ref > 0 THEN (p_cur - p_ref) * (p_cur - p_ref) / p_ref
                ELSE NULL END AS chi2_term
    FROM joined
    ORDER BY event_type, bucket
    """,
    doc=f"Feature drift monitor: the distribution of events.value before "
    f"vs after {DRIFT_SPLIT}, per event type, over {DRIFT_BUCKETS} equal-"
    "width buckets anchored to the REFERENCE window's [min, max] (current-"
    "window outliers clamp to the edge buckets — drift mass lands visibly "
    "at the edges instead of silently re-scaling the axis). Emitted per "
    "bucket with rational-only divergence terms (L1 / total-variation "
    "contribution, chi-square contribution; consumers sum them — PSI's "
    "ln() is deliberately absent because transcendental libm results are "
    "not bit-portable across engines, the repo's exactness rule). Two "
    "fact scans total — a reference-bounds pass and ONE flagged bucketing "
    "pass covering both windows (per-window totals fall out of the tiny "
    "types×buckets count table, since clamping buckets every row) — the "
    "monitoring-job shape at any scale.",
)
def q_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    from .queries import scoped_cache

    # pass 1: reference-window bounds (tiny — one row per event type).
    # bounds and counts are each referenced by several branches below;
    # caching the types(×buckets)-sized tables pins the fact-scan count
    # at two regardless of how the small-side joins reuse them
    bounds = scoped_cache(
        ev.filter(F.col("ts") < split)
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    # pass 2: ONE flagged bucketing scan covers both windows; every row
    # lands in a bucket (clamped), so the per-window totals are just sums
    # over the types×buckets×2 count table — no extra fact scans
    width = (F.col("hi") - F.col("lo")) / float(DRIFT_BUCKETS)
    idx = (
        F.when(
            F.col("hi") > F.col("lo"),
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(DRIFT_BUCKETS - 1),
                    F.floor((F.col("value") - F.col("lo")) / width).cast("bigint"),
                ),
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    counts = scoped_cache(
        ev.join(F.broadcast(bounds), "event_type")
        .select("event_type", (F.col("ts") >= split).alias("is_cur"), idx.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum((~F.col("is_cur")).cast("long")).alias("n_ref"),
            F.sum(F.col("is_cur").cast("long")).alias("n_cur"),
        )
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence(F.lit(0), F.lit(DRIFT_BUCKETS - 1))).alias("bucket")
    ).withColumn("bucket", F.col("bucket").cast("bigint"))
    joined = (
        spine.join(counts, ["event_type", "bucket"], "left")
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
            # NULL (not inf/NaN) when a window is empty for the type: Spark's
            # x/0 is NULL while DuckDB's double /0 is inf — NULLIF in the
            # oracle plus the natural Spark NULL keeps both engines agreed
            (
                F.coalesce("n_ref", F.lit(0)).cast("double")
                / F.when(F.col("t_ref") > 0, F.col("t_ref"))
            ).alias("p_ref"),
            (
                F.coalesce("n_cur", F.lit(0)).cast("double")
                / F.when(F.col("t_cur") > 0, F.col("t_cur"))
            ).alias("p_cur"),
        )
    )
    return joined.select(
        "event_type",
        "bucket",
        "n_ref",
        "n_cur",
        "p_ref",
        "p_cur",
        F.abs(F.col("p_cur") - F.col("p_ref")).alias("l1_term"),
        F.when(
            F.col("p_ref") > 0,
            (F.col("p_cur") - F.col("p_ref"))
            * (F.col("p_cur") - F.col("p_ref"))
            / F.col("p_ref"),
        ).alias("chi2_term"),
    ).orderBy("event_type", "bucket")


# ---------------------------------------------------------------------------
# Table fingerprint: order-independent content hash for snapshot
# verification (migration / replication / backup checks) without sorting.

_FP_TABLES: dict[str, list[str]] = {
    # int/string/date columns only: float cells have no canonical
    # cross-engine string form, so they stay out of the fingerprint
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
}

_FP_HALF = 1 << 30  # split the 60-bit row hash into two 30-bit halves:
# each SUM stays < rows * 2^30 — bigint-safe beyond 10^9 rows


def _fp_sql(table: str, cols: list[str]) -> str:
    row = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    h = f"CAST(('0x' || substr(md5({row}), 1, 15)) AS BIGINT)"
    return f"""
      SELECT '{table}' AS table_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(h % {_FP_HALF}) AS BIGINT) AS fp_lo,
             CAST(SUM(h // {_FP_HALF}) AS BIGINT) AS fp_hi
      FROM (SELECT {h} AS h FROM {table})"""


@register(
    "q_table_fingerprint",
    oracle=" UNION ALL ".join(_fp_sql(t, c) for t, c in _FP_TABLES.items())
    + " ORDER BY table_name",
    doc="Order-independent table fingerprints: md5 each row's canonical "
    "'|'-joined key-column string to a 60-bit hash, SUM the two 30-bit "
    "halves (bigint-safe past 10^9 rows) — equal fingerprints mean equal "
    "row multisets with no global sort, the cheap way to verify a "
    "migration, replica, or backup copy at any scale (commutative sums "
    "parallelize perfectly and merge across partitions/files). Float "
    "columns are excluded by design: they have no canonical cross-engine "
    "string form (the decimal-cast exactness rule, applied to hashing). "
    "The fingerprint hash-matching DuckDB here IS the demo: two engines, "
    "same bytes, same fingerprint.",
)
def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for table, cols in _FP_TABLES.items():
        h = F.expr(
            "CAST(conv(substring(md5(concat_ws('|', {cs})), 1, 15), 16, 10) AS BIGINT)".format(
                cs=", ".join(f"CAST({c} AS STRING)" for c in cols)
            )
        )
        outs.append(
            load_table(spark, sf_dir, table)
            .select(h.alias("h"))
            .agg(
                F.lit(table).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col("h") % _FP_HALF).cast("bigint").alias("fp_lo"),
                # shiftright = exact integer h // 2^30 (h >= 0).  Spark's `/` on
                # bigint goes through double, which rounds a 60-bit h to a
                # multiple of 128 and can truncate to hi+1 near cell edges —
                # ~6e-8 per row, i.e. guaranteed divergence beyond ~1e8 rows.
                F.sum(F.shiftright(F.col("h"), 30)).cast("bigint").alias("fp_hi"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name")
