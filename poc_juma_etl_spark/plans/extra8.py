"""Round-6b extension operators: iterative graph traversal, write-path
compaction planning, and dynamic-partition-pruning reads.

Three shapes a 100 TB lakehouse pipeline exercises constantly that the
existing families don't cover:

- **Multi-source BFS hop distances** (``q_graph_bfs_hops``): the frontier
  pattern (Pregel/GraphX) — each round expands only the *frontier* (nodes
  first reached last round) against the edge list, so round cost is
  proportional to the frontier's adjacency, not the whole graph. Distinct
  from the connected-components operator (min-label propagation touches
  every node every round; BFS touches only the growing boundary) and from
  PageRank (fixed iteration count, float mass). The DuckDB oracle reaches
  the same fixpoint by a different algorithm entirely — a depth-bounded
  recursive-CTE walk with MIN(depth) per node.

- **Small-file compaction planner** (``q_compaction_plan``): streaming and
  incremental ingest fragment tables into thousands of under-sized files;
  read throughput at 100 TB dies on file-open overhead, so every serious
  lakehouse runs bin-packing compaction (Delta OPTIMIZE / Iceberg
  rewrite_data_files). The planner assigns each file to the output group
  where its *start offset* in the partition's cumulative byte stream lands
  (``cum_before div TARGET``) — a deterministic, single-window-pass rule
  whose shuffles hash on the partition key only. Oversized files keep a
  group to themselves (planners don't split files); file sizes are pure
  integer arithmetic so both engines agree bit-for-bit.

- **Dynamic partition pruning e2e** (``etl_dpp_prune_e2e``): the star-join
  read-path optimization that makes partitioned 100 TB facts queryable —
  the selective dimension filter is turned into a runtime IN-subquery on
  the fact's partition column, so the fact scan opens only the partitions
  the dimension survivors name (here 12 of ~80). The query writes a
  month-partitioned fact, joins it to a filtered month dimension, and
  returns the aggregate; `tests/test_round6b_ops.py` asserts the
  ``dynamicpruning`` expression in the fact scan's physical plan, and the
  oracle recomputes the answer from the raw table (pruning must never
  change results).

The reference (fe-malveira-87/poc-juma-etl) has no analogue for any of
these — it delegates storage layout and query execution to BigQuery
(utils.py:286-323, materialize_gold.py:42-79); these extend the engine
along SURVEY.md §2.5's extension axis.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..checkpoint import truncate_lineage
from .queries import register

BFS_SEEDS = 3
BFS_MAX_HOPS = 4

# ~38 orders/file at sf0.01 -> ~3 output groups per month; scale-invariant
# group-count bound of months x priorities (oversized files never split).
COMPACT_TARGET = 300_000
FILE_BASE = 4096
KEY_MOD = 997

DPP_YEAR = 1996


@register(
    "q_graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE
    e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v, u FROM e),
    seeds AS (
      SELECT node FROM (SELECT DISTINCT u AS node FROM sym)
      ORDER BY node LIMIT {BFS_SEEDS}
    ),
    walk(node, d) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT s.v, walk.d + 1
      FROM walk JOIN sym s ON s.u = walk.node
      WHERE walk.d < {BFS_MAX_HOPS}
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(d) AS INTEGER) AS hops
    FROM walk GROUP BY node ORDER BY node
    """,
    doc=f"Multi-source BFS over the part co-purchase graph: hop distance "
    f"from the {BFS_SEEDS} smallest part ids, capped at {BFS_MAX_HOPS} hops. "
    "Spark runs the frontier algorithm — each round joins ONLY the newest "
    "frontier against the (checkpointed-once) symmetric edge list, "
    "anti-joins already-settled nodes, and stops early on an empty "
    "frontier — so per-round shuffle volume tracks the frontier's "
    "adjacency, not the graph (the Pregel shape; O(diameter) rounds). "
    "Edges are built from bounded per-order baskets in-row, never a "
    "lineitem self-join. The oracle reaches the same distances via a "
    "depth-bounded recursive-CTE walk with MIN(depth) per node — a "
    "different algorithm arriving at the same fixpoint.",
)
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import scoped_cache

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # Round-13 (the kcore adjacency recut, guide §2.3 "shuffle compressed
    # state, not pairs"): per-basket neighbor-complement ARRAYS shuffle once
    # into a cached symmetric adjacency list — candidate pairs never
    # materialize as a distinct edge table (the pair-distinct shuffle was a
    # full pass over a 99.7%-unique stream at sf0.1). The exploded view is
    # the same symmetric distinct edge set bfs_hops' own dedup produced.
    per_basket = baskets.select(
        F.explode(
            F.expr("transform(parts, x -> struct(x AS u, filter(parts, y -> y != x) AS vs))")
        ).alias("p")
    ).select("p.u", "p.vs")
    adj = scoped_cache(
        per_basket.groupBy(F.col("u").cast("bigint").alias("u")).agg(
            F.expr("array_distinct(flatten(collect_list(vs)))").alias("nbrs")
        )
    )
    adj.count()  # materialize once; rounds read the columnar cache
    sym = adj.select("u", F.explode("nbrs").alias("v")).select(
        "u", F.col("v").cast("bigint").alias("v")
    )
    return bfs_hops(sym, n_seeds=BFS_SEEDS, max_hops=BFS_MAX_HOPS, sym_ready=True)


def bfs_hops(
    pairs: DataFrame, n_seeds: int, max_hops: int, sym_ready: bool = False
) -> DataFrame:
    """(node, hops) for every node within ``max_hops`` of the ``n_seeds``
    smallest node ids in the undirected graph ``pairs`` (u, v). Pure
    DataFrame iteration — the driver sees only per-round emptiness checks,
    never node or edge data. ``sym_ready=True``: the caller already supplies
    a SYMMETRIC, DISTINCT, bigint, cache-backed edge view (the round-13
    adjacency recut) — skip the dedup/cache/mirror prelude."""
    if sym_ready:
        sym = pairs
        seeds = (
            sym.select(F.col("u").alias("node"))
            .distinct()
            .orderBy("node")
            .limit(n_seeds)
        )
        dist = truncate_lineage(seeds.withColumn("hops", F.lit(0).cast("int")))
        frontier = dist.select("node")
        for h in range(1, max_hops + 1):
            nxt = (
                frontier.join(sym, frontier.node == sym.u)
                .select(F.col("v").alias("node"))
                .distinct()
                .join(dist, "node", "left_anti")
                .withColumn("hops", F.lit(h).cast("int"))
            )
            nxt = truncate_lineage(nxt)
            if nxt.isEmpty():
                break
            dist = dist.union(nxt)
            frontier = nxt.select("node")
        return dist.orderBy("node")
    # One materialization of the distinct pair set: it feeds every round,
    # and without it each frontier join would re-execute the basket
    # pair-generation lineage — O(rounds) corpus passes at 100 TB. The
    # mirrored halves can't collide (pairs hold u < v), so the union needs
    # no distinct — that'd be a full extra shuffle of the edge list.
    # Round-10 recut: CACHE the half-size pair set and derive the
    # symmetric view lazily, instead of localCheckpointing the full
    # mirrored list. Two wins, both measured at sf1: (a) the materialized
    # footprint halves (each round's join scans the cache twice via the
    # union — same bytes read as one scan of a double-size checkpoint);
    # (b) scoped_cache releases the blocks deterministically when the
    # harness finishes the query, where localCheckpoint blocks lingered
    # until JVM GC — a second same-session BFS run degraded 56s -> 85s
    # from dead-block pressure before this change. Per-round joins still
    # broadcast the frontier (AQE BuildLeft), so edge bytes never cross a
    # per-round Exchange either way; on a real cluster this persist is
    # DISK_ONLY-eligible.
    from .queries import scoped_cache

    dd = scoped_cache(
        pairs.select(
            F.col("u").cast("bigint").alias("u"), F.col("v").cast("bigint").alias("v")
        ).distinct()
    )
    dd.count()  # materialize once; rounds read the columnar cache
    sym = dd.union(dd.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = (
        sym.select(F.col("u").alias("node")).distinct().orderBy("node").limit(n_seeds)
    )
    dist = truncate_lineage(seeds.withColumn("hops", F.lit(0).cast("int")))
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        # the new frontier IS the round's output: checkpoint it once, reuse
        # it as next round's probe side, and grow the settled set as a
        # shallow union of per-round checkpoints — never re-materialize the
        # whole settled set each round (that's O(rounds * nodes) writes)
        nxt = (
            frontier.join(sym, frontier.node == sym.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
        )
        nxt = truncate_lineage(nxt)
        if nxt.isEmpty():
            break
        dist = dist.union(nxt)
        frontier = nxt.select("node")
    return dist.orderBy("node")


@register(
    "q_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             o_orderpriority AS file_id,
             {FILE_BASE} * COUNT(*) + SUM(o_orderkey % {KEY_MOD}) AS size_bytes
      FROM orders GROUP BY 1, 2
    ),
    placed AS (
      SELECT month, file_id, size_bytes,
             COALESCE(SUM(size_bytes) OVER (
               PARTITION BY month ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // {COMPACT_TARGET} AS out_group
      FROM files
    )
    SELECT month, CAST(out_group AS BIGINT) AS out_group,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(size_bytes) AS BIGINT) AS total_bytes
    FROM placed GROUP BY month, out_group ORDER BY month, out_group
    """,
    doc="Small-file compaction planner (Delta OPTIMIZE / Iceberg "
    "rewrite_data_files shape): per storage partition (order month), "
    "files — simulated deterministically as one per (month, priority) "
    "with a pure-integer size — are packed into output groups by the "
    "start-offset rule: a file joins group floor(bytes_before_it / "
    f"{COMPACT_TARGET}) in the partition's id-ordered cumulative stream. "
    "One window per partition key (never a global window), one shuffle on "
    "the month — the plan is partition-parallel at any table size, and "
    "oversized files keep a group to themselves because planners move "
    "files whole. Output is bounded by months x priorities regardless of "
    "row count. Integer sizes make Spark and DuckDB agree bit-for-bit "
    "(`div` / `//` exact integer division — never float floor).",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    files = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderpriority").alias("file_id"),
    ).agg(
        (
            F.lit(FILE_BASE) * F.count(F.lit(1))
            + F.sum(F.col("o_orderkey") % KEY_MOD)
        ).alias("size_bytes")
    )
    w = (
        Window.partitionBy("month")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = files.withColumn(
        "cum_before", F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
    ).withColumn("out_group", F.expr(f"cum_before div {COMPACT_TARGET}"))
    return (
        placed.groupBy("month", "out_group")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("size_bytes").cast("bigint").alias("total_bytes"),
        )
        .select(
            "month",
            F.col("out_group").cast("bigint").alias("out_group"),
            "n_files",
            "total_bytes",
        )
        .orderBy("month", "out_group")
    )


@register(
    "etl_dpp_prune_e2e",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = {DPP_YEAR}
    GROUP BY order_month ORDER BY order_month
    """,
    doc="Dynamic partition pruning end-to-end: orders are written to a "
    "scratch fact partitioned by order month (the layout a 100 TB fact "
    "table lives in), then joined to a small month dimension filtered to "
    f"year {DPP_YEAR}. Catalyst turns the dimension filter into a runtime "
    "IN-subquery on the fact's partition column, so the scan opens only "
    "the ~12 surviving partitions of ~80 — the mechanism that keeps "
    "star-join scans proportional to the filter, not the table. The "
    "`dynamicpruning` expression in the fact scan is plan-asserted in "
    "tests/test_round6b_ops.py; the oracle recomputes the aggregate from "
    "the raw table (pruning must never change the answer).",
)
def etl_dpp_prune_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    if o.isEmpty():
        # partitionBy on zero rows writes no files and the read-back cannot
        # infer a schema; the contract everywhere is empty in -> empty out
        return (
            o.groupBy("order_month")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
            .orderBy("order_month")
        )
    tmp = tempfile.mkdtemp(prefix="dpp_fact_")
    try:
        o.select("o_orderkey", "o_orderdate", "order_month").write.partitionBy(
            "order_month"
        ).mode("overwrite").parquet(tmp)
        fact = spark.read.parquet(tmp)
        out = dpp_month_rollup(fact, o, year=DPP_YEAR).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def dpp_month_rollup(fact: DataFrame, source: DataFrame, year: int) -> DataFrame:
    """Join the month-partitioned ``fact`` to a filtered month dimension
    (derived from ``source``, broadcast-sized) and aggregate per month.
    The dimension filter reaches the fact scan as a dynamic-partition-
    pruning subquery (asserted in tests)."""
    dim = (
        source.select("order_month")
        .distinct()
        .withColumn("order_year", F.substring("order_month", 1, 4).cast("int"))
        .filter(F.col("order_year") == year)
    )
    return (
        fact.join(dim, "order_month")
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .select(
            F.col("order_month").alias("order_month"),
            "n_orders",
            "key_sum",
        )
        .orderBy("order_month")
    )
