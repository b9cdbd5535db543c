"""Distributed graph analytics: PageRank over the customer-part co-purchase
graph.

Alongside label-propagation connected components (operators/components.py)
this is the second classic iterative-join graph algorithm a warehouse is
asked for (influence / centrality on an interaction graph). The graph is
the bipartite co-purchase relation (customer ↔ part via orders+lineitem),
made undirected by emitting both edge directions; node ids stay BIGINT
(customer → 2k, part → 2k+1) so every join key is a fixed-width integer.

Execution shape per iteration: join ranks to edges on src (shuffle on the
node key) + groupBy dst (same key — AQE reuses the exchange), which is
exactly Pregel-style message passing expressed relationally. K iterations
= K shuffles; ranks live only as (node, pr) aggregates, never adjacency
lists, so the plan holds when edges are 100 TB.

Determinism: per-edge contributions pr/deg are floor-quantized at 2^40
(power-of-two scaling is IEEE-exact; floor has no tie ambiguity) and
summed as BIGINT — addition order cannot change the result, and both
engines reconstruct the identical double. Same discipline as the
int-quantized embedding math (operators/dedup.py, README exactness notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..checkpoint import truncate_lineage
from ..plans.queries import register

PR_ITERS = 3
PR_DAMPING = 0.85
PR_Q = float(1 << 40)  # 2^40 contribution quantizer
PR_TOP = 20


def _oracle_sql() -> str:
    q = f"{PR_Q:.1f}"
    iters = []
    prev = "p0"
    for k in range(1, PR_ITERS + 1):
        iters.append(
            f"""
    p{k} AS MATERIALIZED (
      SELECT e.dst AS node,
             (0.15 / MIN(n.n_nodes))
               + ({PR_DAMPING} * (CAST(SUM(CAST(floor((pp.pr / d.deg) * {q}) AS BIGINT))
                                       AS DOUBLE) / {q})) AS pr
      FROM e JOIN {prev} pp ON pp.node = e.src
             JOIN deg d ON d.node = e.src
             CROSS JOIN n
      GROUP BY e.dst
    )"""
        )
        prev = f"p{k}"
    chain = ",".join(iters)
    return f"""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    e AS MATERIALIZED (
      SELECT c * 2 AS src, p * 2 + 1 AS dst FROM cp
      UNION ALL
      SELECT p * 2 + 1, c * 2 FROM cp
    ),
    deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
    n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
    p0 AS MATERIALIZED (SELECT node, 1.0 / n.n_nodes AS pr FROM deg CROSS JOIN n),{chain}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'part' END AS node_type,
           CAST(node // 2 AS BIGINT) AS node_key,
           pr
    FROM {prev}
    ORDER BY pr DESC, node_type, node_key
    LIMIT {PR_TOP}
    """


@register(
    "q_graph_pagerank",
    oracle=_oracle_sql(),
    doc=f"PageRank ({PR_ITERS} Jacobi iterations, d={PR_DAMPING}) over the "
    "undirected customer-part co-purchase graph: relational message "
    "passing — join ranks to edges on src, floor-quantized integer sum "
    "per dst — with the top-20 most central nodes returned. Every node "
    "has degree ≥ 1 by construction (edges emitted both ways), so there "
    "is no dangling-mass term. The oracle replays the identical "
    "iteration chain as SQL CTEs; 2^40 quantization makes the float "
    "iteration bit-reproducible across engines.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # NOTE (round-12, measured and REJECTED): de-duplicating this subtree —
    # the union below evaluates the join+distinct once per edge direction —
    # was A/B'd two ways (values identical): scoped_cache
    # 0.71x (both union branches materialize inside pagerank_top's ONE
    # checkpoint job and race the cache fill), eager truncate_lineage(cp)
    # 1.04x wash (the serial materialization job costs what the concurrent
    # duplicate evaluation costs — idle cores make the recompute ~free at
    # bench scale). Kept as-is; on a cluster where the edge build is
    # corpus-bound, the eager cut is the known recut to re-measure.
    # Round-13: re-measured the eager truncate_lineage arm under core
    # CONTENTION (SPARK_GRAFT_CPUS=8, the verdict's cheap stand-in for a
    # saturated cluster) — still a 0.76x LOSS. The duplicate evaluation
    # here is join+distinct work the scheduler overlaps fine even at 8
    # cores; the serialized checkpoint write does not pay at any local
    # core count.
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    e = cp.select(
        (F.col("c") * 2).alias("src"), (F.col("p") * 2 + 1).alias("dst")
    ).unionByName(
        cp.select((F.col("p") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    )
    ranks = pagerank_top(e, iters=PR_ITERS, top=None)
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer").otherwise("part").alias("node_type"),
            # integer DIV, not floor(double): a double round-trip would lose
            # key bits past 2^53 on a real-scale keyspace
            F.expr("CAST(node DIV 2 AS BIGINT)").alias("node_key"),
            "pr",
        )
        # ordered limit AFTER decode so pr ties at the cutoff break exactly
        # like the oracle's (node_type, node_key) order
        .orderBy(F.desc("pr"), "node_type", "node_key")
        .limit(PR_TOP)
    )


def pagerank_top(
    edges: DataFrame,
    iters: int = PR_ITERS,
    top: int | None = PR_TOP,
    large_threshold: int = 500_000,
) -> DataFrame:
    """(node, pr) ranks over a directed edge list where every node has
    out-degree ≥ 1 (callers emit both directions for undirected graphs, so
    there is no dangling-mass term). Nodes with in-degree 0 (pure sources
    in a directed graph) receive no messages but keep the teleport term
    0.15/n — the per-iteration degree join preserves the full node table,
    not just message receivers. ``top=N`` returns the N highest-rank
    nodes (ties to the lower node id); ``top=None`` returns the full,
    unordered rank table for callers that apply their own ordered limit."""
    # materialize the edge list once: every iteration re-joins it, and
    # without a cut Spark would replay the upstream build per iteration (on
    # a cluster: persist(DISK_ONLY) / a checkpoint dir — same iterative idiom)
    e = truncate_lineage(edges)
    deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .transform(truncate_lineage)  # node-sized; reused by every iteration
    )
    # Physical strategy switch, decided on the measured node count (free —
    # deg is already materialized): on a SMALL graph the per-iteration rank
    # table fits a broadcast, so AQE turns e⋈contrib into a broadcast join
    # and no edge bytes ever shuffle. On a LARGE graph contrib exceeds the
    # broadcast threshold and every iteration would sort-merge-shuffle the
    # whole edge list — there, re-cut e hash-partitioned on src once
    # (LogicalRDD preserves the partitioning), so iterations shuffle only
    # the node-size side: O(1) edge shuffles instead of O(iters), the
    # GraphX edge-partitioning idiom. ~500k nodes ≈ 10 MB of (long,double)
    # rank rows — the default autoBroadcastJoinThreshold. Both branches are
    # plan-asserted by tests/test_round4_ops.py.
    # The re-cut is CACHED, not checkpointed: under AQE a localCheckpoint's
    # LogicalRDD reports UnknownPartitioning (the adaptive plan's output
    # partitioning isn't resolved at checkpoint time), so every iteration
    # would re-shuffle the edges anyway — an InMemoryRelation keeps the
    # REPARTITION_BY_COL partitioning visible to the planner. On a real
    # cluster this persist would be StorageLevel.DISK_ONLY.
    if deg.count() > large_threshold:
        from ..plans.queries import scoped_cache

        e = scoped_cache(e.repartition(F.col("src")))
        # materialize NOW: the planner only sees the re-cut's partitioning
        # once the cached adaptive plan is final — planning the iteration
        # joins against an unmaterialized cache re-adds the edge shuffles
        # this branch exists to remove
        e.count()
    n = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    # rank state carries its degree so each iteration is ONE edge-size join
    # (messages) + one node-size join (re-attach degree) instead of two
    # edge-size joins
    pr = deg.crossJoin(F.broadcast(n)).select(
        "node", "deg", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for _ in range(iters):
        contrib = pr.select(
            F.col("node").alias("src"),
            F.floor((F.col("pr") / F.col("deg")) * PR_Q).cast("bigint").alias("cq"),
        )
        pr = (
            e.join(contrib, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("cq").cast("bigint").alias("sq"))
            # RIGHT join: deg is the full node table — an inner join would
            # silently drop zero-in-degree nodes (pure sources) from the
            # rank table; they get sq=0 and keep the teleport term
            .join(deg, "node", "right")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                "deg",
                (
                    (0.15 / F.col("n_nodes"))
                    + (
                        PR_DAMPING
                        * (
                            F.coalesce(F.col("sq"), F.lit(0).cast("bigint")).cast(
                                "double"
                            )
                            / PR_Q
                        )
                    )
                ).alias("pr"),
            )
        )
    ranks = pr.select("node", "pr")
    if top is None:
        return ranks
    return ranks.orderBy(F.desc("pr"), "node").limit(top)


TRI_TOP = 10


@register(
    "q_graph_triangles",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_triangles FROM tri),
    pernode AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT unnest([a, b, c]) AS node FROM tri)
      GROUP BY node
    )
    SELECT node, n_triangles, total_triangles
    FROM pernode CROSS JOIN total
    ORDER BY n_triangles DESC, node
    LIMIT 10
    """,
    doc="Triangle counting on the part co-purchase graph (two parts are "
    "adjacent when some order contains both): the top-10 most "
    "triangle-dense parts plus the global count. Spark orients every edge "
    "from its lower-(degree, id) endpoint to the higher one before the "
    "path join — the degree-orientation trick that bounds out-degree at "
    "O(sqrt(m)) so the wedge join never explodes on hub nodes at corpus "
    "scale. Edge building is in-row pairs from bounded per-order baskets "
    "(never a lineitem self-join). Triangle counts are orientation-"
    "invariant, so the oracle's simpler key-ordered closure reaches the "
    "identical totals.",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return triangle_top(li)


def triangle_top(li: DataFrame, top: int = TRI_TOP) -> DataFrame:
    """Top-``top`` parts by triangle participation over the co-purchase
    graph of ``li`` (l_orderkey, l_partkey), plus the global count."""
    from ..plans.queries import scoped_cache

    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    und = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    e = scoped_cache(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # one pass over the (potentially huge) triangle table: per-node counts
    # by exploding each triangle's corners, and the global total recovered
    # as sum/3 — no second scan, no cache of the triangle table
    pernode = scoped_cache(
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    total = pernode.agg(
        (F.sum("n_triangles") / 3).cast("bigint").alias("total_triangles")
    )
    return (
        pernode.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n_triangles"), "node")
        .limit(top)
    )


# --- within-brand triangle census ------------------------------------------
#
# Triangle counting is the third classic graph primitive (after components
# and centrality) a warehouse is asked for — community density, spam-ring
# and collusion detection all start from it. Graph: parts co-purchased in
# one order, restricted to WITHIN-BRAND edges, which partitions the graph
# into 25 independent subgraphs — the operator's scale story is that brand
# acts as a graph-partition key carried through every join, so wedge
# enumeration never crosses partition boundaries (the community-local
# counting shape; at 100 TB the brand key is whatever community/tenant id
# the graph already has).
#
# Algorithm: canonical u<v edges -> per-node degrees -> undirected wedge
# count per brand (sum of d*(d-1)/2, exact integers) -> DEGREE-ORDERED
# orientation (each edge points low->high in (deg, node) order, so
# out-degrees are O(sqrt(m))-bounded and the wedge join is sub-quadratic
# on skewed graphs — the Schank/Wagner forward algorithm) -> wedge join on
# the shared LOW endpoint -> semi-join against the oriented edge set for
# the closing edge. Every join keys on (brand, node) or (brand, u, v);
# nothing driver-side, no UDFs.

TRIANGLES_ORACLE = """
    WITH lb AS MATERIALIZED (
      SELECT l_orderkey, p_brand AS brand, l_partkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.brand, a.l_partkey AS u, b.l_partkey AS v
      FROM lb a JOIN lb b
        ON a.l_orderkey = b.l_orderkey AND a.brand = b.brand
       AND a.l_partkey < b.l_partkey
    ),
    deg AS MATERIALIZED (
      SELECT brand, node, COUNT(*) AS d FROM (
        SELECT brand, u AS node FROM edges
        UNION ALL SELECT brand, v FROM edges
      ) GROUP BY brand, node
    ),
    tri AS (
      SELECT e1.brand, COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.brand = e1.brand AND e2.u = e1.u AND e2.v > e1.v
      JOIN edges e3 ON e3.brand = e1.brand AND e3.u = e1.v AND e3.v = e2.v
      GROUP BY e1.brand
    )
    SELECT d.brand,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(ec.n_edges) AS BIGINT) AS n_edges,
           CAST(SUM(d.d * (d.d - 1) // 2) AS BIGINT) AS n_wedges,
           CAST(COALESCE(MIN(tri.n_triangles), 0) AS BIGINT) AS n_triangles,
           CAST(COALESCE(MIN(tri.n_triangles), 0) * 3 AS BIGINT) AS closed_x3
    FROM deg d
    JOIN (SELECT brand, COUNT(*) AS n_edges FROM edges GROUP BY brand) ec
      ON ec.brand = d.brand
    LEFT JOIN tri ON tri.brand = d.brand
    GROUP BY d.brand
    ORDER BY d.brand
    """


@register(
    "q_graph_brand_triangle_census",
    oracle=TRIANGLES_ORACLE,
    doc="Per-brand triangle census over the within-brand co-purchase "
    "graph: nodes, edges, wedges and triangles per brand, counted with "
    "the degree-ordered forward algorithm keyed on (brand, node).",
)
def q_graph_brand_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand triangle census over the within-brand co-purchase graph:
    (brand, n_nodes, n_edges, n_wedges, n_triangles, closed_x3) with
    closed_x3 = 3 * n_triangles (the closed-wedge numerator as an exact
    integer; the ratio itself would be a float). Reference behavior: none —
    beyond-reference graph family (SURVEY §2 relational layer is owned
    natively; this extends the pagerank/BFS/kcore suite)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lb = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", F.col("p_brand").alias("brand"), "l_partkey"
    )
    # canonical within-brand co-occurrence edges, u < v, deduplicated
    baskets = lb.groupBy("l_orderkey", "brand").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    edges = (
        baskets.select(
            "brand",
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("e"),
        )
        .select("brand", "e.u", "e.v")
        .distinct()
    )
    edges = truncate_lineage(edges)
    # per-node degree within its brand subgraph
    deg = (
        edges.select("brand", F.col("u").alias("node"))
        .union(edges.select("brand", F.col("v").alias("node")))
        .groupBy("brand", "node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    per_brand_nodes = deg.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
    )
    per_brand_edges = edges.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    )
    # degree-ordered orientation: lo -> hi in (d, node) order
    du = deg.select("brand", F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select("brand", F.col("node").alias("v"), F.col("d").alias("dv"))
    oriented = (
        edges.join(du, ["brand", "u"])
        .join(dv, ["brand", "v"])
        .select(
            "brand",
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("e"),
        )
        .select("brand", F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi"))
    )
    oriented = truncate_lineage(oriented)
    # wedges around the shared LOW endpoint; closing edge is oriented
    # b -> c where b precedes c in the same (deg, node) order — but after
    # projecting away degrees the cheap sufficient check is to test BOTH
    # orientations of (b, c) against the oriented set via one semi-join on
    # a canonicalized key (b < c by node id), matching the canonical edges.
    w = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            (F.col("e1.brand") == F.col("e2.brand"))
            & (F.col("e1.lo") == F.col("e2.lo"))
            & (F.col("e1.hi") < F.col("e2.hi")),
        )
        .select(
            F.col("e1.brand").alias("brand"),
            F.least("e1.hi", "e2.hi").alias("u"),
            F.greatest("e1.hi", "e2.hi").alias("v"),
        )
    )
    tri = (
        w.join(edges, ["brand", "u", "v"], "left_semi")
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        per_brand_edges.join(per_brand_nodes, "brand")
        .join(tri, "brand", "left")
        .select(
            "brand",
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            (F.coalesce("n_triangles", F.lit(0)) * 3).cast("bigint").alias("closed_x3"),
        )
        .orderBy("brand")
    )
