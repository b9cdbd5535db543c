"""Connected components over the near-duplicate pair graph.

Pairwise dedup operators (Jaccard / MinHash / SimHash / cosine — see
operators/dedup.py) emit *edges*; choosing which documents to keep requires
*components* (a dup cluster may be a chain A~B~C where A and C never matched
directly). This operator computes, for every document touched by an edge,
the component id = the minimum doc_id reachable through the dup graph.

Algorithm: iterative min-label propagation (the standard large-graph
approach — each round every vertex adopts the smallest label among itself
and its neighbors; converges in O(diameter) rounds). Each round is two
hash-shuffles (join + groupBy-min) over the edge list — no driver-side graph,
so it scales to billions of edges; the driver only checks the convergence
counter. Label propagation is the same shape Spark GraphX / GraphFrames use
for their connectedComponents.

The DuckDB oracle computes reachability with a recursive CTE (transitive
closure) — a completely different algorithm arriving at the same fixpoint,
which makes this one of the strongest cross-checks in the suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..checkpoint import truncate_lineage

from ..plans.queries import register
from .dedup import NGRAM_DF_CUTOFF, rep_ngram_jaccard_pairs

JACCARD_T = 0.10
MAX_ROUNDS = 20


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    min node id reachable. Pure DataFrame iteration, no driver data."""
    # Materialize the symmetric edge list once: it feeds every propagation
    # round, and without this each round would re-execute the (expensive)
    # candidate-generation lineage upstream of `edges` — the difference
    # between O(rounds) and O(1) passes over the corpus at 100 TB.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    sym = truncate_lineage(sym)
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    # Convergence test: min-propagation only ever lowers labels, so the
    # global SUM(comp) is strictly decreasing until the fixpoint — equal
    # sums on consecutive rounds mean no node changed. One scalar aggregate
    # per round instead of a full old-vs-new join.
    prev_sum = None
    for _ in range(MAX_ROUNDS):
        # every node adopts min(own label, neighbors' labels)
        neighbor_labels = (
            sym.join(labels, sym.b == labels.node)
            .select(F.col("a").alias("node"), F.col("comp"))
        )
        new_labels = (
            labels.select("node", "comp")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        labels = truncate_lineage(new_labels)  # cut the iterative lineage
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def jaccard_edges(d: DataFrame) -> DataFrame:
    """(src, dst) near-dup edges with 3-shingle Jaccard >= JACCARD_T, with
    EXACT duplicates collapsed before the quadratic candidate work (the
    SCALING.md dup-collapse rule, applied here in round 7 after the sf1/sf3
    scale probe measured the manifest pipeline at 392 s — the replicated
    soak fixture multiplies every posting list by the duplication factor,
    squaring pair volume).

    Shape: group docs by md5(text); run the posting-list Jaccard only over
    group REPRESENTATIVES with doc-level df weighting
    (:func:`rep_ngram_jaccard_pairs`); attach the remaining copies to their
    rep with STAR edges. This is closure-exact, not approximate:

    - cross-group copy pairs have the same shingle sets as their reps, so
      the full pair graph has an (x in A, y in B) edge iff the rep pair
      (rep_A, rep_B) has one — the star keeps x,y connected through reps;
    - intra-group pairs have Jaccard 1.0 (identical kept sets) iff the text
      kept >= 1 discriminative shingle, which is exactly the ``nonempty``
      condition gating the star — and a star is a spanning tree of that
      clique;
    - component labels are MIN(doc_id) over the component, and the rep is
      its group's MIN(doc_id), so labels are unchanged too.

    Downstream closures (q_dedup_components, q_dedup_pipeline_keep, the
    export manifest) therefore hash-match the all-pairs DuckDB oracles at
    any duplication level, while candidate-generation cost tracks
    DISTINCT-text volume."""
    keyed = d.select("doc_id", F.md5("text").alias("h"))
    groups = keyed.groupBy("h").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("gsz")
    )
    members = keyed.join(groups, "h").select("doc_id", "rep")
    reps = d.join(
        groups.select(F.col("rep").alias("doc_id"), "gsz"), "doc_id"
    ).select("doc_id", "text", "gsz")
    rep_pairs, nonempty = rep_ngram_jaccard_pairs(reps, threshold=JACCARD_T)
    rep_edges = rep_pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    stars = (
        members.filter(F.col("doc_id") != F.col("rep"))
        .join(nonempty.select(F.col("doc_id").alias("rep")), "rep")
        .select(F.col("rep").alias("src"), F.col("doc_id").alias("dst"))
    )
    return rep_edges.unionByName(stars)


@register(
    "q_dedup_components",
    oracle=f"""
    WITH RECURSIVE
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      FROM tok
    ),
    keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {NGRAM_DF_CUTOFF}
    ),
    kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) >= {JACCARD_T}
    ),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(node, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b
    )
    SELECT node AS doc_id, MIN(r) AS component, COUNT(DISTINCT r) AS n_reachable
    FROM reach GROUP BY node
    ORDER BY doc_id
    """,
    doc="Near-dup clustering: Jaccard≥0.10 pairs become an undirected graph; "
    "component id = min reachable doc_id via iterative min-label propagation "
    "(two shuffles per round, O(diameter) rounds, no driver-side graph). "
    "Oracle computes the same fixpoint by a different algorithm entirely — "
    "a recursive-CTE transitive closure.",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    comp = connected_components(jaccard_edges(d))
    # n_reachable = size of the node's component (matches the oracle's
    # COUNT(DISTINCT reachable))
    comp_sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("n_reachable"))
    return (
        comp.join(comp_sizes, "comp")
        .select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("component"),
            "n_reachable",
        )
        .orderBy("doc_id")
    )


# Shared oracle prelude: the full curation pipeline up to the per-component
# quality ranking (near-dup edges -> recursive-CTE components -> quality
# scores). q_dedup_pipeline_keep selects the winners from it;
# q_corpus_export_manifest (plans/extra9.py) continues it through token-
# budget selection and shard manifests. ONE definition so the pipeline
# semantics can never drift between the two gates.
SQL_PIPELINE_RANKED = f"""
    WITH RECURSIVE
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      FROM tok
    ),
    keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {NGRAM_DF_CUTOFF}
    ),
    kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) >= {JACCARD_T}
    ),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(node, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b
    ),
    membership AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node),
    quality AS (
      SELECT doc_id,
             (0.4 * (CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)))
             + (0.3 * (CAST(len(list_filter(ts, x -> x IN ('the','a','and','of','value','fast'))) AS DOUBLE) / len(ts)))
             + (0.3 * (CASE WHEN len(ts) >= 20 AND len(ts) <= 200 THEN 1.0 ELSE 0.0 END))
               AS quality_score
      FROM tok
    ),
    scored AS (
      SELECT COALESCE(m.component, d.doc_id) AS component, d.doc_id, q.quality_score
      FROM documents d
      LEFT JOIN membership m ON m.doc_id = d.doc_id
      JOIN quality q ON q.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                                   ORDER BY quality_score DESC, doc_id) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
      FROM scored
    )
"""


@register(
    "q_dedup_pipeline_keep",
    oracle=SQL_PIPELINE_RANKED
    + """
    SELECT component, doc_id AS kept_doc_id, quality_score AS kept_quality, n_members
    FROM ranked WHERE rk = 1
    ORDER BY component
    """,
    doc="The full dedup pipeline as one query: near-dup edges (inverted "
    "shingle index) -> connected components (min-label propagation) -> keep "
    "the highest-quality document per cluster (quality = the Gopher-style "
    "fixed-weight score; ties to lower doc_id); singletons keep themselves. "
    "This is what a curation run actually executes at 100 TB: every stage "
    "shuffles on doc-scale keys, nothing driver-side. Oracle recomputes the "
    "whole pipeline with a recursive-CTE closure instead of propagation.",
)
def q_dedup_pipeline_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline_keep_ranked(spark, sf_dir).select(
        "component",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("quality_score").alias("kept_quality"),
        "n_members",
    ).orderBy("component")


def pipeline_keep_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-best-per-component core, one row per KEPT document with
    ``n_tokens`` carried from the same scored projection — shared by the
    q_dedup_pipeline_keep gate (which prunes n_tokens away, so its plan is
    unchanged) and the export manifest (round-11 recut: it previously
    re-tokenized the whole corpus a second time and paid a doc-scale join
    just to re-attach token counts the quality pass already had in hand)."""
    from pyspark.sql import Window as W

    from ..catalog import load_table
    from .text import LANG_MARKERS, tokens

    d = load_table(spark, sf_dir, "documents")
    comp = connected_components(jaccard_edges(d))
    membership = comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))

    ts = tokens("text")
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_tokens = F.size(ts)
    ttr = F.size(F.array_distinct(ts)).cast("double") / F.size(ts)
    stop_ratio = F.size(F.filter(ts, lambda x: F.array_contains(stop, x))).cast("double") / F.size(ts)
    length_ok = F.when((n_tokens >= 20) & (n_tokens <= 200), 1.0).otherwise(0.0)
    quality = (0.4 * ttr) + (0.3 * stop_ratio) + (0.3 * length_ok)

    scored = (
        d.select(
            "doc_id",
            quality.alias("quality_score"),
            n_tokens.cast("bigint").alias("n_tokens"),
        )
        .join(membership, "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
    )
    wc = W.partitionBy("component")
    wr = W.partitionBy("component").orderBy(F.desc("quality_score"), "doc_id")
    return (
        scored.withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select("component", "doc_id", "quality_score", "n_tokens", "n_members")
    )
