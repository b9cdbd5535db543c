"""Entity resolution / golden-record construction over structured records.

The MDM (master-data-management) capability: records that describe the
same real-world entity under slightly different names are (1) blocked on a
cheap exact key, (2) pair-scored with a bounded edit distance, (3) grouped
into entities by connected components over the match graph, and (4)
collapsed to one canonical "golden record" per entity with survivorship
rules deciding each attribute. Distinct from the document-dedup family:
the inputs are records with typed attributes, and the deliverable is the
surviving record, not the duplicate pairs.

Scale shape:
- exact-duplicate names collapse to one node per (brand, name) BEFORE
  the quadratic match (provably lossless: same-name records match at
  distance 0, so they always land in one entity; the collapsed node
  carries MIN(key) and the closure over distinct names reaches the
  identical fixpoint) — the pair cost is |distinct names|² per block,
  not |records|², which is the difference between minutes and hours on
  duplicate-heavy corpora (the replicated sf1 soak fixture: 690M raw
  banded candidates vs ~8M after the collapse);
- pair scoring uses the thresholded levenshtein (banded DP, early
  abandon, sound ±lev_max length-band prune) inside brand blocks —
  candidates never leave their block;
- clustering is the same iterative min-label propagation as
  q_dedup_components (two hash shuffles per round, no driver graph),
  over name-nodes rather than record-nodes;
- survivorship is one aggregation per entity: MIN for the id, MAX for
  the price (highest-value-wins stand-in for freshest-source-wins), and
  the canonical name rides a MAX(CASE) on the id-winning member — no
  per-entity row collection anywhere.

The oracle replays matching + closure with a recursive CTE (transitive
closure — a different algorithm reaching the same fixpoint) and the same
survivorship aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register
from .components import connected_components

ER_LEV_MAX = 2


def er_match_edges(p: DataFrame, lev_max: int = ER_LEV_MAX) -> DataFrame:
    """(src, dst) partkey pairs whose names match within ``lev_max`` edits,
    brand-blocked, scored with the early-abandon banded levenshtein."""
    a = p.alias("a")
    b = p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), lev_max)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            # sound prune: levenshtein(a,b) >= |len(a)-len(b)|, so pairs
            # outside the band cannot match — drops most of the quadratic
            # within-block candidates before any DP runs (same trick as
            # q_dedup_levenshtein, plans/extra2.py)
            & (
                F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
                <= lev_max
            ),
        )
        .filter(dist >= 0)  # thresholded form yields −1 above lev_max
        .select(
            F.col("a.p_partkey").alias("src"), F.col("b.p_partkey").alias("dst")
        )
    )


@register(
    "q_entity_resolution",
    oracle=f"""
    WITH RECURSIVE
    dn AS (  -- one node per distinct (brand, name); nid = MIN key, so the
             -- component-min label IS the entity's min record key
      SELECT p_brand, p_name, MIN(p_partkey) AS nid
      FROM part GROUP BY p_brand, p_name
    ),
    e AS (
      SELECT a.nid AS pa, b.nid AS pb
      FROM dn a JOIN dn b
        ON a.p_brand = b.p_brand AND a.nid < b.nid
       AND abs(length(a.p_name) - length(b.p_name)) <= {ER_LEV_MAX}
      WHERE levenshtein(a.p_name, b.p_name) <= {ER_LEV_MAX}
    ),
    sym AS (SELECT pa AS a, pb AS b FROM e UNION SELECT pb, pa FROM e),
    reach(node, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b
    ),
    membership AS (SELECT node AS nid, MIN(r) AS entity_id FROM reach GROUP BY node),
    clustered AS (
      SELECT p.p_partkey, p.p_name, p.p_retailprice,
             COALESCE(m.entity_id, d.nid) AS entity_id
      FROM part p
      JOIN dn d ON d.p_brand = p.p_brand AND d.p_name = p.p_name
      LEFT JOIN membership m ON m.nid = d.nid
    )
    SELECT entity_id,
           MAX(CASE WHEN p_partkey = entity_id THEN p_name END) AS canonical_name,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(p_retailprice) AS best_price
    FROM clustered
    GROUP BY entity_id
    ORDER BY entity_id
    """,
    doc=f"Entity resolution to golden records: exact-duplicate names "
    "collapse to one node per (brand, name) before any pairing (lossless — "
    "same-name records match at distance 0, so the name-level closure "
    "reaches the identical fixpoint at |distinct names|² cost instead of "
    f"|records|²), then brand-blocked matching (banded levenshtein ≤ "
    f"{ER_LEV_MAX}, early abandon, sound ±{ER_LEV_MAX} "
    "length-band prune ahead of the DP — distance ≥ length difference, so "
    "no true pair is lost), min-label "
    "propagation clustering (no driver graph), then one survivorship "
    "aggregate per entity — MIN key as the entity id, that member's name "
    "as canonical, MAX price as the surviving value, member count. "
    "Singletons survive as their own entity. Oracle reaches the same "
    "fixpoint via recursive-CTE transitive closure.",
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_retailprice")
    return golden_records(p)


def golden_records(p: DataFrame) -> DataFrame:
    """Golden records for ``p`` (p_partkey, p_name, p_brand, p_retailprice):
    collapse → match → cluster → survivorship, one row per resolved entity.

    Exact-duplicate names collapse to one node keyed by MIN(p_partkey)
    before the quadratic match. Lossless: same-name records match at
    distance 0, so they always share an entity, and the component min over
    name-nodes equals the min record key of the entity. The match cost
    becomes |distinct names|² per block — on duplicate-heavy corpora (the
    whole point of MDM) that is orders of magnitude below |records|²."""
    dn = p.groupBy("p_brand", "p_name").agg(F.min("p_partkey").alias("nid"))
    edges = er_match_edges(
        dn.select(
            F.col("nid").alias("p_partkey"), "p_name", "p_brand"
        )
    )
    comp = connected_components(edges)
    clustered = (
        p.join(dn, ["p_brand", "p_name"])
        .join(comp, F.col("nid") == comp.node, "left")
        .select(
            "p_partkey",
            "p_name",
            "p_retailprice",
            F.coalesce(F.col("comp"), F.col("nid")).alias("entity_id"),
        )
    )
    return (
        clustered.groupBy("entity_id")
        .agg(
            F.max(
                F.when(F.col("p_partkey") == F.col("entity_id"), F.col("p_name"))
            ).alias("canonical_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max("p_retailprice").alias("best_price"),
        )
        .orderBy("entity_id")
    )
