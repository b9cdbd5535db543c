"""Deterministic mergeable QUANTILE sketch (q-digest) with a full
value-hash oracle — the rank-query member of the sketch family (KMV gives
distinct+set-algebra, CMS heavy hitters, HLL cardinality; none answers
"what is the p99?"). Spark's built-in ``percentile_approx`` can only be
gated with error-bound verdicts (its GK sketch is engine-internal); this
is the portable alternative: every merge decision is deterministic, so
the digest CONTENTS — not just the estimates — replay bit-for-bit in
DuckDB (the q_sketch_kmv_setops doctrine applied to quantiles).

Algorithm (Shrivastava et al., SenSys'04, level-synchronous variant):
values live on a complete binary tree over the integer domain [0, 2^B)
(heap ids: leaf(v) = 2^B + v, parent = id DIV 2, depth(id) =
floor(log2(id)) — computed as ``length(bin(id)) - 1``, the exact
integer log the bigram-surprisal operator introduced). All mass starts
at the leaves; B bottom-up passes then merge each parent's PRESENT
children into it iff their combined count <= sigma = n DIV K. Heavy
nodes (> sigma) stay at their depth, so the final digest holds at most
~2K nodes per level and every merged node carries <= sigma mass —
giving the classic rank-error bound |est_rank - true_rank| <= B * sigma
= B*n/K, pinned in tests. The level-synchronous rule makes the build a
PURE FUNCTION of the leaf histogram: Spark's loop and DuckDB's unrolled
CTE chain replay it identically, and two digests merge by concatenating
node lists and re-running the passes (mergeability pinned in tests —
the property that lets 1000 executors sketch partitions independently).

Quantile query: post-order over the digest (interval right-endpoint
ascending, deeper nodes first), prefix-sum the counts, report the first
node's right endpoint at cumulative rank >= ceil(p*n/100). The digest is
O(K log D) rows, so the query runs driver-side on the collected sketch
(the bounded-collect KMV posture; the oracle does the same with a window
over the same few hundred rows).

Scale shape: ONE hash-partitioned aggregation over the fact table (leaf
histogram, bounded by the value domain at 2^B = 1M rows, ~16 MB), then
the B bottom-up passes run DRIVER-SIDE on the collected histogram
(round-12 recut, measured 4.7-6.2x: the former level-synchronous Spark
loop computed the identical digest but paid 20 scheduled jobs of fixed
overhead — the collect is bounded by the DOMAIN, never the data, the
same posture as the quantile query and KMV's k-row set algebra). No
global sort, no window, no corpus-sized collect.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
delegates this to BigQuery (APPROX_QUANTILES); this implements it
natively and deterministically (SURVEY.md §2.5 sketch family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register

B = 20  # domain bits: values in [0, 2^20); o_totalprice dollars < ~600k
K = 1024  # compression factor: sigma = n DIV K, rank error <= B*n/K (~2% of n)
PCTS = (1, 5, 25, 50, 75, 95, 99)

VALUE_EXPR = "CAST(FLOOR(o_totalprice) AS BIGINT)"  # integer dollars

OUT_COLS = (
    "pct long, est_value long, n_rows long, digest_nodes long, sigma long"
)


def qdigest_build(leaves: list[tuple[int, int]], n: int) -> list[tuple[int, int]]:
    """Pure-Python twin of the build (tests pin Spark == this == DuckDB).
    ``leaves``: (value, count) histogram; returns sorted (id, cnt)."""
    sigma = n // K
    digest = {(1 << B) + v: c for v, c in leaves}
    for d in range(B, 0, -1):
        lo, hi = 1 << d, 1 << (d + 1)
        level = [i for i in digest if lo <= i < hi]
        groups: dict[int, int] = {}
        for i in level:
            groups[i // 2] = groups.get(i // 2, 0) + digest[i]
        for pid, s in groups.items():
            if s <= sigma:
                for child in (2 * pid, 2 * pid + 1):
                    digest.pop(child, None)
                digest[pid] = s
    return sorted(digest.items())


def qdigest_quantiles(
    digest: list[tuple[int, int]], n: int
) -> list[tuple[int, int]]:
    """(pct, est_value) rows from a digest, post-order traversal: right
    endpoint ascending, deeper (larger id) first at equal endpoints."""
    if n == 0:
        return []
    spans = []
    for i, c in digest:
        d = i.bit_length() - 1
        hi = ((i - (1 << d) + 1) << (B - d)) - 1
        spans.append((hi, -i, c))
    spans.sort()
    out = []
    for p in PCTS:
        r = (p * n + 99) // 100
        cum = 0
        est = spans[-1][0] if spans else 0
        for hi, _negid, c in spans:
            cum += c
            if cum >= r:
                est = hi
                break
        out.append((p, est))
    return out


def qdigest_oracle_sql() -> str:
    """The identical build as a DuckDB unrolled CTE chain (one pass per
    level, sigma from a one-row CTE entering every pass by CROSS JOIN —
    never a scalar subquery in a scan, the round-10 oracle rule), then
    the post-order quantile query as a window over the final digest."""
    parts = [
        f"vals AS MATERIALIZED (SELECT {VALUE_EXPR} AS v FROM orders)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n, COUNT(*) // "
        f"{K} AS sigma FROM vals)",
        f"cur{B} AS MATERIALIZED (SELECT v + {1 << B} AS id, "
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY v)",
    ]
    for d in range(B, 0, -1):
        lo, hi = 1 << d, 1 << (d + 1)
        parts.append(
            f"g{d} AS MATERIALIZED (\n"
            f"      SELECT id // 2 AS pid, SUM(cnt) AS s FROM cur{d}\n"
            f"      WHERE id >= {lo} AND id < {hi} GROUP BY id // 2)"
        )
        parts.append(
            f"cur{d - 1} AS MATERIALIZED (\n"
            f"      SELECT id, cnt FROM cur{d} WHERE id < {lo} OR id >= {hi}\n"
            "      UNION ALL\n"
            f"      SELECT c.id, c.cnt FROM cur{d} c JOIN g{d} g ON c.id // 2 = g.pid, nn\n"
            f"      WHERE c.id >= {lo} AND c.id < {hi} AND g.s > nn.sigma\n"
            "      UNION ALL\n"
            f"      SELECT g.pid AS id, CAST(g.s AS BIGINT) AS cnt FROM g{d} g, nn\n"
            "      WHERE g.s <= nn.sigma)"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    spans AS (
      SELECT id, cnt, length(bin(id)) - 1 AS d,
             ((id - (1 << (length(bin(id)) - 1)) + 1)
              << ({B} - (length(bin(id)) - 1))) - 1 AS hi
      FROM cur0
    ),
    ordered AS (
      SELECT hi, cnt,
             SUM(cnt) OVER (ORDER BY hi, id DESC
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM spans
    ),
    pcts AS (SELECT unnest([{", ".join(str(p) for p in PCTS)}]) AS pct),
    answers AS (
      SELECT pct,
             (SELECT MIN(hi) FROM ordered, nn
               WHERE cum >= (pct * nn.n + 99) // 100) AS est_value
      FROM pcts
    )
    SELECT CAST(pct AS BIGINT) AS pct, CAST(est_value AS BIGINT) AS est_value,
           CAST(nn.n AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM cur0) AS BIGINT) AS digest_nodes,
           CAST(nn.sigma AS BIGINT) AS sigma
    FROM answers, nn WHERE nn.n > 0 ORDER BY pct"""
    )


@register(
    "q_sketch_quantile_digest",
    oracle=qdigest_oracle_sql(),
    doc="Deterministic mergeable q-digest quantile sketch: digest "
    "CONTENTS replay bit-for-bit in DuckDB's unrolled CTE chain; "
    "typed domain guard on [0, 2^20).",
)
def q_sketch_quantile_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").selectExpr(f"{VALUE_EXPR} AS v")
    # leaf histogram: ONE aggregation over the fact table; everything after
    # operates on (at most) domain-sized node tables
    leaves = o.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    return digest_result(spark, leaves)


def digest_result(spark: SparkSession, leaves: DataFrame) -> DataFrame:
    """The digest build + quantile query over a (v, cnt) leaf histogram —
    shared by the batch gate above and the streaming twin
    (streaming/quantile.py), whose gate is exactly this output computed
    from an incrementally-maintained histogram.

    The tree covers EXACTLY [0, 2^B): an out-of-domain value would land
    its leaf id outside every level pass (silently dropped mass) or, if
    negative, collide with internal-node ids — so the domain is enforced
    here at ingestion and violations fail loudly.

    Build placement (round-12 recut, measured): the histogram is DOMAIN-
    bounded — at most 2^B = 1M (v, cnt) rows, ~16 MB — so after the one
    distributed aggregation the build runs driver-side via qdigest_build,
    the same bounded-collect posture the quantile query below has always
    used (and KMV's k-row set algebra). The previous level-synchronous
    Spark loop computed the identical digest (it is a pure function of
    the histogram, pinned in tests) but paid 20 scheduled jobs + 20
    lineage checkpoints of fixed overhead, making the query ~sf-invariant
    slow; the interleaved A/B measured the driver build at 4.7x (sf0.1)
    to 6.2x (sf1) with values identical.
    Mergeability at 1000 executors is unchanged: partitions sketch
    independently and merge by histogram/node-list concatenation + one
    rebuild (tests pin the merge property)."""
    rows = leaves.select("v", "cnt").collect()  # <= 2^B rows by contract
    null_mass = sum(int(r.cnt) for r in rows if r.v is None)
    if null_mass:
        raise ValueError(
            f"q-digest domain violation: {null_mass} rows carry a "
            "NULL value — filter or impute before sketching"
        )
    hist = [(int(r.v), int(r.cnt)) for r in rows]
    n = sum(c for _, c in hist)
    if hist:
        lo = min(v for v, _ in hist)
        hi = max(v for v, _ in hist)
        if lo < 0 or hi >= (1 << B):
            raise ValueError(
                f"q-digest domain violation: values must lie in [0, {1 << B}) "
                f"but the histogram spans [{lo}, {hi}]"
            )
    sigma = n // K
    digest = qdigest_build(hist, n)
    rows_out = [
        (p, est, n, len(digest), sigma)
        for p, est in qdigest_quantiles(digest, n)
    ]
    return spark.createDataFrame(rows_out, OUT_COLS).orderBy("pct")
