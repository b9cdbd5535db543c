"""Round-12 plan-level operators.

q_join_bloom_prefilter — the runtime-filter / bloom-semi-join shape made
EXPLICIT and oracle-verified. Spark's own runtime row-level filtering
builds a bloom filter from the build side of a shuffle join and pushes it
into the probe scan; its internal ``bloom_filter_agg`` is not SQL-exposed
and its bit layout is not portable, so this operator builds the filter AS
DATA with the house portable hashes: k md5-slice hash positions per build
key, OR-folded into m/32 32-bit words (stored in BIGINTs — no sign
traps), the finished filter collected to the driver (bounded by the
FILTER size, never the data size — same discipline as the KMV k=256
collects) and embedded as a literal array so the probe-side membership
test is pure in-row arithmetic in the scan stage, exactly where a runtime
filter runs. Every hash is deterministic, so DuckDB replays the filter
bit-for-bit and the gate hashes not just the exact join result but the
bloom's FALSE-POSITIVE count per group — the filter itself is under test,
not only the join it accelerates.

Sizing is self-scaling and engine-identical: m = 2^ceil(log2(10 * n))
bits for n build keys (~10 bits/key -> ~1% fp at k=7), derived with the
integer floor-log2 idiom (length(bin(x)) - 1) both here and in the SQL.

At 100 TB: the build side is one DISTINCT aggregation; the filter is
KB-sized whatever the fact volume; the probe scan drops ~99% of
non-matching rows BEFORE the join shuffle — the exact mechanism
spark.sql.optimizer.runtime.bloomFilter.enabled applies, now observable
and testable. The verification join that scores fp/fn here is gate
instrumentation, not the production path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.text import SQL_MD5_LONG, md5_long
from .queries import register

BLOOM_K = 7  # hash functions
BLOOM_BITS_PER_KEY = 10
BLOOM_QUARTER = ("1995-01-01", "1995-04-01")  # build side: one quarter


def _bloom_m(n_keys: int) -> int:
    """Smallest power of two >= 10 * n_keys (>= 32), via integer bit length
    — the floor-log2 idiom, replicated in SQL as length(bin(x)) - 1."""
    want = max(32, BLOOM_BITS_PER_KEY * max(n_keys, 1))
    return 1 << (want - 1).bit_length()


def bloom_prefilter_oracle_sql() -> str:
    """Replays the filter bit-for-bit: same build keys, same m sizing, same
    double-hashed positions (one md5 per key; pos_i = (h1 + i*h2) % m),
    same 32-bit words — candidacy is a pure function of the orderkey, so
    the oracle scores it once per DISTINCT probe key and joins the verdict
    back to the fact rows."""
    lo, hi = BLOOM_QUARTER
    h = SQL_MD5_LONG.format(x="CAST(k AS VARCHAR)")
    return f"""
    WITH build AS MATERIALIZED (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderdate >= DATE '{lo}' AND o_orderdate < DATE '{hi}'
    ),
    sz AS MATERIALIZED (
      SELECT CAST(POWER(2, length(bin(GREATEST(32, {BLOOM_BITS_PER_KEY} *
                    GREATEST(CAST(COUNT(*) AS BIGINT), 1)) - 1))) AS BIGINT) AS m
      FROM build
    ),
    hs AS (SELECT unnest(range({BLOOM_K})) AS i),
    words AS MATERIALIZED (
      SELECT pos // 32 AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
      FROM (
        SELECT (bh.h1 + hs.i * bh.h2) % sz.m AS pos
        FROM (
          SELECT ({h}) % {1 << 30} AS h1,
                 (({h}) // {1 << 30}) | 1 AS h2
          FROM build
        ) bh CROSS JOIN sz CROSS JOIN hs
      ) GROUP BY 1
    ),
    probe_keys AS MATERIALIZED (
      SELECT pk.k, bool_and(
               (COALESCE(words.bits, 0)
                & (CAST(1 AS BIGINT) << CAST(t.pos % 32 AS INT))) > 0) AS cand
      FROM (
        SELECT k, ({h}) % {1 << 30} AS h1, (({h}) // {1 << 30}) | 1 AS h2
        FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem)
      ) pk
      CROSS JOIN sz CROSS JOIN hs
      CROSS JOIN LATERAL (SELECT (pk.h1 + hs.i * pk.h2) % sz.m AS pos) t
      LEFT JOIN words ON words.w = t.pos // 32
      GROUP BY pk.k
    ),
    scored AS (
      SELECT li.l_returnflag, p.cand, b.k IS NOT NULL AS hit
      FROM lineitem li
      JOIN probe_keys p ON p.k = li.l_orderkey
      LEFT JOIN build b ON b.k = li.l_orderkey
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN cand AND NOT hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           CAST(SUM(CASE WHEN hit AND NOT cand THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missed
    FROM scored GROUP BY l_returnflag ORDER BY l_returnflag
    """


@register(
    "q_join_bloom_prefilter",
    oracle=bloom_prefilter_oracle_sql(),
    doc="Explicit bloom-filter semi-join prefilter: one quarter's order "
    "keys hashed into a portable bit array that probes lineitem in-row; "
    "false positives and the zero-false-negative invariant are hashed.",
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join of lineitem against one quarter's order
    keys: per returnflag, (n_probed, n_candidates, n_matched, n_false_pos,
    n_missed). n_missed is the no-false-negative invariant and must hash
    as 0 everywhere; n_false_pos pins the bloom's exact bit behavior.
    Reference behavior: none (beyond-reference join-acceleration family)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    lo, hi = BLOOM_QUARTER
    build = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi))
        )
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    n_keys = build.count()
    m = _bloom_m(n_keys)
    n_words = m // 32
    # ONE md5 per key; the k positions derive by Kirsch-Mitzenmacher double
    # hashing pos_i = (h1 + i*h2) % m with h1 = low 30 bits, h2 = high 30
    # bits forced odd — same fp guarantees as k independent hashes at 1/k
    # the hashing cost (the probe side pays this per FACT row)
    hashes = (
        build.select(md5_long(F.col("k").cast("string")).alias("h"))
        .select(
            F.expr(f"h % {1 << 30}").alias("h1"),
            F.expr(f"(h div {1 << 30}) | 1").alias("h2"),
        )
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {BLOOM_K - 1}),"
                    f" i -> (h1 + i * h2) % {m})"
                )
            ).alias("pos")
        )
    )
    words_rows = (
        hashes.select(
            F.expr("pos div 32").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    dense = [0] * n_words
    for r in words_rows:
        dense[int(r.w)] = int(r.bits)
    # ONE array literal (not CreateArray of n_words Column nodes — at sf1
    # the filter is 64k words and a per-element expression tree would blow
    # codegen); the filter ships to every task like a broadcast variable
    arr = F.lit(dense)
    # probe: in-row membership test (k word lookups ANDed), then the
    # verification join scoring candidates against exact membership
    probe = li.withColumn("__bloom", arr).withColumn(
        "__h",
        md5_long(F.col("l_orderkey").cast("string")),
    )
    cand_expr = None
    for i in range(BLOOM_K):
        pos = (
            f"((__h % {1 << 30}) + {i} * ((__h div {1 << 30}) | 1)) % {m}"
        )
        test = F.expr(
            f"(element_at(__bloom, CAST(({pos}) div 32 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(({pos}) % 32 AS INT))) > 0"
        )
        cand_expr = test if cand_expr is None else (cand_expr & test)
    flagged = probe.withColumn("cand", cand_expr).drop("__bloom", "__h")
    scored = flagged.join(
        build.select(F.col("k").alias("l_orderkey")).withColumn("hit", F.lit(True)),
        "l_orderkey",
        "left",
    ).select(
        "l_returnflag",
        "cand",
        F.coalesce("hit", F.lit(False)).alias("hit"),
    )
    return (
        scored.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probed"),
            F.sum(F.col("cand").cast("bigint")).cast("bigint").alias("n_candidates"),
            F.sum(F.col("hit").cast("bigint")).cast("bigint").alias("n_matched"),
            F.sum((F.col("cand") & ~F.col("hit")).cast("bigint"))
            .cast("bigint")
            .alias("n_false_pos"),
            F.sum((F.col("hit") & ~F.col("cand")).cast("bigint"))
            .cast("bigint")
            .alias("n_missed"),
        )
        .orderBy("l_returnflag")
    )
