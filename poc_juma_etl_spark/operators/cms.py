"""Count-Min Sketch heavy hitters over the document token stream.

The mergeable-sketch answer to "what are the hot keys?" when the key space
is too large to count exactly: D hash rows x W counter buckets, each
occurrence increments one bucket per row, and a key's estimate is the MIN
of its D bucket counters (Cormode & Muthukrishnan 2005) — always an
overestimate, biased by collisions. The sketch is a (d, bucket) -> count
table: partitions build partial sketches map-side and MERGE BY SUM, which
is why it works on a 100 TB stream where per-key exact counts would
shuffle the world; estimates then cost D lookups per candidate key.

Unlike HLL/approx_percentile (whose estimates are engine-specific), CMS is
DETERMINISTIC given the hash functions — both engines build bit-identical
sketches from the shared md5-based row hashes, so the driver gate value-
hashes the whole report: true count (computed exactly for the audited
top-k only), CMS estimate, and the collision overcount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register, scoped_cache
from .text import MOD_P, SQL_MD5_LONG, md5_long, tokens

CMS_D = 3  # hash rows
CMS_W = 512  # counter buckets per row
CMS_TOP = 20  # audited heavy-hitter count

# row-d hash of token t: md5_long('d:' || t) % W — shared by both engines
_HASH_INPUT = "CAST(d AS VARCHAR) || ':' || t"
_SQL_BUCKET = f"({SQL_MD5_LONG.format(x=_HASH_INPUT)} % {MOD_P}) % {CMS_W}"


def _bucket(d_col, t_col) -> F.Column:
    return (
        md5_long(F.concat(d_col.cast("string"), F.lit(":"), t_col)) % MOD_P
    ) % CMS_W


@register(
    "q_sketch_cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents
    ),
    occ AS (
      SELECT t, d, {_SQL_BUCKET} AS bucket
      FROM tok, range(0, {CMS_D}) r(d)
    ),
    sketch AS (
      SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM occ GROUP BY d, bucket
    ),
    freq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM tok GROUP BY t),
    cand AS (SELECT t, true_cnt FROM freq ORDER BY true_cnt DESC, t LIMIT {CMS_TOP}),
    lookups AS (
      SELECT c.t, c.true_cnt, r.d, {SQL_MD5_LONG.format(x="CAST(r.d AS VARCHAR) || ':' || c.t")} % {MOD_P} % {CMS_W} AS bucket
      FROM cand c, range(0, {CMS_D}) r(d)
    )
    SELECT l.t AS token, MIN(l.true_cnt) AS true_cnt,
           CAST(MIN(s.cnt) AS BIGINT) AS cms_est,
           CAST(MIN(s.cnt) - MIN(l.true_cnt) AS BIGINT) AS overcount
    FROM lookups l JOIN sketch s ON s.d = l.d AND s.bucket = l.bucket
    GROUP BY l.t
    ORDER BY true_cnt DESC, token
    """,
    doc=f"Count-Min Sketch heavy hitters: a {CMS_D}x{CMS_W} counter sketch "
    "built from shared md5 row hashes (partial sketches merge by sum — "
    "the map-side-combinable shape that scales to streams exact counting "
    "cannot), then the top-20 tokens audited: exact count vs CMS estimate "
    "vs collision overcount. Deterministic hashing makes the whole sketch "
    "bit-identical across engines, so unlike HLL this sketch operator is "
    "value-hash-gated, not rows-only.",
)
def q_sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    # spread(): 3x md5 per token occurrence is CPU-heavy; a small
    # single-file scan would hash the whole corpus on one core
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = scoped_cache(d.select(F.explode(tokens("text")).alias("t")))
    ds = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("d")
    occ = tok.select("t", ds).select("t", "d", _bucket(F.col("d"), F.col("t")).alias("bucket"))
    sketch = occ.groupBy("d", "bucket").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    cand = freq.orderBy(F.desc("true_cnt"), "t").limit(CMS_TOP)
    lookups = cand.select(
        "t", "true_cnt", ds
    ).select("t", "true_cnt", "d", _bucket(F.col("d"), F.col("t")).alias("bucket"))
    return (
        lookups.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("t")
        .agg(
            F.min("true_cnt").alias("true_cnt"),
            F.min("cnt").cast("bigint").alias("cms_est"),
            (F.min("cnt") - F.min("true_cnt")).cast("bigint").alias("overcount"),
        )
        .select(F.col("t").alias("token"), "true_cnt", "cms_est", "overcount")
        .orderBy(F.desc("true_cnt"), "token")
    )
