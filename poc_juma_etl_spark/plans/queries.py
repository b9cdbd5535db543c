"""The engine's analytical query surface.

The reference delegates this entire layer to BigQuery (its only query texts
are a DELETE, reference utils.py:266-269, and DROP+CTAS,
materialize_gold.py:65-73; the Gold views' joins/aggregations run inside
BigQuery). Our engine owns it: every relational capability a user of the
reference exercises through BigQuery SQL is declared here as a Catalyst
logical plan via the DataFrame API, with a DuckDB-runnable ANSI-SQL oracle
string for the driver's correctness gate.

Oracle-parity rules (see tests/test_oracle_parity.py):

- Per-row arithmetic stays in DOUBLE: each IEEE op is deterministic and
  identical across engines.
- Aggregation of doubles is order-dependent, and Spark's partial aggregates
  run in parallel — so every SUM first casts the per-row value to
  DECIMAL(25,6) (exact, order-independent addition). A double's binary
  expansion can never sit exactly on a half-point of the 1e-6 grid, so
  round-to-nearest is unambiguous and both engines hold the same decimal.
- The exact decimal total converts to DOUBLE through its STRING form
  (:func:`dec_to_double` / ``SQL_DEC2DBL``), never a direct cast: both
  engines' string parsers are correctly rounded at any magnitude, while
  DuckDB's direct decimal→double cast double-rounds once the unscaled
  value crosses 2^53 (|sum| > ~9.0e9 at scale 6 — guaranteed at scale;
  caught by the r6 sf1 soak on q1's sum_charge).
- Averages are expressed as decimal-sum (string-hopped) / count in DOUBLE
  division.
- Every computed column is aliased identically in the DataFrame plan and the
  oracle SQL (the driver sorts columns by name before hashing).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import tune_session

# ---------------------------------------------------------------------------
# registry


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL the driver's gate hash-compares the result against
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str, doc: str = ""
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable[[SparkSession, str], DataFrame]]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        prior = QUERIES.get(name)
        # fail loudly on a name collision from a DIFFERENT function: a
        # second registration would silently shadow the first in every
        # harness (round-8 near-miss: a new compact gate almost replaced
        # the round-3 etl_compact_e2e). Module re-imports re-registering
        # the same function are fine — identity is module + qualname, not
        # bare __name__ (two modules can coincidentally name a function
        # the same way).
        if prior is not None and (
            prior.fn.__module__,
            prior.fn.__qualname__,
        ) != (fn.__module__, fn.__qualname__):
            raise ValueError(
                f"query name {name!r} already registered by "
                f"{prior.fn.__module__}.{prior.fn.__qualname__}; "
                "pick a distinct name"
            )
        QUERIES[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, doc=doc)
        return wrapped

    return deco


# ---------------------------------------------------------------------------
# oracle-parity helpers


_SCOPED_CACHES: list[DataFrame] = []


def scoped_cache(df: DataFrame) -> DataFrame:
    """``cache()`` with release tracking. Query functions cache reused
    intermediates (shingle sets, token explodes); a long-lived session
    driving the whole registry (oracle gate, bench) would accumulate those
    blocks in executor storage across 160 queries. Harnesses call
    :func:`release_caches` once a query's result is materialized; inside a
    single query the cache behaves exactly like ``.cache()``."""
    out = df.cache()
    _SCOPED_CACHES.append(out)
    return out


def release_caches() -> None:
    """Unpersist every scoped cache registered since the last call, then
    nudge the JVM GC so the ContextCleaner reclaims DEAD localCheckpoint
    blocks too. Iterative queries (BFS, k-core, PageRank, components) cut
    lineage with ``localCheckpoint``; those RDD blocks are freed only when
    the JVM garbage-collects the dead Dataset — which a long-lived harness
    session (oracle gate: 260 queries, bench: 97) may not do for many
    queries, so dead blocks accumulate in executor storage and evict /
    spill LIVE blocks. Measured round 10: a second same-session BFS run
    degraded 56s -> 85s at sf1, and a kcore sf1 run following an sf10 run
    read 160s vs 52s fresh — pure dead-block pressure. One System.gc()
    per query (~100 ms) keeps the session's storage footprint equal to
    the RUNNING query's, which is what every timing in BENCHNOTES should
    be measuring."""
    while _SCOPED_CACHES:
        try:
            _SCOPED_CACHES.pop().unpersist()
        except Exception:
            pass  # session already stopped / block already evicted
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        # gated to local masters: there driver == executor, so the nudge
        # reclaims the whole heap; on a cluster it would touch only the
        # driver through a private API for no executor-side benefit
        if spark is not None and spark.sparkContext.master.startswith("local"):
            spark._jvm.System.gc()
    except Exception:
        pass  # no JVM (session stopped) — nothing to reclaim


def dec_to_double(s: Column) -> Column:
    """Exact-decimal → double through the decimal STRING: both engines
    parse the exact decimal text with a correctly-rounded strtod (Java
    Double.parseDouble / DuckDB fast_float), so they land on the identical
    nearest double at ANY magnitude. A direct decimal→double cast diverges
    once the unscaled value crosses 2^53 (|sum| > ~9.0e9 at scale 6):
    Spark (BigDecimal.doubleValue) rounds the true rational correctly
    while DuckDB divides unscaled/10^scale as two doubles — double-
    rounding that differs in the last ulp (caught by the r6 sf1 soak on
    TPC-H q1's sum_charge; certain at 100 TB money sums). An unscale-to-
    BIGINT hop would overflow int64 past |sum| ~9.2e12; the string hop has
    no magnitude limit and costs one tiny format/parse per GROUP, not per
    row. Verified by experiment across 2^53-straddling and 10^16-scale
    values (tests/test_round6_ops.py)."""
    return s.cast("string").cast("double")


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent double SUM: cast per-row value to DECIMAL(25,6),
    sum exactly, convert the total via the shared unscale path."""
    c = F.col(col) if isinstance(col, str) else col
    return dec_to_double(F.sum(c.cast("decimal(25,6)"))).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent double AVG = exact decimal sum (unscale-converted
    to double) / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (dec_to_double(F.sum(c.cast("decimal(25,6)"))) / F.count(c)).alias(alias)


# STRING (not VARCHAR) — the alias both engines' parsers accept
SQL_DEC2DBL = "CAST(CAST({s} AS STRING) AS DOUBLE)"
SQL_DSUM = (
    SQL_DEC2DBL.format(s="SUM(CAST({expr} AS DECIMAL(25,6)))") + " AS {alias}"
)
SQL_DAVG = (
    SQL_DEC2DBL.format(s="SUM(CAST({expr} AS DECIMAL(25,6)))")
    + " / COUNT({expr}) AS {alias}"
)


def ts_str(col: Column | str, alias: str, frac: bool = False) -> Column:
    """Timestamp output as a canonical string — cross-engine dtype-proof.

    Spark toPandas yields datetime64[ns], DuckDB fetchdf datetime64[us]; a
    comparator hashing raw values (not isoformat) would flag identical
    instants. Emitting 'yyyy-MM-dd HH:mm:ss[.SSSSSS]' strings in BOTH
    engines removes the entire dtype class. String order == chronological
    order for this zero-padded format, so ORDER BY stays correct."""
    c = F.col(col) if isinstance(col, str) else col
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS" if frac else "yyyy-MM-dd HH:mm:ss"
    return F.date_format(c, fmt).alias(alias)


SQL_TS_STR = "strftime({expr}, '%Y-%m-%d %H:%M:%S') AS {alias}"
SQL_TS_STR_FRAC = "strftime({expr}, '%Y-%m-%d %H:%M:%S.%f') AS {alias}"


# ---------------------------------------------------------------------------
# M0 — flagship: TPC-H Q1-style pricing summary
# Exercises: parquet scan w/ predicate pushdown, filter, hash aggregate with
# partial (map-side) combine, sort. At 100 TB: no joins, single shuffle on a
# 6-value grouping key — the canonical "scales linearly" aggregation.


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_charge,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      CAST(CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: scan→filter→agg→sort. The flagship "
    "query (SURVEY.md §7.2 M0). Replaces the analytical aggregation layer the "
    "reference delegated to BigQuery.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
