"""Gold-layer materialization (reference parity: S7, S8, O3).

The reference materializes Gold by shipping ``DROP TABLE IF EXISTS`` +
``CREATE TABLE … PARTITION BY d CLUSTER BY c1,c2 AS SELECT * FROM VW_x`` to
BigQuery (reference materialize_gold.py:42-79; partition/cluster specs
materialize_gold.py:26-39; target name = view name with VW_→T_,
materialize_gold.py:60). Our engine owns the execution:

- PARTITION BY   → ``write.partitionBy(date_col)`` → partition pruning on read
- CLUSTER BY     → ``sortWithinPartitions(*cluster_cols)`` before write →
                   parquet row-group min/max locality (data skipping); exact
                   BigQuery clustering ≈ Z-order needs Delta/Iceberg OPTIMIZE,
                   out of scope and not required for correctness
- DROP + CTAS    → ``mode("overwrite")`` under the session's static
                   partition overwrite: the whole table is replaced, so a
                   partition the view no longer produces is gone and spec
                   changes are fine. Like the reference's DROP then CREATE,
                   it is not atomic: a failed build leaves a table to rebuild

At 100 TB the partition column must be low-cardinality-per-day and the sort
keeps each file's min/max ranges tight so selective queries skip row groups.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage
from ..operators.range_replace import partitions_in_range


@dataclass(frozen=True)
class GoldSpec:
    """Partition/cluster spec for one Gold table (shape of the reference's
    TABLES_TO_OPTIMIZE, materialize_gold.py:26-39)."""

    view: str  # source view name ("vw_*")
    partition_field: str  # date column → write.partitionBy
    cluster_fields: tuple[str, ...] = field(default_factory=tuple)

    @property
    def table(self) -> str:  # VW_→T_ naming rule (materialize_gold.py:60)
        return self.view.replace("vw_", "t_", 1)


# The engine's Gold views over the fixture star schema. Each is a real
# aggregation/join (the reference's VW_* SQL lived only inside BigQuery).
GOLD_SPECS: dict[str, GoldSpec] = {
    "vw_lineitem_pricing": GoldSpec(
        "vw_lineitem_pricing", "ship_month", ("l_returnflag", "l_linestatus")
    ),
    "vw_order_revenue": GoldSpec("vw_order_revenue", "order_month", ("o_orderpriority",)),
    "vw_event_hourly": GoldSpec("vw_event_hourly", "event_date", ("event_type",)),
}


VIEW_SQL: dict[str, str] = {
    "vw_lineitem_pricing": """
        CREATE OR REPLACE TEMP VIEW vw_lineitem_pricing AS
        SELECT l_orderkey, l_partkey, l_suppkey, l_returnflag, l_linestatus,
               l_quantity, l_extendedprice * (1 - l_discount) AS net_price,
               l_shipdate, date_trunc('month', l_shipdate) AS ship_month
        FROM lineitem
        """,
    "vw_order_revenue": """
        CREATE OR REPLACE TEMP VIEW vw_order_revenue AS
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               o_totalprice, o_orderdate, date_trunc('month', o_orderdate) AS order_month
        FROM orders
        """,
    "vw_event_hourly": """
        CREATE OR REPLACE TEMP VIEW vw_event_hourly AS
        SELECT date_trunc('hour', ts) AS event_hour, to_date(ts) AS event_date,
               event_type, count(*) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), to_date(ts), event_type
        """,
}


def define_gold_view(spark: SparkSession, view: str) -> None:
    """Register one Gold view over its (already-registered) RAW table."""
    spark.sql(VIEW_SQL[view])


def define_gold_views(spark: SparkSession) -> None:
    """Register every Gold view (caller must have lineitem/orders/events
    views registered, e.g. via catalog.register_views)."""
    for view in VIEW_SQL:
        define_gold_view(spark, view)


def materialize(spark: SparkSession, view: str, warehouse_dir: str) -> str:
    """S7/S8 — materialize one Gold view to a partitioned, clustered parquet
    table; returns the output path. A static overwrite gives the
    reference's DROP+CTAS semantics: the table afterwards holds exactly the
    view's rows and partitions, and spec changes between runs are fine. Not
    atomic, like the reference: a failed build leaves the table to be rebuilt."""
    spec = GOLD_SPECS[view]
    df: DataFrame = spark.table(view)
    out = f"{warehouse_dir}/{spec.table}"
    writer = df
    if spec.cluster_fields:
        writer = df.sortWithinPartitions(*spec.cluster_fields)
    (
        writer.write.mode("overwrite")
        .partitionBy(spec.partition_field)
        .parquet(out)
    )
    return out


def materialize_all(spark: SparkSession, warehouse_dir: str) -> dict[str, str]:
    """Batch mode (reference materialize_gold.py:104-137): sequential loop
    over every spec."""
    return {view: materialize(spark, view, warehouse_dir) for view in GOLD_SPECS}


def refresh_incremental(
    spark: SparkSession,
    view: str,
    warehouse_dir: str,
    start: str,
    end: str,
) -> str:
    """Incremental gold refresh: recompute only the date range a RAW
    replacement touched and range-replace it in the gold table (instead of
    the reference's full DROP+CTAS rebuild, materialize_gold.py:64-74).

    This is what makes the RAW→GOLD trigger affordable at 100 TB: a 7-day
    refresh rewrites 7 partitions of the gold table, not 7 years. One
    planning job collects the partitions the recomputation produces; the
    gold table's old in-range partitions come from a driver-side directory
    listing, so no job reads the gold table. Requires the spec's
    partition_field to be a DATE column or a timestamp whose date decides
    the range (month-grained specs pass month-aligned ranges)."""
    spec = GOLD_SPECS[view]
    out = f"{warehouse_dir}/{spec.table}"
    pf = spec.partition_field
    fresh = spark.table(view).filter(
        F.col(pf).cast("date").between(F.lit(start), F.lit(end))
    )
    # partition values as Spark renders them in directory names
    desired = {
        r.p for r in fresh.select(F.col(pf).cast("string").alias("p")).distinct().collect()
    }
    if not desired:
        # same conservative stance as R1's extract-before-delete guard: an
        # entirely-empty recomputation never deletes existing gold data (a
        # broken upstream view must not wipe the range); full rebuilds via
        # materialize() are the path for intentional deletions
        return out
    affected = partitions_in_range(
        spark, out, pf, dt.date.fromisoformat(str(start)), dt.date.fromisoformat(str(end))
    )
    if spec.cluster_fields:
        fresh = fresh.sortWithinPartitions(*[F.col(c) for c in spec.cluster_fields])
    (
        fresh.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(pf)
        .parquet(out)
    )
    storage.delete(spark, [d for v, d in affected.items() if v not in desired])
    return out
