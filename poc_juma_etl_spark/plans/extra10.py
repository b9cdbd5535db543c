"""Round-10 extension operators.

- **ORC sink+source round-trip** (``etl_orc_roundtrip_e2e``): the third
  interchange format after the CSV/JSON round-trips (plans/extra5.py) —
  and the first COLUMNAR one, so unlike the text formats it must also
  preserve the scan-time optimizations: the read-back applies a filter
  and the ORC reader pushes it into the stripe scan (PushedFilters,
  pinned by tests/test_extra10.py) and prunes to the projected columns.
  Decimal totals ride the engine's decimal-cast double pattern; dates
  and strings round-trip through ORC's native types. The oracle
  aggregates the source parquet with the same filter, so any loss in the
  ORC serialization or filter semantics breaks the hash.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
reads REST/JSON and writes BigQuery tables only; interchange-format
breadth extends SURVEY.md §2.5's source/sink axis.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import dsum, register

ORC_FLAG_PRED = "l_shipdate >= DATE '1996-01-01'"

ORC_ROUNDTRIP_ORACLE = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING)
                AS DOUBLE) AS total_price,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           strftime(MIN(l_shipdate), '%Y-%m-%d') AS first_ship
    FROM lineitem WHERE {ORC_FLAG_PRED}
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


def orc_read_back(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Write lineitem as ORC, return the filtered read-back DataFrame —
    split out so tests can assert PushedFilters/ReadSchema on the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    path = f"{tmp}/lineitem_orc"
    li.write.mode("overwrite").orc(path)
    return (
        spark.read.schema(li.schema)
        .orc(path)
        .where(ORC_FLAG_PRED)
        .select(
            "l_returnflag",
            "l_linestatus",
            "l_extendedprice",
            "l_quantity",
            "l_shipdate",
        )
    )


@register(
    "etl_orc_roundtrip_e2e",
    oracle=ORC_ROUNDTRIP_ORACLE,
    doc="ORC sink+source round-trip: first columnar interchange "
    "format; filter pushdown + column pruning pinned on the "
    "read-back scan.",
)
def etl_orc_roundtrip_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        back = orc_read_back(spark, sf_dir, tmp)
        out = (
            back.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                dsum("l_extendedprice", "total_price"),
                F.sum(F.col("l_quantity").cast("bigint"))
                .cast("bigint")
                .alias("total_qty"),
                F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias(
                    "first_ship"
                ),
            )
            .orderBy("l_returnflag", "l_linestatus")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
