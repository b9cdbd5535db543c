"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``poc_juma_etl_spark``: the engine's query registry
(``poc_juma_etl_spark.plans.queries.QUERIES`` plus the operator modules that
register into it) supplies ``queries()`` and ``oracle_sql()``; ``entry`` runs
the flagship query at sf0.001.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from poc_juma_etl_spark import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    q = all_queries()["q1_pricing_summary"]
    return q.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items()}
