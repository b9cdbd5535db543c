"""Public facade — the surface a user of the reference pipeline switches to.

The reference's users interact through three entry points (CLI ETL runs,
Gold materialization, and ad-hoc SQL against the BigQuery tables). The first
two live in etl.py / plans/gold.py and the CLI (__main__.py); this module
adds the third: ad-hoc SQL over the warehouse/fixture tables, plus
programmatic access to the engine's named query registry.

    from poc_juma_etl_spark import api
    spark = api.session()
    api.run_sql(spark, "SELECT count(*) FROM lineitem JOIN orders ON ...")
    api.run_query(spark, "q1_pricing_summary")       # named registry query
    api.list_queries()                                # discovery
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DEFAULT_SF_DIR, register_views
from .session import get_spark, tune_session


def session(**kwargs) -> SparkSession:
    """An engine-tuned SparkSession (AQE, UTC, Arrow)."""
    return get_spark(**kwargs)


def run_sql(spark: SparkSession, query: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Ad-hoc SQL with every registered table available as a view — the
    replacement for the reference users' direct-BigQuery SQL access."""
    tune_session(spark)
    register_views(spark, sf_dir)
    return spark.sql(query)


def run_query(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Run one named query from the engine registry. The result is lazy
    and may read caches and scratch files the query left in the calling
    thread's scope: materialize it, then call
    ``plans.queries.release_caches()`` to free them."""
    from . import all_queries

    specs = all_queries()
    if name not in specs:
        raise KeyError(f"unknown query {name!r}; see list_queries()")
    return specs[name].fn(spark, sf_dir)


def list_queries() -> dict[str, str]:
    """{query name: one-line description} for the whole registry."""
    from . import all_queries

    return {name: spec.doc for name, spec in all_queries().items()}
