"""poc_juma_etl_spark — a PySpark-native analytics/ETL engine.

A from-scratch re-expression of the capabilities of the reference pipeline
``fe-malveira-87/poc-juma-etl`` (a BigQuery-delegating batch ETL, see
SURVEY.md) as an idiomatic Spark engine:

- ``session``    — SparkSession factory (AQE, UTC, Arrow)
- ``catalog``    — explicit StructType schemas + parquet loaders for the star schema
- ``registry``   — SERVICE_MAP-shaped table registry driving the ETL half
- ``operators/`` — normalize, range-replace, dedup, similarity, text analysis
- ``sources/``   — parquet source + paginated-REST Python DataSource
- ``plans/``     — analytical query surface + gold-layer materializer
- ``streaming/`` — Structured Streaming over the events table
"""

__version__ = "0.1.0"


def all_queries():
    """Import every module that registers queries and return the full
    registry {name: QuerySpec} in registration order: module import order
    below, then definition order within each module. Import errors are
    re-raised — the registry must be complete or loudly broken, never
    silently partial."""
    import importlib

    from .plans import queries as _q

    for mod in (
        "poc_juma_etl_spark.plans.advanced",
        "poc_juma_etl_spark.plans.etl_e2e",
        "poc_juma_etl_spark.plans.extra2",
        "poc_juma_etl_spark.plans.extra3",
        "poc_juma_etl_spark.plans.extra4",
        "poc_juma_etl_spark.plans.extra5",
        "poc_juma_etl_spark.plans.extra6",
        "poc_juma_etl_spark.plans.extra7",
        "poc_juma_etl_spark.plans.extra8",
        "poc_juma_etl_spark.plans.extra9",
        "poc_juma_etl_spark.plans.mleval",
        "poc_juma_etl_spark.plans.behavior",
        "poc_juma_etl_spark.plans.tpch_extra",
        "poc_juma_etl_spark.plans.tpch_full",
        "poc_juma_etl_spark.plans.joins",
        "poc_juma_etl_spark.plans.windows",
        "poc_juma_etl_spark.plans.setops",
        "poc_juma_etl_spark.plans.events",
        "poc_juma_etl_spark.operators.merge",
        "poc_juma_etl_spark.operators.normalize",
        "poc_juma_etl_spark.operators.range_replace",
        "poc_juma_etl_spark.operators.bm25",
        "poc_juma_etl_spark.operators.components",
        "poc_juma_etl_spark.operators.dedup",
        "poc_juma_etl_spark.operators.grouped_map",
        "poc_juma_etl_spark.operators.kmeans",
        "poc_juma_etl_spark.operators.pq",
        "poc_juma_etl_spark.operators.sampling",
        "poc_juma_etl_spark.operators.similarity",
        "poc_juma_etl_spark.operators.vectors",
        "poc_juma_etl_spark.operators.text",
        "poc_juma_etl_spark.operators.web",
        "poc_juma_etl_spark.operators.udtf_ngrams",
        "poc_juma_etl_spark.operators.multimodal",
        "poc_juma_etl_spark.operators.arrow_ops",
        "poc_juma_etl_spark.operators.cms",
        "poc_juma_etl_spark.operators.graph",
        "poc_juma_etl_spark.operators.bpe",
        "poc_juma_etl_spark.operators.entity",
        "poc_juma_etl_spark.operators.basket",
        "poc_juma_etl_spark.operators.compact",
        "poc_juma_etl_spark.operators.lm",
        "poc_juma_etl_spark.operators.qdigest",
        "poc_juma_etl_spark.operators.warc",
        "poc_juma_etl_spark.plans.extra10",
        "poc_juma_etl_spark.streaming.quantile",
        "poc_juma_etl_spark.operators.logreg",
        "poc_juma_etl_spark.operators.pca",
        "poc_juma_etl_spark.operators.kmv",
        "poc_juma_etl_spark.operators.audio",
        "poc_juma_etl_spark.operators.video",
        "poc_juma_etl_spark.operators.qualityfilter",
        "poc_juma_etl_spark.plans.ivm",
        "poc_juma_etl_spark.streaming.sketch",
        "poc_juma_etl_spark.streaming.events",
        "poc_juma_etl_spark.streaming.join",
        "poc_juma_etl_spark.streaming.enrich",
        "poc_juma_etl_spark.streaming.stateful",
        "poc_juma_etl_spark.streaming.sink",
        "poc_juma_etl_spark.sources.rest_api",
        "poc_juma_etl_spark.sources.rest_stream",
        "poc_juma_etl_spark.sources.rest_sink",
        "poc_juma_etl_spark.operators.mp3",
        "poc_juma_etl_spark.operators.tar",
        "poc_juma_etl_spark.plans.extra11",
        "poc_juma_etl_spark.plans.extra12",
    ):
        importlib.import_module(mod)
    return _q.QUERIES
