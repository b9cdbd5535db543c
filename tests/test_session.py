"""Session layer: one table of engine SQL confs, read by both get_spark and
tune_session, and the static confs only get_spark can apply."""

from pyspark.errors.utils import is_debugging_enabled

from poc_juma_etl_spark import all_queries
from poc_juma_etl_spark.plans.queries import release_caches
from poc_juma_etl_spark.session import ENGINE_CONF, tune_session

from .conftest import SF_SMOKE

# registry queries whose plans compile 119 generated classes at SF_SMOKE,
# more than Spark's default 100-entry cache holds (a warm round under it
# recompiles 91); q21 is left out because its second run can plan
# differently from its first
WORKING_SET = [
    "q1_pricing_summary",
    "q3_top_unshipped_revenue",
    "q5_region_nation_revenue",
    "q8_market_share",
    "q12_return_rate_by_status",
    "q_window_topk_per_brand",
    "q_sessionize",
]


def _other(value: str) -> str:
    """A valid setting that differs from ``value``."""
    if value in ("true", "false"):
        return "false" if value == "true" else "true"
    if value.isdigit():
        return str(int(value) * 2)
    return {"static": "dynamic", "UTC": "America/Sao_Paulo"}[value]


def test_get_spark_applies_engine_conf(spark):
    for key, value in ENGINE_CONF.items():
        assert spark.conf.get(key) == value, key
    assert ENGINE_CONF["spark.sql.sources.partitionOverwriteMode"] == "static"


def test_tune_session_restores_every_engine_conf(spark):
    saved = {key: spark.conf.get(key) for key in ENGINE_CONF}
    try:
        for key, value in ENGINE_CONF.items():
            spark.conf.set(key, _other(value))
            assert spark.conf.get(key) != value, key
        tune_session(spark)
        assert {key: spark.conf.get(key) for key in ENGINE_CONF} == ENGINE_CONF
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


def test_get_spark_applies_session_conf(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) > 100
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_queries_compile_nothing(spark):
    specs = all_queries()

    def run_round() -> int:
        before = _compiles(spark)
        for name in WORKING_SET:
            specs[name].fn(spark, SF_SMOKE).count()
            release_caches()
        return _compiles(spark) - before

    run_round()
    assert run_round() == 0
