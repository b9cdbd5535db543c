"""Session layer: one table of engine SQL confs, read by both get_spark and
tune_session."""

from poc_juma_etl_spark.session import ENGINE_CONF, tune_session


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
