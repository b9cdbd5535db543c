"""``range_replace.read_table`` reads a warehouse table with a pinned data
schema and a driver-side listing: on every table shape the engine writes
it returns what ``spark.read.parquet`` returns minus the derived columns,
and a warm read runs no Spark job."""

import datetime as dt

import pytest
from pyspark.errors.exceptions.captured import AnalysisException

from poc_juma_etl_spark.operators.range_replace import overwrite_table, read_table, replace_range

from .test_catalog import _digest, _jobs_launched
from .test_etl import _mk_events, _orders_view

DERIVED = ("p_date", "_epoch")


def _month_rows(n):
    """One event in each of ``n`` consecutive months from 2020-01."""
    return [(i, dt.datetime(2020 + i // 12, 1 + i % 12, 15), float(i)) for i in range(n)]


def _month_table(spark, tmp_path):
    # 40 partitions: more than Spark's default parallel-listing threshold (32)
    p = str(tmp_path / "month")
    overwrite_table(_mk_events(spark, _month_rows(40)), p, "ts", granularity="month")
    return p


def _day_table(spark, tmp_path):
    p = str(tmp_path / "day")
    rows = [(i, dt.datetime(2024, 1, 1 + i % 3, i), float(i)) for i in range(6)]
    overwrite_table(_mk_events(spark, rows), p, "ts")
    return p


def _gold_table(spark, tmp_path):
    from poc_juma_etl_spark.plans import gold

    _orders_view(spark, [(1, 1, 5), (2, 2, 10), (3, 3, 15)])
    return gold.materialize(spark, "vw_order_revenue", str(tmp_path / "g"))


def _sink_table(spark, tmp_path):
    from poc_juma_etl_spark.streaming.sink import write_epoch

    p = str(tmp_path / "sink")
    for epoch in (0, 1):
        rows = [(10 * epoch + i, dt.datetime(2024, 1, 1 + i), 1.0) for i in range(2)]
        write_epoch(_mk_events(spark, rows), p, epoch)
    return p


@pytest.mark.parametrize("shape", [_month_table, _day_table, _gold_table, _sink_table])
def test_read_table_matches_spark_read(spark, tmp_path, shape):
    p = shape(spark, tmp_path)
    want = spark.read.parquet(p)
    want = want.drop(*(c for c in DERIVED if c in want.columns))
    got = read_table(spark, p)
    assert got.schema == want.schema
    assert _digest(got) == _digest(want) and _digest(got)[0] > 0


def test_warm_read_table_runs_no_job(spark, tmp_path):
    p = _month_table(spark, tmp_path)
    read_table(spark, p)
    _, jobs = _jobs_launched(spark, lambda: read_table(spark, p))
    assert jobs == 0
    # a refresh of the latest month leaves the first data file as it was
    new = _mk_events(spark, [(100, dt.datetime(2023, 4, 20), 1.0)])
    replace_range(spark, p, new, "ts", "2023-04-01", "2023-04-30", granularity="month")
    got, jobs = _jobs_launched(spark, lambda: read_table(spark, p))
    assert jobs == 0
    assert sorted(r.id for r in got.collect()) == [*range(39), 100]


def test_missing_table_reads_like_or_raises(spark, tmp_path):
    p = str(tmp_path / "never")
    like = _mk_events(spark, [(1, dt.datetime(2024, 1, 1), 1.0)])
    empty = read_table(spark, p, like=like)
    assert empty.schema == like.schema and empty.count() == 0
    with pytest.raises(AnalysisException):
        read_table(spark, p)
