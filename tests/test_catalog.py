"""The source catalog's schema cache: ``load_table`` infers a table's
physical schema once per file version and inference confs, and never
serves a schema the files on disk no longer have."""

import os
import shutil
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import functions as F

from poc_juma_etl_spark.catalog import TABLE_NAMES, load_table, normalize_timestamps
from tests.conftest import SF_SMOKE
from tests.test_ts_encoding import _write_events

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_launched(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched, counted
    by the status tracker under a fresh job group."""
    sc = spark.sparkContext
    group = f"test-catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog cache probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed asynchronously but in order: once a marker
    # job submitted after fn returned is visible, fn's jobs are too
    marker = f"{group}-marker"
    sc.setJobGroup(marker, "catalog cache probe marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _ts_range(df):
    assert dict(df.dtypes)["ts"] == "timestamp"
    return tuple(df.selectExpr("min(cast(ts as string))", "max(cast(ts as string))").first())


def _digest(df):
    """Row count plus an order-free hash sum of every column."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")  # an exact sum cannot overflow
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).first())


def test_warm_load_launches_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/region.parquet", tmp_path / "region.parquet")
    cold, cold_jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "region"))
    warm, warm_jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert cold_jobs >= 1  # the footer inference
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    assert _digest(warm) == _digest(cold)


@pytest.mark.parametrize("first,second", [("ns", "us"), ("us", "ns")])
def test_rewritten_ts_encoding_is_reinferred(spark, tmp_path, first, second):
    expected = ("2024-01-01 00:00:00", "2024-01-01 11:30:00")
    _write_events(tmp_path, first)
    assert _ts_range(load_table(spark, str(tmp_path), "events")) == expected
    _write_events(tmp_path, second)
    # the two encodings can have the same byte length; a distinct mtime
    # makes the rewrite visible whatever the clock's resolution
    path = tmp_path / "events.parquet"
    mtime = path.stat().st_mtime + 10
    os.utime(path, (mtime, mtime))
    assert _ts_range(load_table(spark, str(tmp_path), "events")) == expected


def test_overwritten_directory_table_fails_drift_check(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    row = (1, "hello", "en", "web", 5)
    spark.createDataFrame([row], cols).write.parquet(path)
    assert load_table(spark, str(tmp_path), "documents").columns == cols
    spark.createDataFrame([(*row, "x")], [*cols, "extra"]).write.mode("overwrite").parquet(path)
    with pytest.raises(ValueError, match="schema drift for documents"):
        load_table(spark, str(tmp_path), "documents")


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    _write_events(tmp_path, "ns")
    expected = ("2024-01-01 00:00:00", "2024-01-01 11:30:00")
    assert _ts_range(load_table(spark, str(tmp_path), "events")) == expected
    prev = spark.conf.get(NANOS_AS_LONG)
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        # without nanos-as-long Spark rejects TIMESTAMP(NANOS) at inference;
        # the schema cached under the other setting must not mask that
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(NANOS_AS_LONG, prev)
    assert _ts_range(load_table(spark, str(tmp_path), "events")) == expected


def test_concurrent_loads_of_the_same_tables(spark, tmp_path):
    # a fresh copy, so the threads race on cold cache entries; twice
    # run_all's 4 workers, with a short switch interval to interleave them
    for name in TABLE_NAMES:
        shutil.copy(f"{SF_SMOKE}/{name}.parquet", tmp_path / f"{name}.parquet")
    sf = str(tmp_path)

    def load_all(_):
        return {n: load_table(spark, sf, n) for n in TABLE_NAMES}

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(load_all, range(8)))
    finally:
        sys.setswitchinterval(interval)
    for name in TABLE_NAMES:
        inferred = normalize_timestamps(spark.read.parquet(f"{sf}/{name}.parquet"), name)
        assert all(frames[name].schema == inferred.schema for frames in results)
        assert _digest(results[-1][name]) == _digest(inferred)
