"""Driver-side file operations: the in-process local listing agrees with
the Hadoop FileSystem listing, the directory swap works onto a missing and
an existing target, the partition commit replaces what it stages and drops
what it is told to, and no other package module calls Hadoop's FileSystem
API."""

import datetime as dt
import os
from pathlib import Path

import pytest

from poc_juma_etl_spark import storage

PACKAGE = Path(__file__).resolve().parent.parent / "poc_juma_etl_spark"


def _unscheme(listing):
    if isinstance(listing, dict):
        return {k: v.removeprefix("file:") for k, v in listing.items()}
    return tuple((p.removeprefix("file:"), n, m) for p, n, m in listing)


@pytest.fixture
def table(spark, tmp_path):
    """A Spark-written table, partitioned by a date column."""
    p = str(tmp_path / "t")
    rows = [(i, dt.date(2024, 1, 1 + i % 3)) for i in range(30)]
    spark.createDataFrame(rows, "id long, d date").repartition(2).write.partitionBy("d").parquet(p)
    return p


def test_local_and_hadoop_listings_agree(spark, table):
    # a file:// URI always takes the Hadoop path
    files = storage.list_files(spark, table)
    assert files and files == _unscheme(storage.list_files(spark, f"file://{table}"))
    assert "_SUCCESS" in {os.path.basename(f) for f, _, _ in files}
    # Spark leaves checksum files on local disk; neither listing shows them
    on_disk = [n for _, _, names in os.walk(table) for n in names]
    assert any(n.endswith(".crc") for n in on_disk)
    assert len(files) == sum(not n.endswith(".crc") for n in on_disk)

    dirs = storage.list_dirs(spark, table)
    assert sorted(dirs) == ["d=2024-01-01", "d=2024-01-02", "d=2024-01-03"]
    assert dirs == _unscheme(storage.list_dirs(spark, f"file://{table}"))

    # a single file lists itself
    one = next(f for f, _, _ in files if f.endswith(".parquet"))
    assert storage.list_files(spark, one) == tuple(x for x in files if x[0] == one)
    assert _unscheme(storage.list_files(spark, f"file://{one}")) == storage.list_files(spark, one)


def test_missing_path_lists_as_absent(spark, tmp_path):
    for p in (str(tmp_path / "nope"), f"file://{tmp_path}/nope"):
        assert storage.list_files(spark, p) is None
        assert storage.list_dirs(spark, p) == {}


def test_swap_in_onto_missing_and_existing_target(spark, tmp_path):
    def ids(p):
        return sorted(r.id for r in spark.read.parquet(p).collect())

    path, staging = str(tmp_path / "t"), str(tmp_path / "t__new")
    spark.range(3).write.parquet(staging)
    storage.swap_in(spark, staging, path)  # no table yet: a plain rename
    assert ids(path) == [0, 1, 2]
    spark.range(5, 7).write.parquet(staging)
    storage.swap_in(spark, staging, path)
    assert ids(path) == [5, 6]
    assert os.listdir(tmp_path) == ["t"]  # neither the staging nor the aside is left
    assert storage.recover(spark, path) == "clean"


def test_replace_partitions_commits_staged_partitions(spark, tmp_path):
    def days(p):
        return sorted((r.d.day, r.id) for r in spark.read.parquet(p).collect())

    def write(rows, to):
        spark.createDataFrame(rows, "id long, d date").write.partitionBy("d").parquet(to)

    path = str(tmp_path / "t")
    with storage.staging(spark, path) as stage:
        assert os.path.basename(stage).startswith(".t.staging-")
        write([(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 2))], stage)
        storage.replace_partitions(spark, stage, path)  # no table yet: a plain rename
    assert days(path) == [(1, 1), (2, 2)]
    table = storage.list_dirs(spark, path)
    with storage.staging(spark, path) as stage:
        write([(20, dt.date(2024, 1, 2)), (3, dt.date(2024, 1, 3))], stage)
        # day 1 is dropped; day 2 is in the drop list too, but staged, so replaced
        storage.replace_partitions(spark, stage, path, table.values())
    assert days(path) == [(2, 20), (3, 3)]
    assert os.listdir(tmp_path) == ["t"]  # the staging is gone


def test_only_storage_calls_the_hadoop_filesystem_api():
    callers = sorted(
        str(f.relative_to(PACKAGE))
        for f in PACKAGE.rglob("*.py")
        if "org.apache.hadoop.fs" in f.read_text()
    )
    assert callers == ["storage.py"]
