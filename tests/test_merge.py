"""MERGE emulation: keyed upsert last-write-wins; SCD2 closes superseded
rows and keeps full history."""

import datetime as dt
import os

from pyspark.sql import functions as F

from poc_juma_etl_spark.operators.merge import merge_upsert, scd2_apply, scd2_init


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, name string, bal double")


def test_merge_upsert_insert_update_keep(spark, tmp_path):
    p = str(tmp_path / "t")
    _df(spark, [(1, "a", 10.0), (2, "b", 20.0)]).write.parquet(p)
    merge_upsert(spark, p, _df(spark, [(2, "b2", 99.0), (3, "c", 30.0)]), "k")
    got = {r.k: (r.name, r.bal) for r in spark.read.parquet(p).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0)}
    # idempotent re-apply
    merge_upsert(spark, p, _df(spark, [(2, "b2", 99.0), (3, "c", 30.0)]), "k")
    assert {r.k for r in spark.read.parquet(p).collect()} == {1, 2, 3}


def test_merge_upsert_duplicate_update_keys(spark, tmp_path):
    """Duplicate keys in the update batch collapse to one row per key
    (highest-sorting non-key tuple wins) — the target never gains dup keys."""
    p = str(tmp_path / "dup")
    _df(spark, [(1, "a", 10.0)]).write.parquet(p)
    merge_upsert(
        spark,
        p,
        _df(spark, [(1, "a-v2", 11.0), (1, "a-v3", 12.0), (2, "b", 20.0), (2, "b", 21.0)]),
        "k",
    )
    rows = spark.read.parquet(p).collect()
    assert len(rows) == 2
    got = {r.k: (r.name, r.bal) for r in rows}
    # desc ordering over (name, bal): "a-v3" > "a-v2"; (b, 21.0) > (b, 20.0)
    assert got == {1: ("a-v3", 12.0), 2: ("b", 21.0)}


def test_merge_upsert_stages_without_checkpoint(spark, tmp_path):
    """The upsert reads the target inside its staging and swaps the result
    in: the target's schema inference and the staging write (whose shuffle
    stages AQE runs as jobs of their own) are its only jobs — six on this
    batch, where an eager checkpoint before an in-place overwrite ran
    seven."""
    from .test_catalog import _jobs_launched

    p = str(tmp_path / "t")
    _df(spark, [(1, "a", 10.0), (2, "b", 20.0)]).write.parquet(p)
    updates = _df(spark, [(2, "b2", 99.0), (3, "c", 30.0)])
    _, jobs = _jobs_launched(spark, lambda: merge_upsert(spark, p, updates, "k"))
    assert jobs == 6
    assert os.listdir(tmp_path) == ["t"]
    assert {r.k: r.bal for r in spark.read.parquet(p).collect()} == {1: 10.0, 2: 99.0, 3: 30.0}


def test_merge_upsert_bootstrap(spark, tmp_path):
    p = str(tmp_path / "fresh")
    merge_upsert(spark, p, _df(spark, [(1, "a", 1.0)]), "k")
    assert spark.read.parquet(p).count() == 1


def test_scd2_history(spark, tmp_path):
    p = str(tmp_path / "dim")
    scd2_init(_df(spark, [(1, "a", 10.0), (2, "b", 20.0)]), "2024-01-01").write.parquet(p)
    scd2_apply(spark, p, _df(spark, [(2, "b-new", 25.0), (3, "c", 30.0)]), "k", "2024-02-01")
    rows = spark.read.parquet(p).collect()
    by = {}
    for r in rows:
        by.setdefault(r.k, []).append(r)
    # key 1 untouched, still current
    assert len(by[1]) == 1 and by[1][0].is_current and by[1][0].valid_to is None
    # key 2: closed old + open new
    k2 = sorted(by[2], key=lambda r: r.valid_from)
    assert len(k2) == 2
    assert not k2[0].is_current and k2[0].valid_to == dt.date(2024, 2, 1)
    assert k2[1].is_current and k2[1].name == "b-new"
    # key 3: new current
    assert len(by[3]) == 1 and by[3][0].is_current
    # second change to key 2: history of 3 versions
    scd2_apply(spark, p, _df(spark, [(2, "b-v3", 26.0)]), "k", "2024-03-01")
    k2 = sorted(
        [r for r in spark.read.parquet(p).collect() if r.k == 2],
        key=lambda r: r.valid_from,
    )
    assert [r.is_current for r in k2] == [False, False, True]
    assert k2[1].valid_to == dt.date(2024, 3, 1)
    # point-in-time query: state as of 2024-02-15
    asof = [
        r
        for r in spark.read.parquet(p)
        .filter(
            (F.col("valid_from") <= "2024-02-15")
            & (F.col("valid_to").isNull() | (F.col("valid_to") > "2024-02-15"))
        )
        .collect()
        if r.k == 2
    ]
    assert len(asof) == 1 and asof[0].name == "b-new"


def test_merge_latest_commutes_over_batch_order(spark, tmp_path):
    """CDC upsert rule: any interleaving of update batches converges to the
    same table (the property the streaming foreachBatch sink relies on)."""
    import itertools

    from pyspark.sql import functions as F

    from poc_juma_etl_spark.operators.merge import merge_latest

    rows = [
        # (user_id, event_id, ts_seconds, val) — user 1 has versions in
        # three different batches; user 2's newest is in the middle batch
        (1, 10, 100, "a"), (2, 11, 500, "b"),
        (1, 20, 300, "c"), (2, 21, 400, "d"),
        (1, 30, 200, "e"),
    ]
    batches = [rows[0:2], rows[2:4], rows[4:5]]

    def run(order):
        path = str(tmp_path / ("t" + "".join(map(str, order))))
        for i in order:
            b = spark.createDataFrame(
                batches[i], "user_id long, event_id long, ts long, val string"
            )
            merge_latest(spark, path, b, "user_id", ["ts", "event_id"])
        return {tuple(r) for r in spark.read.parquet(path).collect()}

    results = [run(p) for p in itertools.permutations(range(3))]
    assert all(r == results[0] for r in results)
    assert results[0] == {(1, 20, 300, "c"), (2, 11, 500, "b")}
