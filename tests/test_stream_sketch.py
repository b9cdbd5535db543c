"""Streaming KMV sketch maintenance (streaming/sketch.py): batch-equality
(the future gate — same DuckDB oracle as the batch operator), mergeability
across different micro-batch slicings, and state-table boundedness."""

import duckdb

from poc_juma_etl_spark.operators.kmv import K, KMV_ORACLE
from poc_juma_etl_spark.streaming.sketch import (
    q_stream_kmv_sketch,
    stream_kmv_state,
)

from .conftest import SF_ORACLE


def test_stream_kmv_matches_duckdb_oracle(spark):
    """The exact check the registry gate will run in round 10: the stream's
    final estimates equal the one-pass batch SQL value for value."""
    got = [tuple(r) for r in q_stream_kmv_sketch(spark, SF_ORACLE).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF_ORACLE}/orders.parquet'")
    want = [tuple(r) for r in con.execute(KMV_ORACLE).fetchall()]
    assert got == want


def test_stream_kmv_merge_is_slicing_invariant(spark):
    """The KMV merge is associative and order-independent: the final state
    must be IDENTICAL whether the table arrives as 2 or 5 micro-batches."""
    two = stream_kmv_state(spark, SF_ORACLE, n_batches=2)
    five = stream_kmv_state(spark, SF_ORACLE, n_batches=5)
    assert two == five
    # and bounded: never more than k hashes per segment
    assert all(len(v) <= K for v in two.values())
    # sketches are sorted ascending (bottom-k, not any-k)
    assert all(v == sorted(v) for v in two.values())


def test_merge_is_idempotent_under_redelivery(spark, tmp_path):
    """A checkpoint restart can re-deliver a micro-batch (at-least-once);
    the KMV merge must absorb the replay without changing state."""
    from poc_juma_etl_spark.catalog import load_table
    from poc_juma_etl_spark.streaming.sketch import (
        merge_sketch_state,
        read_sketch_state,
    )

    state = str(tmp_path / "state")
    orders = load_table(spark, SF_ORACLE, "orders")
    half = orders.where("o_orderkey % 2 = 0")
    merge_sketch_state(spark, state, half)
    once = read_sketch_state(spark, state)
    merge_sketch_state(spark, state, half)  # replay the same batch
    assert read_sketch_state(spark, state) == once


def test_restart_drill_resumes_from_checkpoint(spark, tmp_path):
    """Stop-and-resume drill: drain 2 staged files, then add 2 more and
    restart the stream on the SAME checkpoint + state table — the final
    state must equal the whole-table batch sketch (and only the new files
    may be processed on resume; the checkpoint guarantees it)."""
    import shutil

    from poc_juma_etl_spark.catalog import load_table
    from poc_juma_etl_spark.operators.kmv import PRED_A, PRED_B, SPARK_H44, K
    from poc_juma_etl_spark.streaming.sketch import (
        merge_sketch_state,
        read_sketch_state,
    )

    ev = load_table(spark, SF_ORACLE, "orders")
    stage = str(tmp_path / "stage")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev.repartition(4).write.parquet(stage)
    import os

    parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    assert len(parts) == 4
    os.makedirs(src)
    shutil.copy(f"{stage}/{parts[0]}", src)
    shutil.copy(f"{stage}/{parts[1]}", src)

    def drain():
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(
                lambda df, epoch_id: merge_sketch_state(spark, state, df)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # phase 1: first two files, then the stream stops
    partial = read_sketch_state(spark, state)
    shutil.copy(f"{stage}/{parts[2]}", src)
    shutil.copy(f"{stage}/{parts[3]}", src)
    drain()  # phase 2: resume on the same checkpoint
    final = read_sketch_state(spark, state)

    # final state == whole-table batch sketch, per segment
    for label, pred in (("a", PRED_A), ("b", PRED_B)):
        want = [
            r.h
            for r in ev.where(pred)
            .selectExpr(f"{SPARK_H44} AS h")
            .distinct()
            .orderBy("h")
            .limit(K)
            .collect()
        ]
        assert final[label] == want, label
    # and phase 1 really was partial (the drill exercised a true resume)
    assert partial != final


def test_state_swap_crash_window_heals(spark, tmp_path):
    """A crash between the two renames leaves only the state's aside; the
    next merge must roll it back instead of rebuilding from one batch (which
    would silently drop every earlier batch's hashes)."""
    import os

    from poc_juma_etl_spark import storage
    from poc_juma_etl_spark.catalog import load_table
    from poc_juma_etl_spark.streaming.sketch import (
        merge_sketch_state,
        read_sketch_state,
    )

    state = str(tmp_path / "state")
    orders = load_table(spark, SF_ORACLE, "orders")
    merge_sketch_state(spark, state, orders.where("o_orderkey % 2 = 0"))
    before = read_sketch_state(spark, state)
    os.rename(state, storage.aside(state))  # simulate the crash window
    merge_sketch_state(spark, state, orders.where("o_orderkey % 2 = 0"))
    assert read_sketch_state(spark, state) == before  # healed + idempotent
    os.rename(state, storage.aside(state))  # again, before a new batch
    merge_sketch_state(spark, state, orders.where("o_orderkey % 2 = 1"))
    whole = str(tmp_path / "whole")
    merge_sketch_state(spark, whole, orders)
    assert read_sketch_state(spark, state) == read_sketch_state(spark, whole)


def test_stream_kmv_empty_input(spark, tmp_path):
    """Zero-row source: the drain may fire zero micro-batches (no state
    table is ever written) — the query must still return the 12-measure
    all-zero result instead of raising on the missing state dir."""
    empty = str(tmp_path / "sf_empty")
    spark.read.parquet(f"{SF_ORACLE}/orders.parquet").limit(0).write.parquet(
        f"{empty}/orders.parquet"
    )
    from poc_juma_etl_spark.streaming.sketch import q_stream_kmv_sketch

    m = {r.measure: r.value for r in q_stream_kmv_sketch(spark, empty).collect()}
    assert m["est_a"] == m["exact_a"] == 0
    assert m["est_union"] == m["exact_union"] == 0
