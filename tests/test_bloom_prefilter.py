"""Bloom-prefiltered semi-join: oracle parity, the no-false-negative
invariant, pruning effectiveness, sizing math, and empty guards."""

import pyspark.sql.functions as F

from poc_juma_etl_spark.plans.extra12 import (
    BLOOM_BITS_PER_KEY,
    _bloom_m,
    bloom_prefilter_oracle_sql,
    q_join_bloom_prefilter,
)

from .conftest import SF_ORACLE


def test_bloom_oracle_parity(spark, duck):
    got = [tuple(r) for r in q_join_bloom_prefilter(spark, SF_ORACLE).collect()]
    exp = [tuple(r) for r in duck.execute(bloom_prefilter_oracle_sql()).fetchall()]
    assert got == exp and len(got) > 0


def test_bloom_invariants(spark):
    rows = q_join_bloom_prefilter(spark, SF_ORACLE).collect()
    for r in rows:
        # a bloom filter can never miss a real member
        assert r.n_missed == 0
        # every real match is a candidate
        assert r.n_candidates == r.n_matched + r.n_false_pos
        # ~10 bits/key + 7 hashes -> ~1% theoretical fp; allow 5x slack
        non_members = r.n_probed - r.n_matched
        assert r.n_false_pos <= max(10, non_members * 5 // 100), (
            f"fp rate blown: {r.n_false_pos} of {non_members} non-members"
        )
        # the filter genuinely prunes: candidates are a small fraction
        assert r.n_candidates < r.n_probed // 5


def test_bloom_sizing_is_pow2_and_monotone():
    assert _bloom_m(0) == 32 and _bloom_m(1) == 32
    assert _bloom_m(100) == 1024  # 10*100 -> next pow2
    assert _bloom_m(1638) == 16384 and _bloom_m(1639) == 32768
    prev = 0
    for n in (1, 10, 100, 1000, 10000, 100000):
        m = _bloom_m(n)
        assert m >= BLOOM_BITS_PER_KEY * n and (m & (m - 1)) == 0
        assert m >= prev
        prev = m


def test_bloom_empty_build_side(spark, tmp_path):
    """No orders in the build quarter -> all-zero filter -> zero candidates,
    zero matches, zero fp — and no crash."""
    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").filter(
        F.col("o_orderdate") >= "2090-01-01"
    )
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").limit(1000)
    orders.write.parquet(f"{tmp_path}/orders.parquet")
    li.write.parquet(f"{tmp_path}/lineitem.parquet")
    rows = q_join_bloom_prefilter(spark, str(tmp_path)).collect()
    assert rows and all(
        r.n_candidates == 0 and r.n_matched == 0 and r.n_false_pos == 0
        for r in rows
    )


def test_bloom_empty_input(spark, tmp_path):
    spark.read.parquet(f"{SF_ORACLE}/orders.parquet").limit(0).write.parquet(
        f"{tmp_path}/orders.parquet"
    )
    spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").limit(0).write.parquet(
        f"{tmp_path}/lineitem.parquet"
    )
    assert q_join_bloom_prefilter(spark, str(tmp_path)).collect() == []
