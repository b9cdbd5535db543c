"""Round-6 regressions: the r05 ADVICE findings (fingerprint integer
division, drift zero-guard, empty-sink read-back, sentinel tempdir
cleanup, observed-metrics empty guard)."""

import glob
import os

import pytest

from .conftest import SF_ORACLE


# ---------------------------------------------------------------------------
# ADVICE medium: fp_hi must use exact integer division (shiftright), not
# double division + cast. 60-bit hashes near a multiple of 2^30 are the
# failure cell: float rounding pushes the quotient to hi+1.


def test_fingerprint_hi_split_is_exact(spark):
    from pyspark.sql import functions as F

    # h = k*2^30 - d for small d: double rounding of h/2^30 rounds UP to k,
    # while exact integer division gives k-1. 60-bit values, like the real
    # 15-hex-digit md5 prefix hash.
    k = 1 << 29  # puts h around 2^59
    hs = [k * (1 << 30) - d for d in (1, 7, 63)] + [k * (1 << 30) + d for d in (0, 1)]
    df = spark.createDataFrame([(h,) for h in hs], "h long").select(
        F.shiftright(F.col("h"), 30).alias("hi"),
        (F.col("h") % (1 << 30)).alias("lo"),
    )
    rows = df.collect()
    for h, r in zip(hs, rows):
        assert r.hi == h // (1 << 30), h
        assert r.lo == h % (1 << 30), h
    # the buggy float path really does differ on these inputs (the reason
    # for the fix): double(h)/2^30 cast to bigint truncates the ROUNDED h
    bad = [int(float(h) / (1 << 30)) for h in hs]
    assert bad != [h // (1 << 30) for h in hs]


def test_fingerprint_spark_uses_no_float_division():
    from poc_juma_etl_spark.plans import extra6

    src = open(extra6.__file__).read()
    body = src[src.index("def q_table_fingerprint") :]
    assert "shiftright" in body
    assert "/ _FP_HALF" not in body


# ---------------------------------------------------------------------------
# ADVICE low: feature drift must yield NULL (both engines) when one window
# is empty for an event type, not Spark-NULL-vs-DuckDB-inf.


def test_feature_drift_empty_window_yields_null(spark, duck, tmp_path):
    """Craft an events table where one type exists only BEFORE the split
    and one only AFTER; p_cur / p_ref must come back NULL on the empty
    side in both engines, and the full comparator must agree."""
    import duckdb

    from poc_juma_etl_spark.oracle import compare
    from poc_juma_etl_spark.plans.extra6 import q_feature_drift

    src = glob.glob(os.path.join(SF_ORACLE, "events.parquet"))[0]
    con = duckdb.connect()
    fixture_dir = tmp_path / "drift_fixture"
    fixture_dir.mkdir()
    out = str(fixture_dir / "events.parquet")
    # only_before: every row < split, so its t_cur = 0 (the empty current
    # window); mixed keeps both windows populated as the control group
    con.execute(
        f"""
        COPY (
          SELECT event_id, ts, user_id, 'only_before' AS event_type, value, props
          FROM read_parquet('{src}') WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
          UNION ALL
          SELECT event_id, ts, user_id, 'mixed' AS event_type, value, props
          FROM read_parquet('{src}')
        ) TO '{out}' (FORMAT PARQUET)
        """
    )
    df = q_feature_drift(spark, str(fixture_dir))
    pdf = df.toPandas()
    ob = pdf[pdf.event_type == "only_before"]
    assert len(ob) == 10
    assert ob.p_cur.isna().all(), "empty current window must be NULL"
    assert ob.l1_term.isna().all()
    # and the oracle agrees cell-for-cell
    from poc_juma_etl_spark import all_queries

    oracle_sql = all_queries()["q_feature_drift"].oracle
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{out}')")
    oracle_pdf = con.execute(oracle_sql).fetchdf()
    report = compare(df, oracle_pdf)
    assert report["match"], report
    con.close()


# ---------------------------------------------------------------------------
# ADVICE low: read_published over a zero-page manifest returns an empty
# DataFrame with the writer's schema instead of crashing.


def test_sink_empty_commit_is_readable(spark, tmp_path):
    from poc_juma_etl_spark.sources.rest_sink import (
        BatchPostDataSource,
        read_published,
    )

    spark.dataSource.register(BatchPostDataSource)
    dest = str(tmp_path / "sink_empty")
    empty = spark.createDataFrame([], "k long, v string")
    empty.write.format("batched_post").option("path", dest).mode("append").save()
    back, manifest = read_published(spark, dest)
    assert manifest["pages"] == [] and manifest["n_rows"] == 0
    assert back.count() == 0
    assert back.schema.fieldNames() == ["k", "v"]


# ---------------------------------------------------------------------------
# ADVICE low: the outer-join sentinel staging dirs must not accumulate.


def test_stream_outer_join_cleans_tempdirs(spark, tmp_path, monkeypatch):
    import tempfile

    from poc_juma_etl_spark.streaming.join import stream_close_event_pairs_outer

    # a private temp dir: other processes also write to the system one
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    tmp = tempfile.gettempdir()

    def dirs(prefix):
        return {d for d in os.listdir(tmp) if d.startswith(prefix)}

    before_data = dirs("stream_outer_")
    out = stream_close_event_pairs_outer(spark, SF_ORACLE)
    assert out.count() > 0  # memory sink survives the cleanup
    assert dirs("stream_outer_stage_") <= before_data
    assert dirs("stream_outer_") <= before_data, "fixture-copy dir leaked"


# ---------------------------------------------------------------------------
# ADVICE low: q_observed_metrics over an empty events table.


def test_observed_metrics_empty_events(spark, tmp_path):
    import duckdb

    from poc_juma_etl_spark.plans.events import q_observed_metrics

    src = glob.glob(os.path.join(SF_ORACLE, "events.parquet"))[0]
    fixture_dir = tmp_path / "empty_events"
    fixture_dir.mkdir()
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') WHERE 1=0) "
        f"TO '{fixture_dir / 'events.parquet'}' (FORMAT PARQUET)"
    )
    con.close()
    row = q_observed_metrics(spark, str(fixture_dir)).collect()[0]
    assert row.n_rows == 0
    assert row.total_value is None  # SUM over zero rows is NULL, not a crash
    assert row.n_types == 0


# ---------------------------------------------------------------------------
# Bounded-output twins for the pair-explosive dedups: the grouped summaries
# must be exactly derivable from the pair outputs (count / xor / sum /
# metric-total per involved endpoint).


def _fold_pairs(pairs, a_field, b_field, metric):
    import collections

    agg = collections.defaultdict(lambda: [0, 0, 0, 0])
    for r in pairs:
        a, b, m = getattr(r, a_field), getattr(r, b_field), getattr(r, metric)
        for me, other in ((a, b), (b, a)):
            acc = agg[me]
            acc[0] += 1
            acc[1] ^= other
            acc[2] += other
            acc[3] += m
    return agg


def test_simhash_grouped_matches_pair_output(spark):
    from poc_juma_etl_spark import all_queries

    specs = all_queries()
    pairs = specs["q_dedup_simhash"].fn(spark, SF_ORACLE).collect()
    want = _fold_pairs(pairs, "doc_a", "doc_b", "hamming")
    got = {
        r.doc_id: (r.n_dups, r.partner_xor, r.partner_sum, r.hamming_sum)
        for r in specs["q_dedup_simhash_grouped"].fn(spark, SF_ORACLE).collect()
    }
    assert set(got) == set(want)
    for k, acc in want.items():
        assert got[k] == tuple(acc), k


def test_cosine_grouped_matches_pair_output(spark):
    from poc_juma_etl_spark import all_queries
    from poc_juma_etl_spark.operators.dedup import _cosine_pairs

    specs = all_queries()
    pairs = _cosine_pairs(spark, SF_ORACLE).collect()
    want = _fold_pairs(pairs, "vec_a", "vec_b", "qdot")
    got = {
        r.vec_id: (r.n_dups, r.partner_xor, r.partner_sum, r.qdot_sum)
        for r in specs["q_dedup_embedding_cosine_grouped"].fn(spark, SF_ORACLE).collect()
    }
    assert set(got) == set(want)
    for k, acc in want.items():
        assert got[k] == tuple(acc), k


# ---------------------------------------------------------------------------
# Mid-pagination failure contract (reference utils.py:228-233 returns the
# partial accumulation; this engine raises by default, names the page, and
# offers partial_ok=True for bug-for-bug parity).


class _FlakySession:
    """Duck-typed requests.Session: serves 2-row pages, fails at page k."""

    def __init__(self, fail_at: int, n_pages: int = 4):
        self.fail_at = fail_at
        self.n_pages = n_pages
        self.rows = [{"event_id": i, "v": float(i)} for i in range(2 * n_pages)]

    def post(self, url, json=None, headers=None, timeout=None):
        page, size = json["pagina"], json["tamanho_pagina"]
        if page == self.fail_at:
            raise ConnectionError(f"boom at page {page}")

        class R:
            def raise_for_status(self):
                pass

            def json(_self):
                return {
                    "registros": self.rows[page * size : (page + 1) * size],
                    "total_paginas": self.n_pages,
                }

        return R()


def test_fetch_all_raises_naming_failed_page():
    from poc_juma_etl_spark.sources import rest_api

    tr = rest_api.HttpTransport(
        "https://api.example.test/x", page_size=2, session=_FlakySession(fail_at=2)
    )
    with pytest.raises(RuntimeError, match="page 2"):
        tr.fetch_all()  # no rows land: the exception propagates before return


def test_fetch_all_partial_ok_matches_reference_salvage():
    from poc_juma_etl_spark.sources import rest_api

    tr = rest_api.HttpTransport(
        "https://api.example.test/x",
        page_size=2,
        session=_FlakySession(fail_at=2),
        partial_ok=True,
    )
    got = tr.fetch_all()
    assert got.num_rows == 4  # pages 0-1 salvaged, like the reference
    assert [r["event_id"] for r in got.to_pylist()] == [0, 1, 2, 3]


def test_fetch_all_partial_ok_empty_on_first_page_failure():
    from poc_juma_etl_spark.sources import rest_api

    tr = rest_api.HttpTransport(
        "https://api.example.test/x",
        page_size=2,
        session=_FlakySession(fail_at=0),
        partial_ok=True,
    )
    assert tr.fetch_all().num_rows == 0


# ---------------------------------------------------------------------------
# spread() must be a strict small-input optimization: identity (not even a
# new plan node) on inputs that already have enough splits, so it can never
# become a gratuitous full shuffle on a real cluster's already-split scans.


def test_spread_is_identity_on_multi_split_input(spark):
    from poc_juma_etl_spark.catalog import load_table, spread

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).repartition(target)
    assert spread(wide) is wide  # no-op, no plan change at all
    wider = spark.range(10_000).repartition(target * 2)
    assert spread(wider) is wider
    # and the single-file fixture scan (1-2 splits) does get spread
    narrow = load_table(spark, SF_ORACLE, "documents")
    if narrow.rdd.getNumPartitions() < target:
        out = spread(narrow)
        assert out is not narrow
        assert out.rdd.getNumPartitions() == target


# ---------------------------------------------------------------------------
# dec_to_double string-hop: both engines must land on the identical,
# correctly-rounded double at ANY magnitude — including unscaled values
# past 2^53, where DuckDB's direct decimal->double cast double-rounds
# (caught by the r6 sf1 soak on q1's sum_charge) and past ~9.2e12 where an
# unscale-to-BIGINT hop would overflow int64.


def test_dec_to_double_parity_across_magnitudes(spark):
    from decimal import Decimal

    import duckdb

    from poc_juma_etl_spark.plans.queries import SQL_DEC2DBL, dec_to_double

    vals = [
        "27864155010.941590",      # the sf1 q1 sum_charge — direct cast diverges
        "15234567890123456.789012",  # past the bigint-unscale overflow bound
        "9007199254740993.000001",   # 2^53 + 1 straddle
        "0.000001",
        "-27864155010.941593",
        "0.000000",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string").selectExpr(
        "CAST(s AS DECIMAL(38,6)) AS d", "s"
    )
    got = {
        r.s: r.v
        for r in df.select(dec_to_double(df.d).alias("v"), "s").collect()
    }
    con = duckdb.connect()
    for v in vals:
        expr = SQL_DEC2DBL.format(s=f"CAST('{v}' AS DECIMAL(38,6))")
        duck = con.execute(f"SELECT {expr}").fetchone()[0]
        correct = float(Decimal(v))
        assert got[v] == duck == correct, (v, got[v], duck, correct)
    con.close()


def test_levenshtein_grouped_matches_pair_output(spark):
    from poc_juma_etl_spark import all_queries

    specs = all_queries()
    pairs = specs["q_dedup_levenshtein"].fn(spark, SF_ORACLE).collect()
    want = _fold_pairs(pairs, "part_a", "part_b", "edit_dist")
    got = {
        r.p_partkey: (r.n_dups, r.partner_xor, r.partner_sum, r.dist_sum)
        for r in specs["q_dedup_levenshtein_grouped"].fn(spark, SF_ORACLE).collect()
    }
    assert set(got) == set(want)
    for k, acc in want.items():
        assert got[k] == tuple(acc), k


# ---------------------------------------------------------------------------
# round-6 extension operators (plans/extra7.py)


def test_shard_assign_partitions_every_document(spark):
    from poc_juma_etl_spark import all_queries
    from poc_juma_etl_spark.catalog import load_table

    out = all_queries()["q_shard_assign"].fn(spark, SF_ORACLE).collect()
    n_docs = load_table(spark, SF_ORACLE, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs  # total partition, no loss
    assert all(0 <= r.shard < 64 for r in out)
    total = sum(r.shard_tokens for r in out)
    for r in out:  # load_vs_mean is exactly tokens * N / total
        assert r.load_vs_mean == r.shard_tokens * 64 / total


def test_shard_assign_is_key_deterministic(spark):
    # same doc_id -> same shard regardless of which table/row carries it:
    # assignment must be a pure function of the key (reproducible exports)
    from poc_juma_etl_spark.operators.text import md5_long
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    a = {r.doc_id: r.s for r in df.select("doc_id", (md5_long(F.col("doc_id").cast("string")) % 64).alias("s")).collect()}
    b = {
        r.doc_id: r.s
        for r in df.repartition(7)
        .select("doc_id", (md5_long(F.col("doc_id").cast("string")) % 64).alias("s"))
        .collect()
    }
    assert a == b


def test_ngram_novelty_bounds_and_first_doc(spark):
    from poc_juma_etl_spark import all_queries

    rows = all_queries()["q_text_ngram_novelty"].fn(spark, SF_ORACLE).collect()
    assert rows, "novelty output empty"
    by_id = {r.doc_id: r for r in rows}
    first = by_id[min(by_id)]
    # the earliest document's shingles cannot have appeared earlier
    assert first.n_novel == first.n_shingles
    assert first.novelty == 1.0
    for r in rows:
        assert 0 <= r.n_novel <= r.n_shingles
        assert abs(r.novelty - r.n_novel / r.n_shingles) < 1e-15


def test_source_overlap_symmetric_bounds(spark):
    from poc_juma_etl_spark import all_queries
    from poc_juma_etl_spark.catalog import load_table

    rows = all_queries()["q_source_overlap"].fn(spark, SF_ORACLE).collect()
    assert rows
    n_sources = (
        load_table(spark, SF_ORACLE, "documents").select("source").distinct().count()
    )
    assert len(rows) <= n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r.source_a < r.source_b  # ordered pairs, no mirror rows
        assert 0 < r.n_shared <= min(r.n_a, r.n_b)
        assert 0.0 < r.jaccard <= 1.0
        assert r.jaccard <= r.containment <= 1.0


def test_minhash_calibration_monotone_and_exact(spark):
    # the estimator (n_match/32) must track exact Jaccard: micro-averaged
    # exact Jaccard should be non-decreasing in the agreement level over
    # well-populated buckets, and every bucket's spread must stay in [0,1]
    from poc_juma_etl_spark import all_queries

    rows = all_queries()["q_dedup_minhash_calibration"].fn(spark, SF_ORACLE).collect()
    assert rows
    prev = -1.0
    for r in sorted(rows, key=lambda r: r.n_match):
        assert 0 <= r.n_match <= 32
        assert 0.0 <= r.min_jaccard <= r.max_jaccard <= 1.0
        micro = r.sum_shared / r.sum_union
        assert 0.0 <= micro <= 1.0
        if r.n_pairs >= 20:  # sparse buckets are noisy by construction
            assert micro >= prev - 0.10, (r.n_match, micro, prev)
            prev = micro
