"""Public facade: ad-hoc SQL and named-query access."""

import pytest

from poc_juma_etl_spark import api

from .conftest import SF_SMOKE


def test_run_sql_adhoc_join(spark):
    df = api.run_sql(
        spark,
        """
        SELECT o.o_orderstatus, count(*) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
        """,
        SF_SMOKE,
    )
    rows = df.collect()
    assert rows and sum(r.n for r in rows) > 0


def test_run_query_named(spark):
    df = api.run_query(spark, "q1_pricing_summary", SF_SMOKE)
    assert df.count() > 0


def test_run_query_unknown_raises(spark):
    with pytest.raises(KeyError, match="unknown query"):
        api.run_query(spark, "nope", SF_SMOKE)


def test_list_queries_docs():
    qs = api.list_queries()
    assert len(qs) >= 60
    assert all(doc for doc in qs.values()), "every query must carry a description"


# queries that once registered through a queue or a deferred helper and now
# register with @register(...) in their own modules
DRAINED = (
    "q_text_zipf_profile",
    "q_ml_naive_bayes_langid",
    "q_join_bloom_prefilter",
    "q_multimodal_mp3_probe",
    "etl_mp3_file_probe_e2e",
    "q_multimodal_tar_ingest",
    "etl_tar_shard_ingest_e2e",
    "etl_jsonl_gzip_roundtrip_e2e",
    "etl_xml_roundtrip_e2e",
    "q_graph_brand_triangle_census",
    "q_multimodal_audio_features",
    "q_multimodal_video_frames",
    "q_text_bigram_surprisal",
    "q_sample_group_split",
    "q_sketch_quantile_digest",
    "q_sketch_kmv_setops",
    "q_quality_filter",
    "q_quality_filter_pr_curve",
    "q_multimodal_warc_ingest",
    "etl_warc_file_ingest_e2e",
    "etl_orc_roundtrip_e2e",
    "etl_incremental_join_e2e",
    "q_stream_quantile_digest",
    "q_stream_kmv_sketch",
)


def test_all_queries_reads_no_files(monkeypatch):
    from poc_juma_etl_spark import all_queries

    def no_glob(self, pattern):
        raise AssertionError(f"all_queries globbed {self}/{pattern}")

    monkeypatch.setattr("pathlib.Path.glob", no_glob)
    assert all_queries()


def test_all_queries_is_registration_order():
    from poc_juma_etl_spark import all_queries
    from poc_juma_etl_spark.plans.queries import QUERIES

    assert list(all_queries()) == list(QUERIES)


def test_drained_queries_registered_with_oracle():
    from poc_juma_etl_spark import all_queries

    specs = all_queries()
    assert [n for n in DRAINED if n not in specs] == []


def test_all_queries_imports_every_registering_module():
    """A module left out of all_queries()' import list would silently
    shrink the registry: every package module that uses @register(...)
    must be imported by it. Runs in a fresh interpreter, where no other
    test has imported a module already."""
    import subprocess
    import sys
    from pathlib import Path

    import poc_juma_etl_spark

    root = Path(poc_juma_etl_spark.__file__).parent
    registering = {
        ".".join((root.name, *p.relative_to(root).with_suffix("").parts))
        for p in root.rglob("*.py")
        if "@register(" in p.read_text()
    }
    loaded = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, poc_juma_etl_spark as p; p.all_queries(); "
            "print(*sys.modules, sep='\\n')",
        ],
        cwd=root.parent,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert sorted(registering - set(loaded)) == []
