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


# oracle-paired queries that register from operators.mp3/tar,
# plans.extra11/12 and the text, lm and graph modules
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
    assert [n for n in DRAINED if n not in specs or specs[n].oracle is None] == []
