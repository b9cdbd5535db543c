"""Shuffle-VOLUME regression guard (round-8 directive): plan-string
assertions (test_plan_quality.py) catch SHAPE regressions — a broadcast
turning into a sort-merge join — but not volume regressions with an
unchanged shape (e.g. a partitioning change that doubles the bytes through
the same Exchange, or an iterative query that silently starts re-shuffling
its edge list every round). This suite meters actual shuffle-write bytes
through the Spark status store for the most expensive headline queries and
asserts a ceiling with ~2x headroom over the measured sf0.01 baseline
(documented in SCALING.md). Byte counts are compressed sizes and vary a
few percent with codec/partition-count; 2x headroom is far above noise and
far below any real regression (the round-7 jaccard_edges quadratic was a
>10x volume blowup at this SF).

Measurement: per-stage shuffleWriteBytes from AppStatusStore, summed over
stages submitted AFTER the query started (stage-id high-water mark, so
eviction of older stages can't corrupt the delta). This captures ALL jobs a
query runs — including the intermediate .count() actions of iterative
queries, which plan-metric traversal on the returned DataFrame would miss.
"""

import pytest

from poc_juma_etl_spark import all_queries
from poc_juma_etl_spark.plans.queries import release_caches

from .conftest import SF_ORACLE

SPECS = all_queries()

# name -> byte ceiling at sf0.01, local[8], 8 shuffle partitions.
# Measured 2026-08 (round 8): bfs 1.56 MB, kcore 1.91 MB, export manifest
# 1.45 MB, ivfpq 0.28 MB, span dedup 0.63 MB.
BUDGETS = {
    "q_graph_bfs_hops": 3_200_000,
    "q_graph_kcore": 4_000_000,
    "q_corpus_export_manifest": 3_000_000,
    "q_ann_ivfpq_topk": 600_000,
    "q_text_span_dedup": 1_300_000,
    # pins the single-shuffle rewrite: fragment write (round-robin
    # repartition) + ONE grouped exchange of the table; measured 0.30 MB
    "etl_compact_plan_exec_e2e": 650_000,
    # the decode gates' ONLY shuffle is the final orderBy's range exchange
    # of 500 stat rows (measured 4.6 KB each) — the ceiling pins that no
    # payload bytes ever enter an Exchange (decode stays in the Arrow map)
    "q_multimodal_jpeg_decode": 20_000,
    "q_multimodal_jpeg420_decode": 20_000,
    # round-10 registrations (measured 2026-08, round 10, same rig):
    # kmv 89.8 KB (two DISTINCT aggregations + exact ground-truth agg);
    # quality filter 1.4 KB / PR curve 1.1 KB (per-language / per-bin agg
    # rows only — training passes shuffle NOTHING, the gradient rides a
    # map-side-combined aggregate); IVM join 197 KB (view writes + final
    # sort; the dim repair must stay broadcast — a sort-merge regression
    # would blow straight through 2x); decode-family gates 15-24 KB
    # (500-row stat exchanges, zero payload bytes)
    # the iterative trainers' whole scale claim is "K map-side-combined
    # passes, zero wide shuffles": logreg 1.1 KB / pca 3.6 KB measured —
    # the ceilings pin that a regression re-shuffling the projection per
    # step (K x volume, unchanged plan shape) cannot land silently
    "q_logreg_gd": 8_000,
    "q_pca_power_iteration": 20_000,
    "q_sketch_kmv_setops": 200_000,
    "q_quality_filter": 10_000,
    "q_quality_filter_pr_curve": 10_000,
    "etl_incremental_join_e2e": 450_000,
    "q_multimodal_jpeg_prog_decode": 50_000,
    "q_multimodal_audio_features": 35_000,
    "q_multimodal_video_frames": 45_000,
    # round-12 registrations (measured 2026-08, round 11, same rig, via
    # .collect(), see COLLECT_METERED): bigram surprisal 52.5 KB
    # (recut type-level plan); group split 1.6 KB; ORC round-trip 1.4 KB;
    # q-digest 105 KB / streaming q-digest 338 KB (re-baselined after the
    # round-12 driver-build recut removed the 20 level-pass exchanges —
    # what remains is the leaf-histogram aggregation, and for the stream
    # twin the per-epoch histogram maintenance); WARC ingest 19.2 KB /
    # WARC file e2e 8.7 KB (stat rows only — payload bytes never enter an
    # Exchange, the decode-family rule)
    "q_text_bigram_surprisal": 110_000,
    "q_sample_group_split": 4_000,
    "etl_orc_roundtrip_e2e": 3_000,
    "q_sketch_quantile_digest": 230_000,
    "q_stream_quantile_digest": 700_000,
    "q_multimodal_warc_ingest": 40_000,
    "etl_warc_file_ingest_e2e": 20_000,
    # measured 2026-08 (round 11), same rig, via .collect(): mp3 25.7 KB /
    # mp3 file e2e 11.4 KB, tar 20.8 KB / tar shard e2e 10.4 KB — stat rows
    # only, payload bytes never enter an Exchange
    "q_multimodal_mp3_probe": 55_000,
    "etl_mp3_file_probe_e2e": 25_000,
    "q_multimodal_tar_ingest": 45_000,
    "etl_tar_shard_ingest_e2e": 25_000,
    # gzip JSONL round-trip: the repartition(8) staging shuffle of the
    # document corpus + the bucket rollup; measured 101.6 KB
    "etl_jsonl_gzip_roundtrip_e2e": 220_000,
    # XML round-trip: one brand rollup exchange; measured 3.1 KB
    "etl_xml_roundtrip_e2e": 8_000,
    # measured 2026-08 (round 12), same rig, via .collect(): triangle
    # census 1.45 MB (edge distinct + degree/orientation joins — scales
    # with the co-occurrence edge list); naive Bayes 23.6 KB (model
    # aggregations + token-key scoring joins); bloom prefilter 19.9 KB
    # (build distinct + verification join; the filter itself never enters
    # an Exchange — it ships as a literal); zipf/hapax spectrum 32.6 KB
    # (uni+bigram type frequency exchange)
    "q_graph_brand_triangle_census": 3_000_000,
    "q_ml_naive_bayes_langid": 60_000,
    "q_join_bloom_prefilter": 45_000,
    "q_text_zipf_profile": 70_000,
}

# Names whose ceilings were calibrated under .collect(): .count() lets
# Catalyst prune scoring/final-join work (the bigram gate metered 59 bytes
# under count vs 52 KB under collect), so metering them under count would
# make the ceiling vacuous.
COLLECT_METERED = {
    "q_text_bigram_surprisal",
    "q_sample_group_split",
    "etl_orc_roundtrip_e2e",
    "q_sketch_quantile_digest",
    "q_stream_quantile_digest",
    "q_multimodal_warc_ingest",
    "etl_warc_file_ingest_e2e",
    "q_multimodal_mp3_probe",
    "etl_mp3_file_probe_e2e",
    "q_multimodal_tar_ingest",
    "etl_tar_shard_ingest_e2e",
    "etl_jsonl_gzip_roundtrip_e2e",
    "etl_xml_roundtrip_e2e",
    "q_graph_brand_triangle_census",
    "q_ml_naive_bayes_langid",
    "q_join_bloom_prefilter",
    "q_text_zipf_profile",
}


def _stage_bytes(spark) -> dict[int, int]:
    store = spark._jsparkSession.sparkContext().statusStore()
    lst = spark._jvm.java.util.ArrayList()
    stages = store.stageList(
        lst,
        getattr(store, "stageList$default$2")(),
        getattr(store, "stageList$default$3")(),
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )
    out = {}
    it = stages.iterator()
    while it.hasNext():
        st = it.next()
        out[st.stageId()] = st.shuffleWriteBytes()
    return out


def shuffle_bytes_of(spark, fn, *args) -> int:
    """Total shuffle-write bytes across every stage an action-running
    callable triggers."""
    pre = _stage_bytes(spark)
    hi = max(pre) if pre else -1
    fn(*args)
    post = _stage_bytes(spark)
    return sum(b for sid, b in post.items() if sid > hi)


@pytest.mark.parametrize("name", sorted(BUDGETS), ids=str)
def test_shuffle_write_within_budget(spark, name):
    spec = SPECS[name]
    action = "collect" if name in COLLECT_METERED else "count"
    try:
        used = shuffle_bytes_of(
            spark, lambda: getattr(spec.fn(spark, SF_ORACLE), action)()
        )
    finally:
        release_caches()
    assert used <= BUDGETS[name], (
        f"{name} shuffled {used:,} bytes at sf0.01 — over the {BUDGETS[name]:,}"
        f" ceiling (2x the round-8 baseline). A volume regression with an"
        f" unchanged plan shape? See SCALING.md 'Shuffle byte budgets'."
    )
    assert used > 0, f"{name} reported zero shuffle bytes — meter broken?"
