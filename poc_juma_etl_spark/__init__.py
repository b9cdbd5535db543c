"""poc_juma_etl_spark — a PySpark-native analytics/ETL engine.

A from-scratch re-expression of the capabilities of the reference pipeline
``fe-malveira-87/poc-juma-etl`` (a BigQuery-delegating batch ETL, see
SURVEY.md) as an idiomatic Spark engine:

- ``session``    — SparkSession factory (AQE, UTC, Arrow)
- ``catalog``    — explicit StructType schemas + parquet loaders for the star schema
- ``registry``   — SERVICE_MAP-shaped table registry driving the ETL half
- ``operators/`` — normalize, range-replace, dedup, similarity, text analysis
- ``sources/``   — parquet source + paginated-REST Python DataSource
- ``plans/``     — analytical query surface + gold-layer materializer
- ``streaming/`` — Structured Streaming over the events table
"""

__version__ = "0.1.0"

# Names the driver's correctness gate must see first. The gate oracle-checks
# the first 50 entries of ``queries()`` in registration order per round, so
# the window is allocated deliberately: everything that has never had a
# driver-green row (round 1 checked only positions 0-49; see
# CORRECTNESS_r01.json) leads, followed by the one round-1 red row
# (q_scalar_function_suite, fixed this round) and newly added operators.
# Previously driver-green queries fill the remaining slots in their original
# registration order and rotate through the window in later rounds.
DRIVER_WINDOW_PRIORITY: tuple[str, ...] = (
    # -- never driver-checked in round 1 (positions 50-76) --
    "q_event_json_props",
    "q_session_window_builtin",
    "etl_normalize",
    "etl_filter_range",
    "q_text_token_stats",
    "q_text_quality",
    "q_text_langid",
    "q_text_fingerprint",
    "q_text_bm25_search",
    "q_dedup_exact",
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_dedup_embedding_cosine",
    "q_dedup_components",
    "q_grouped_map_pct_rank",
    "q_ann_ivf_topk",
    "q_sample_deterministic",
    "q_sample_stratified",
    "q_ann_bruteforce_topk",
    "q_ann_lsh_topk",
    "q_ann_multiprobe_topk",
    "q_udtf_ngrams",
    "q_multimodal_features",
    "q_stream_tumbling_hour",
    "q_stream_dedup",
    "etl_rest_source_scan",
    # -- round-1 red row, re-verify after the floor() type fix --
    "q_scalar_function_suite",
    # -- new round-2 operators (training-data pipeline surface) --
    "q_text_pii_scrub",
    "q_text_gopher_quality",
    "q_text_repetition",
    "q_dedup_url",
    "q_text_domain_stats",
    "q_text_decontaminate",
    "q_sample_language_balanced",
    "q_text_pack_sequences",
    "q_dedup_pipeline_keep",
    "q_text_unigram_logprob",
    "q_gap_fill_interpolate",
    "q_profile_table",
    "q_array_functions_suite",
    "q_string_function_suite",
    "q_datetime_function_suite",
    "q_text_blocklist_filter",
    "q_text_length_band_filter",
    "q_sample_temperature",
    "q_text_top_bigrams",
    "q_map_functions_suite",
)


# Queries added in rounds 3+, after a backlog of earlier queries had
# accumulated zero driver verifications. They sort after every one of those
# (so each round's window lands on the longest-waiting queries first) but
# before any once-verified query — the half-step keeps them first in line
# among newcomers without displacing the backlog.
LATE_ADDITIONS: tuple[str, ...] = (
    "q_ann_ivf_assign",
    "q_ann_pq_adc",
    "q_sample_mixture",
    "q_bpe_train_merges",
    "q_sample_token_budget",
    "q_ann_ivfpq_topk",
    "q_bpe_encode",
    "q_entity_resolution",
    "q_trend_fit_forecast",
    "q_basket_lift",
    "q_graph_triangles",
    "q_event_attribution",
    "q_snapshot_diff",
    "q_ann_ivfpq_residual_topk",
    # -- round 4 --
    "q_semantic_dedup",
    "q_embedding_pool_mean",
    "q_vector_scalar_quantize",
    "q_equidepth_histogram",
    "q_text_ttr_hapax",
    "etl_csv_roundtrip_e2e",
    "etl_json_roundtrip_e2e",
    "q_interval_overlap_join",
    "q_cdc_apply",
    "q_bloom_filter_prune",
    "q_ann_range_search",
    "q_sample_weighted",
    "q_outer_join_null_skew",
    "q_event_sequence_match",
    "q_winsorize_prices",
    "q_event_ohlc_hourly",
    "q_grouped_quantiles",
    "q_time_weighted_average",
    "q_class_representatives",
    "q_order_fulfilment_latency",
    "q_revenue_mom_growth",
    # -- round 5 --
    "q_stream_interval_join_outer",
    "q_multimodal_decode_real",
    "q_scd2_dimension_build",
    "q_scd2_point_in_time_join",
    "q_scd2_incremental_apply",
    "q_ann_recall_at_k",
    "q_dedup_containment",
    "q_triplet_mining",
    "q_feature_drift",
    "q_table_fingerprint",
    "etl_binaryfile_decode_e2e",
    "etl_python_sink_e2e",
    "q_variant_props",
    "q_observed_metrics",
    "q_kmeans_lloyd_exact",
    "q_text_chunk_overlap",
    # -- round 6 --
    "q_graph_bfs_hops",
    "q_compaction_plan",
    "etl_dpp_prune_e2e",
    "q_eval_auc",
    "q_target_encoding",
    "q_feature_hashing",
    "q_eval_calibration",
    "q_embedding_gram_stats",
    "q_hybrid_rank_fusion",
    "q_multimodal_phash_dedup",
    "q_text_span_dedup",
    "q_text_pmi_collocations",
    "q_weighted_median",
    "q_skew_key_stats",
    "q_dq_freshness_sla",
    "q_zonemap_skip_stats",
    "q_eval_langid_confusion",
    "q_dq_referential_integrity",
    "q_event_trigram_paths",
    "q_graph_kcore",
    "q_corpus_export_manifest",
    "etl_wap_publish_e2e",
    "q_event_seasonality_profile",
    "q_stream_rest_source_scan",
    # -- round 8 --
    "etl_compact_plan_exec_e2e",
    "q_multimodal_jpeg_decode",
    # -- round 9 --
    "q_multimodal_jpeg420_decode",
)


def _evidence_cache(fn):
    """Cache for the CORRECTNESS_r*.json scans below, keyed on a cheap
    fingerprint of the evidence-file glob (name, mtime, size per file) —
    re-reading and json-parsing every round file on each ``all_queries()``
    call is pure waste (the parity sweep calls it per-test), but a process
    that spans a driver round (a long-lived harness) must see a freshly
    dropped CORRECTNESS_rNN.json, so the cache invalidates itself whenever
    the glob changes instead of memoizing for the process lifetime. Note the
    scan deliberately includes UNTRACKED round artifacts in the repo root:
    the current round's evidence is exactly what the next window rotation
    should see. Tests that fabricate evidence files still get a fresh read
    via ``cache_clear``."""
    import functools
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent

    @functools.lru_cache(maxsize=4)
    def _cached(_fingerprint):
        return fn()

    @functools.wraps(fn)
    def wrapper():
        fingerprint = tuple(
            (f.name, f.stat().st_mtime_ns, f.stat().st_size)
            for f in sorted(root.glob("CORRECTNESS_r*.json"))
        )
        return _cached(fingerprint)

    wrapper.cache_clear = _cached.cache_clear
    return wrapper


@_evidence_cache
def _verified_counts() -> dict[str, float]:
    """How much driver evidence each query has accumulated, read from the
    CORRECTNESS_r*.json files the driver drops in the repo root. A full
    rows+schema+hash pass counts 1.0; a rows-only ``no_oracle`` pass counts
    0.25 — real but strictly weaker evidence, so a query that has since
    gained a DuckDB oracle outranks every once-hash-verified query and
    re-enters the 50-slot window for a hash-green row (the r05→r06 lesson:
    q_approx_sketches/q_hll_rollup_merge were oracled in r5 but their
    rows-only r01/r03 samples kept them out of the rotation). Missing or
    unreadable files simply contribute nothing — ordering degrades to the
    static priority list."""
    import json
    from pathlib import Path

    counts: dict[str, float] = {}
    root = Path(__file__).resolve().parent.parent
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            if r.get("rows_match") and r.get("schema_match") and r.get("hash_match"):
                counts[name] = counts.get(name, 0) + 1.0
            elif r.get("err") == "no_oracle" and r.get("spark_rows") is not None:
                counts[name] = counts.get(name, 0) + 0.25
    return counts


@_evidence_cache
def _latest_green_rounds() -> dict[str, int]:
    """The most recent driver round where each query was fully hash-GREEN
    (rows+schema+hash). Compared against :func:`_latest_sample_rounds` in
    the rotation: a name whose latest sample is newer than its latest green
    was RED at its most recent driver look — a live regression — and must
    re-enter the window immediately instead of rotating to the back the way
    its (stale) accumulated evidence would otherwise send it."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)", f.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if (
                isinstance(r, dict)
                and r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


@_evidence_cache
def _latest_sample_rounds() -> dict[str, int]:
    """The most recent driver round that SAMPLED each query (appeared in a
    CORRECTNESS_r*.json at all, green or not). Used as the staleness tiebreak
    in :func:`all_queries`: among equally-verified queries, the one whose
    evidence is oldest re-enters the window first, so the rotation actively
    retires its stale tail instead of replaying registration order (round-6
    audit: 30 r01-sampled names sat outside the window behind
    later-registered names with identical verified counts). Never-sampled
    queries get 0 and therefore still sort first."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)", f.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def effective_evidence(name: str, verified: dict[str, float]) -> float:
    """The evidence value :func:`rotation_key` sorts on. Raw driver
    evidence from CORRECTNESS_r*.json, plus the LATE_ADDITIONS half-step —
    but ONLY while the query has never been driver-verified: the boost's one
    job is to queue newcomers behind the never-verified backlog without
    displacing it. Once a query has any real evidence the boost must vanish,
    or it would *outrank* that evidence and invert the rotation (the r08
    defect: 5 names at 1.25 raw evidence sat inside the 50-slot window while
    55 late-added names at exactly 1.0 — effective 1.5 under the old
    unconditional boost — sat outside)."""
    raw = verified.get(name, 0)
    if raw == 0 and name in LATE_ADDITIONS:
        return 0.5
    return raw


def rotation_key(
    name: str,
    verified: dict[str, float],
    latest: dict[str, int],
    latest_green: dict[str, int] | None = None,
) -> tuple[float, int, float]:
    """The driver-window rotation key (ascending sort; smallest 50 = the
    next round's correctness window). Three regimes:

    - **Never hash-green** (effective evidence < 1.0: new registrations,
      rows-only ``no_oracle`` samples, late additions): these lead
      unconditionally, ordered by how weak their evidence is.
    - **Regressed** (hash-green historically but the LATEST driver sample
      was not green): a live regression — seated at 0.9, after the
      never-verified backlog but before every healthy query, so the fix
      gets re-verified at the very next gate instead of rotating to the
      back the way its stale accumulated evidence would send it.
    - **Hash-green at latest sample** (evidence >= 1.0): the primary
      component saturates at 1.0 and STALENESS drives the rotation —
      oldest driver sample re-enters first, raw evidence only as tiebreak
      within a round. Without the saturation, a twice-green query sampled
      in r04 would sort behind every once-green query forever and its
      evidence would never refresh (the r08→r09 tail: 4 names at 2.0
      evidence stuck at an r04 latest sample behind 200 once-green names).
    """
    eff = effective_evidence(name, verified)
    last = latest.get(name, 0)
    if eff >= 1.0 and latest_green is not None:
        green = latest_green.get(name, 0)
        if green == 0:
            # NEVER hash-green despite accumulated rows-only evidence
            # (four 0.25 no_oracle samples sum to 1.0): such a name must
            # stay in the leading bucket — after live regressions (0.9)
            # but before every healthy hash-green query — not be
            # misclassified as regressed or rotated like a green one
            # (round-9 review finding).
            return (0.95, last, eff)
        if last > green:
            return (0.9, last, eff)  # most recent driver look FAILED
    return (min(eff, 1.0), last, eff)


def all_queries():
    """Import every module that registers queries and return the full
    registry {name: QuerySpec}, ordered so the driver's 50-query correctness
    window always covers the least-verified queries first: ascending
    times-driver-verified (from CORRECTNESS_r*.json), with the static
    DRIVER_WINDOW_PRIORITY list, then registration order, as tiebreak.
    Never-verified and new queries therefore enter the window immediately,
    and previously-green queries rotate back through it across rounds.
    Import errors in optional modules are re-raised — the registry must be
    complete or loudly broken, never silently partial."""
    from .plans import queries as _q  # noqa: F401

    for mod in (
        "poc_juma_etl_spark.plans.advanced",
        "poc_juma_etl_spark.plans.etl_e2e",
        "poc_juma_etl_spark.plans.extra2",
        "poc_juma_etl_spark.plans.extra3",
        "poc_juma_etl_spark.plans.extra4",
        "poc_juma_etl_spark.plans.extra5",
        "poc_juma_etl_spark.plans.extra6",
        "poc_juma_etl_spark.plans.extra7",
        "poc_juma_etl_spark.plans.extra8",
        "poc_juma_etl_spark.plans.extra9",
        "poc_juma_etl_spark.plans.mleval",
        "poc_juma_etl_spark.plans.behavior",
        "poc_juma_etl_spark.plans.tpch_extra",
        "poc_juma_etl_spark.plans.tpch_full",
        "poc_juma_etl_spark.plans.joins",
        "poc_juma_etl_spark.plans.windows",
        "poc_juma_etl_spark.plans.setops",
        "poc_juma_etl_spark.plans.events",
        "poc_juma_etl_spark.operators.merge",
        "poc_juma_etl_spark.operators.normalize",
        "poc_juma_etl_spark.operators.range_replace",
        "poc_juma_etl_spark.operators.bm25",
        "poc_juma_etl_spark.operators.components",
        "poc_juma_etl_spark.operators.dedup",
        "poc_juma_etl_spark.operators.grouped_map",
        "poc_juma_etl_spark.operators.kmeans",
        "poc_juma_etl_spark.operators.pq",
        "poc_juma_etl_spark.operators.sampling",
        "poc_juma_etl_spark.operators.similarity",
        "poc_juma_etl_spark.operators.vectors",
        "poc_juma_etl_spark.operators.text",
        "poc_juma_etl_spark.operators.web",
        "poc_juma_etl_spark.operators.udtf_ngrams",
        "poc_juma_etl_spark.operators.multimodal",
        "poc_juma_etl_spark.operators.arrow_ops",
        "poc_juma_etl_spark.operators.cms",
        "poc_juma_etl_spark.operators.graph",
        "poc_juma_etl_spark.operators.bpe",
        "poc_juma_etl_spark.operators.entity",
        "poc_juma_etl_spark.operators.basket",
        "poc_juma_etl_spark.operators.compact",
        "poc_juma_etl_spark.operators.lm",
        "poc_juma_etl_spark.operators.qdigest",
        "poc_juma_etl_spark.operators.warc",
        "poc_juma_etl_spark.plans.extra10",
        "poc_juma_etl_spark.streaming.quantile",
        "poc_juma_etl_spark.operators.logreg",
        "poc_juma_etl_spark.operators.pca",
        "poc_juma_etl_spark.operators.kmv",
        "poc_juma_etl_spark.operators.audio",
        "poc_juma_etl_spark.operators.video",
        "poc_juma_etl_spark.operators.qualityfilter",
        "poc_juma_etl_spark.plans.ivm",
        "poc_juma_etl_spark.streaming.sketch",
        "poc_juma_etl_spark.streaming.events",
        "poc_juma_etl_spark.streaming.join",
        "poc_juma_etl_spark.streaming.enrich",
        "poc_juma_etl_spark.streaming.stateful",
        "poc_juma_etl_spark.streaming.sink",
        "poc_juma_etl_spark.sources.rest_api",
        "poc_juma_etl_spark.sources.rest_stream",
        "poc_juma_etl_spark.sources.rest_sink",
    ):
        import importlib
        import importlib.util

        if importlib.util.find_spec(mod) is not None:
            importlib.import_module(mod)

    verified = _verified_counts()
    latest = _latest_sample_rounds()
    latest_green = _latest_green_rounds()
    prio = {n: i for i, n in enumerate(DRIVER_WINDOW_PRIORITY)}
    reg = {n: i for i, n in enumerate(_q.QUERIES)}
    names = sorted(
        _q.QUERIES,
        key=lambda n: (
            *rotation_key(n, verified, latest, latest_green),
            prio.get(n, len(prio)),
            reg[n],
        ),
    )
    return {n: _q.QUERIES[n] for n in names}
