"""Per-layer instrumentation and the metrics of a traced run.

:func:`instrument` wraps the public functions of each engine layer the
workloads reach. Spans around lazy calls (``catalog.load_table``,
``normalize.ingest``, ``rest_api.load``) time planning only: the Spark jobs
they define run inside the writer or ``query.*`` span that triggers them,
and are counted there.

Counts and seconds are totals per pass, averaged over the traced passes of
the run: one pass is one warehouse lifecycle (a full load and three
refreshes) on etl_load_refresh, and one pass over the 15 queries on
analytics_query_mix. A layer the workload does not reach reads 0.
"""

from __future__ import annotations

import statistics
import sys
from collections import defaultdict

from tracing import Tracer, covered
from workloads import MIX, RUN_ALL_WORKERS, SourceDays

from poc_juma_etl_spark import all_queries, catalog, etl
from poc_juma_etl_spark.operators import normalize, range_replace
from poc_juma_etl_spark.plans import gold
from poc_juma_etl_spark.registry import TRIGGER_MAP


def _gold_dir(args) -> str:
    return f"{args[2]}/{gold.GOLD_SPECS[args[1]].table}"


def instrument(tracer: Tracer) -> None:
    all_queries()  # import every module that binds load_table by name
    engine = [m for n, m in sys.modules.items() if n.startswith("poc_juma_etl_spark")]
    tracer.wrap(catalog, "load_table", "catalog.load_table", also=engine)
    tracer.wrap(normalize, "ingest_normalize", "normalize.ingest", also=engine)
    tracer.wrap(
        range_replace, "replace_range", "replace_range", also=engine,
        io_dir=lambda a: a[1], label=lambda a: {"start": str(a[4]), "end": str(a[5])},
    )
    tracer.wrap(range_replace, "overwrite_table", "overwrite_table", also=engine,
                io_dir=lambda a: a[1])
    tracer.wrap(gold, "materialize", "gold.materialize", io_dir=_gold_dir,
                label=lambda a: {"view": a[1]})
    tracer.wrap(gold, "refresh_incremental", "gold.refresh_incremental", io_dir=_gold_dir)
    tracer.wrap(etl, "run_table", "etl.run_table", label=lambda a: {"table": a[3]})
    tracer.wrap(etl, "run_all", "etl.run_all")


# name -> (unit, better); the order BENCHMARK.json lists them in
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "etl.run_table.s": ("s", "lower"),
    "etl.run_table.calls": ("count", "lower"),
    "etl.attempts_retried": ("count", "lower"),
    "etl.fanout_util": ("ratio", "higher"),
    "etl.gold_trigger_lag_s": ("s", "lower"),
    "catalog.load_table.calls": ("count", "lower"),
    "catalog.load_table.s": ("s", "lower"),
    "rest_api.load.s": ("s", "lower"),
    "rest_api.pages": ("count", "lower"),
    "rest_api.rows": ("count", "lower"),
    "normalize.ingest.s": ("s", "lower"),
    "replace_range.s": ("s", "lower"),
    "replace_range.self_s": ("s", "lower"),
    "replace_range.spark_jobs": ("count", "lower"),
    "replace_range.tasks": ("count", "lower"),
    "replace_range.bytes_written": ("B", "lower"),
    "replace_range.partitions_rewritten": ("count", "lower"),
    "replace_range.write_amp": ("ratio", "lower"),
    "overwrite_table.s": ("s", "lower"),
    "overwrite_table.bytes_written": ("B", "lower"),
    "gold.materialize.s": ("s", "lower"),
    "gold.materialize.spark_jobs": ("count", "lower"),
    "gold.materialize.bytes_written": ("B", "lower"),
    "gold.refresh_incremental.s": ("s", "lower"),
    "gold.refresh_incremental.spark_jobs": ("count", "lower"),
    "gold.refresh_incremental.partitions_rewritten": ("count", "lower"),
    **{f"query.{q}.s": ("s", "lower") for q in MIX},
    "query.spark_jobs": ("count", "lower"),
    "query.tasks": ("count", "lower"),
    "warehouse.stored_bytes_ratio": ("ratio", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.uncovered_frac": ("ratio", "lower"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def metrics(tracer: Tracer, results, session_s, wl, sizes) -> dict:
    spans = [s for s in tracer.spans if s.op is not None]
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    ops = [s for s in spans if s.name.startswith("op.")]
    op_kind = {s.op: s.attrs["kind"] for s in ops}
    n_passes = max(len({s.attrs["pass_no"] for s in ops}), 1)

    def named(name):
        return [s for s in spans if s.name == name]

    def incl(s, key):  # the span's own count plus its descendants'
        return s.attrs.get(key, 0) + sum(incl(c, key) for c in kids[s.id])

    def per_pass(name, f=lambda s: s.dur):
        return sum(f(s) for s in named(name)) / n_passes

    def self_s(s):
        return s.dur - covered([(c.start, c.end) for c in kids[s.id]])

    days = SourceDays(wl.ctx.src)

    def in_window_bytes(s):
        rows = sizes[s.attrs["table"]]["rows"]
        per_row = s.attrs.get("table_bytes", 0) / rows if rows else 0.0
        return days.rows_in(s.attrs["table"], s.attrs["start"], s.attrs["end"]) * per_row

    # write amplification of the incremental refreshes only: a full load
    # writes each row once by construction
    # (a writer that raised has no I/O counts)
    rr = [s for s in named("replace_range") if op_kind[s.op] != "run_all" and s.error is None]
    run_tables = {(s.op, s.attrs["table"]): s for s in named("etl.run_table") if s.error is None}
    trigger_of = {v: t for t, v in TRIGGER_MAP.items()}
    lags = [
        m.start - run_tables[(m.op, trigger_of[m.attrs["view"]])].end
        for m in named("gold.materialize")
        if (m.op, trigger_of[m.attrs["view"]]) in run_tables
    ]
    on = [r.seconds for r in results if r.pass_no % 2 == 0]  # traced passes
    off = [r.seconds for r in results if r.pass_no % 2 == 1]
    queries = [s for s in spans if s.name.startswith("query.")]
    values = {
        "session.start_s": _median(session_s),
        "etl.run_table.s": per_pass("etl.run_table"),
        "etl.run_table.calls": per_pass("etl.run_table", lambda s: 1),
        "etl.attempts_retried": per_pass("etl.run_table", lambda s: s.error is not None),
        "etl.fanout_util": _mean(
            sum(c.dur for c in kids[s.id] if c.name == "etl.run_table") / (RUN_ALL_WORKERS * s.dur)
            for s in named("etl.run_all")
        ),
        "etl.gold_trigger_lag_s": _mean(lags),
        "catalog.load_table.calls": per_pass("catalog.load_table", lambda s: 1),
        "catalog.load_table.s": per_pass("catalog.load_table"),
        "rest_api.load.s": per_pass("rest_api.load"),
        "rest_api.pages": per_pass("rest_api.load", lambda s: s.attrs["pages"]),
        "rest_api.rows": per_pass("rest_api.load", lambda s: s.attrs["rows"]),
        "normalize.ingest.s": per_pass("normalize.ingest"),
        "replace_range.s": per_pass("replace_range"),
        "replace_range.self_s": per_pass("replace_range", self_s),
        "replace_range.spark_jobs": per_pass("replace_range", lambda s: incl(s, "own_jobs")),
        "replace_range.tasks": per_pass("replace_range", lambda s: incl(s, "own_tasks")),
        "replace_range.bytes_written": per_pass("replace_range", lambda s: s.attrs.get("bytes_written", 0)),
        "replace_range.partitions_rewritten": per_pass(
            "replace_range", lambda s: s.attrs.get("partitions_rewritten", 0)
        ),
        "replace_range.write_amp": (
            sum(s.attrs.get("bytes_written", 0) for s in rr) / sum(in_window_bytes(s) for s in rr)
            if rr else 0.0
        ),
        "overwrite_table.s": per_pass("overwrite_table"),
        "overwrite_table.bytes_written": per_pass("overwrite_table", lambda s: s.attrs.get("bytes_written", 0)),
        "gold.materialize.s": per_pass("gold.materialize"),
        "gold.materialize.spark_jobs": per_pass("gold.materialize", lambda s: incl(s, "own_jobs")),
        "gold.materialize.bytes_written": per_pass(
            "gold.materialize", lambda s: s.attrs.get("bytes_written", 0)
        ),
        "gold.refresh_incremental.s": per_pass("gold.refresh_incremental"),
        "gold.refresh_incremental.spark_jobs": per_pass(
            "gold.refresh_incremental", lambda s: incl(s, "own_jobs")
        ),
        "gold.refresh_incremental.partitions_rewritten": per_pass(
            "gold.refresh_incremental", lambda s: s.attrs.get("partitions_rewritten", 0)
        ),
        **{f"query.{q}.s": _median(s.dur for s in named(f"query.{q}")) for q in MIX},
        "query.spark_jobs": _mean(incl(s, "own_jobs") for s in queries),
        "query.tasks": _mean(incl(s, "own_tasks") for s in queries),
        "warehouse.stored_bytes_ratio": _median(wl.stored_ratio),
        "trace.overhead_s": _median(on) - _median(off),
        # an op's self time is the part of it no engine span covers
        "trace.uncovered_frac": _mean(self_s(s) / s.dur for s in ops),
    }
    return {k: {"value": values[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
