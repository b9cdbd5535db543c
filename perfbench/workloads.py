"""The two workloads. Each is a closed loop with one client: the next op
starts when the previous one has returned.

A workload has two steps. ``warm_up`` runs one untimed pass so the JVM has
compiled the ops' code paths; ``run_pass`` runs one fixed, seeded pass of
ops, times each and marks the ops whose output fails its check.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
from poc_juma_etl_spark import all_queries, catalog, etl, oracle
from poc_juma_etl_spark.operators import normalize, range_replace
from poc_juma_etl_spark.plans import gold
from poc_juma_etl_spark.plans.queries import release_caches
from poc_juma_etl_spark.registry import SERVICE_MAP, TRIGGER_MAP

RUN_ALL_WORKERS = 4


@dataclass
class OpResult:
    kind: str
    pass_no: int
    seconds: float
    error: str | None = None


@dataclass
class Ctx:
    spark: object
    src: str  # generated input directory
    work: Path  # this run's scratch directory
    seed: int
    tracer: object


def timed(ctx: Ctx, kind: str, pass_no: int, index: int, fn) -> OpResult:
    """Run one op under the tracer's op span; an exception fails the op
    (its traceback goes to stderr) instead of ending the run."""
    with ctx.tracer.op(kind, pass_no, index):
        t0 = time.perf_counter()
        try:
            fn()
            error = None
        except Exception as exc:  # noqa: BLE001 - counted in failed ops
            traceback.print_exc(file=sys.stderr)
            error = f"{type(exc).__name__}: {exc}"
        seconds = time.perf_counter() - t0
    return OpResult(kind, pass_no, seconds, error)


class SourceDays:
    """Each fact table's day column from the generated input, sorted, so
    rows-in-window counts need no Spark job."""

    def __init__(self, src: str):
        self.days = {}
        for t in TRIGGER_MAP:
            col = pq.read_table(f"{src}/{t}.parquet", columns=[SERVICE_MAP[t].filter_field])
            self.days[t] = np.sort(pc.cast(col.column(0), "date32").to_numpy())

    def rows_in(self, table: str, start, end) -> int:
        lo, hi = np.datetime64(str(start)), np.datetime64(str(end))
        d = self.days[table]
        return int(np.searchsorted(d, hi, "right") - np.searchsorted(d, lo, "left"))


def warehouse_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet") if not f.name.startswith("."))


@dataclass(frozen=True)
class Refresh:
    table: str
    start: dt.date
    end: dt.date
    factor: float


# the column each refresh corrects; power-of-two factors keep every
# corrected double exact, so the DuckDB replay matches bit for bit
VALUE_COL = {"events": "value", "orders": "o_totalprice", "lineitem": "l_extendedprice"}
WINDOW_DAYS = 7
PAGE_SIZE = 1000


class LoadRefresh:
    """The warehouse lifecycle: a full load into an empty warehouse, then
    one incremental refresh of each fact table on top of it."""

    name = "etl_load_refresh"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.days = SourceDays(ctx.src)
        self.source_bytes = warehouse_bytes(Path(ctx.src))
        self.stored_ratio: list[float] = []

    def _load(self, wh: Path) -> None:
        etl.run_all(
            self.ctx.spark, self.ctx.src, str(wh),
            max_workers=RUN_ALL_WORKERS, materialize_gold=True,
        )

    def _window(self, table: str) -> tuple[dt.date, dt.date]:
        """A seeded 7-day window. Month-partitioned tables always get one
        that straddles a month boundary, so every op rewrites two partial
        months and its cost does not depend on the draw."""
        d = self.days.days[table]
        first, last = d[0].astype(dt.date), d[-1].astype(dt.date)
        if SERVICE_MAP[table].partition_granularity == "day":
            start = first + dt.timedelta(days=self.rng.randrange((last - first).days - WINDOW_DAYS))
        else:
            months = (last.year - first.year) * 12 + last.month - first.month
            m = first.month - 1 + self.rng.randrange(1, months)
            boundary = dt.date(first.year + m // 12, m % 12 + 1, 1)
            start = boundary - dt.timedelta(days=self.rng.randrange(1, WINDOW_DAYS))
        return start, start + dt.timedelta(days=WINDOW_DAYS - 1)

    def _schedule(self) -> list[Refresh]:
        """One refresh per fact table, in seeded order."""
        tables = list(TRIGGER_MAP)
        self.rng.shuffle(tables)
        return [Refresh(t, *self._window(t), self.rng.choice((2.0, 0.5))) for t in tables]

    def _refresh(self, wh: Path, r: Refresh) -> None:
        """One O7 refresh: extract the window through the paginated REST
        source with the date filter pushed to the server, correct it,
        normalize, range-replace the RAW table, then refresh the Gold table
        the RAW table triggers over the touched range."""
        spark, tracer = self.ctx.spark, self.ctx.tracer
        spec = SERVICE_MAP[r.table]
        path = f"{wh}/{r.table}"
        rows = self.days.rows_in(r.table, r.start, r.end)
        with tracer.span("rest_api.load", rows=rows, pages=max(-(-rows // PAGE_SIZE), 1)):
            raw = (
                spark.read.format("paginated_rest")
                .option("path", f"{self.ctx.src}/{r.table}.parquet")
                .option("page_size", str(PAGE_SIZE))
                .option("filter_field", spec.filter_field)
                .option("filter_start", str(r.start))
                .option("filter_end", str(r.end))
                .load()
            )
        col = VALUE_COL[r.table]
        fixed = catalog.normalize_timestamps(raw, r.table).withColumn(col, F.col(col) * r.factor)
        df = normalize.ingest_normalize(fixed, date_columns=[])
        range_replace.replace_range(
            spark, path, df, spec.filter_field, r.start, r.end, spec.partition_granularity
        )
        range_replace.read_table(spark, path).createOrReplaceTempView(r.table)
        view = TRIGGER_MAP[r.table]
        gold.define_gold_view(spark, view)
        start, end = r.start, r.end
        if spec.partition_granularity == "month":
            # month-grained Gold partitions take month-aligned ranges
            start = start.replace(day=1)
            end = (end.replace(day=28) + dt.timedelta(days=4)).replace(day=1) - dt.timedelta(days=1)
        gold.refresh_incremental(spark, view, str(wh), str(start), str(end))

    def warm_up(self) -> None:
        wh = self.ctx.work / "wh-warm"
        self._load(wh)
        for r in self._schedule():
            self._refresh(wh, r)
        shutil.rmtree(wh)

    def run_pass(self, p: int) -> list[OpResult]:
        wh = self.ctx.work / f"wh-{p}"
        schedule = self._schedule()
        ops = [timed(self.ctx, "run_all", p, 0, lambda: self._load(wh))]
        if ops[0].error is None:
            ops[0].error = "; ".join(checks.check_full_load(self.ctx.src, str(wh))) or None
            self.stored_ratio.append(warehouse_bytes(wh) / self.source_bytes)
        for i, r in enumerate(schedule, start=1):
            ops.append(timed(self.ctx, r.table, p, i, lambda r=r: self._refresh(wh, r)))
        bad = checks.check_refreshes(self.ctx.src, str(wh), schedule, VALUE_COL)
        for op in ops[1:]:
            op.error = op.error or bad.get(op.kind)
        shutil.rmtree(wh, ignore_errors=True)
        return ops


MIX = [
    "q1_pricing_summary",
    "q3_top_unshipped_revenue",
    "q5_region_nation_revenue",
    "q8_market_share",
    "q12_return_rate_by_status",
    "q21_suppliers_kept_waiting",
    "q_broadcast_brand_volume",
    "q_window_topk_per_brand",
    "q_sessionize",
    "q_asof_join_last_order",
    "q_event_funnel",
    "q_event_tumbling_hour",
    "q_dedup_minhash_lsh",
    "q_text_quality",
    "q_ann_lsh_topk",
]


class AnalyticsQueryMix:
    name = "analytics_query_mix"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.specs = all_queries()
        self.rng = random.Random(ctx.seed)
        self.wrong: dict[str, str] = {}
        self.stored_ratio: list[float] = []

    def warm_up(self) -> None:
        """One pass that checks every query against its DuckDB oracle; it
        also compiles every plan before the timed passes."""
        con = oracle.duckdb_connect(self.ctx.src)
        try:
            for q in MIX:
                spec = self.specs[q]
                try:
                    report = oracle.compare(spec.fn(self.ctx.spark, self.ctx.src),
                                            con.execute(spec.oracle).fetchdf())
                    if not report["match"]:
                        self.wrong[q] = report.get("why", "mismatch")
                except Exception as exc:  # noqa: BLE001 - a failed check
                    traceback.print_exc(file=sys.stderr)
                    self.wrong[q] = f"{type(exc).__name__}: {exc}"
                release_caches()
        finally:
            con.close()

    def run_pass(self, p: int) -> list[OpResult]:
        order = list(MIX)
        self.rng.shuffle(order)
        out = []
        for i, q in enumerate(order):
            fn = self.specs[q].fn

            def run(q=q, fn=fn):
                with self.ctx.tracer.span(f"query.{q}"):
                    fn(self.ctx.spark, self.ctx.src).count()

            res = timed(self.ctx, q, p, i, run)
            res.error = res.error or self.wrong.get(q)
            out.append(res)
            release_caches()
        return out


WORKLOADS = {w.name: w for w in (LoadRefresh, AnalyticsQueryMix)}
