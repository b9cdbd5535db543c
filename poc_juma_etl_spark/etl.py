"""ETL orchestration: registry-driven per-table pipelines + parallel fan-out
(reference parity: O1, O2, O3, O7, O8 — reference main.py:97-192,
utils.py:328-453).

The reference runs one OS process per table (``ProcessPoolExecutor``,
main.py:118-127) because each worker is a blocking pandas/HTTP loop. In
Spark, *tasks* are the unit of parallelism, so per-table concurrency becomes
driver-side threads submitting independent Spark jobs — the scheduler
interleaves their stages across executors. The RAW→GOLD trigger DAG
(main.py:26-30, firing at main.py:166-181) stays plain driver logic: a Gold
build is submitted to the same pool as soon as its upstream RAW table lands.
"""

from __future__ import annotations

import datetime as dt
import logging
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .logs import setup_service_logger
from .operators.normalize import ingest_normalize
from .operators.range_replace import overwrite_table, read_table, replace_range
from .plans import gold
from .registry import SERVICE_MAP, TRIGGER_MAP, TableSpec


def _extract(spark: SparkSession, sf_dir: str, spec: TableSpec) -> DataFrame:
    """Source scan. Fixture-backed (parquet); a live paginated-API source
    plugs in here via sources.rest_api (same DataFrame-out interface as the
    reference's extract_service_data, utils.py:150-235)."""
    from .catalog import load_table

    return load_table(spark, sf_dir, spec.source)


def run_table(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    name: str,
    historical: tuple[dt.date, dt.date] | None = None,
    log_dir: str | None = None,
) -> str:
    """O8 — per-table dispatch (reference run_etl_service, utils.py:328-453).

    Dimensions (load_mode="overwrite"): full extract → normalize → S4
    overwrite — branch A (utils.py:347-357).
    Facts (load_mode="range_replace"): per-range extract-filter → R1
    replacement — branch B (utils.py:360-404) — over ``historical`` or,
    without it, the source's own day span. With a file-backed source a
    single replace_range over the whole window replaces the reference's
    range *loop*; the loop existed only to bound API payloads (its range
    helpers remain available for connector-backed sources). A reversed
    window raises ValueError.
    """
    log = setup_service_logger(name, log_dir) if log_dir else None
    if log:
        log.info("load start: mode=%s historical=%s", SERVICE_MAP[name].load_mode, historical)
    spec = SERVICE_MAP[name]
    df = ingest_normalize(_extract(spark, sf_dir, spec))
    path = f"{warehouse_dir}/{name}"
    if spec.load_mode == "overwrite":
        overwrite_table(df, path, spec.filter_field, spec.partition_granularity)
        if log:
            log.info("load done: overwrite -> %s", path)
        return path
    # range_replace fact load
    span = replace_range(
        spark, path, df, spec.filter_field, *(historical or (None, None)),
        spec.partition_granularity,
    )
    if log:
        if span is None:
            log.info("load skipped: no source rows")
        else:
            log.info("load done: range_replace [%s, %s] -> %s", *span, path)
    return path


def run_all(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    tables: list[str] | None = None,
    max_workers: int = 4,
    materialize_gold: bool = True,
    log_dir: str | None = None,
    board=None,
    retries: int = 2,
    retry_backoff_s: float = 0.5,
) -> dict[str, str]:
    """O1/O2/O3 — parallel fan-out over tables with completion-ordered Gold
    triggers (reference run_parallel_etl, main.py:97-192). With ``log_dir``
    each table writes its own ``etl_<name>.log`` (O9, reference
    utils.py:42-71). With ``board`` (a dashboard.StatusBoard) each state
    transition is published for the live console dashboard (O10, reference
    main.py:55-94)."""
    from . import dashboard as db

    names = tables or list(SERVICE_MAP)
    results: dict[str, str] = {}

    def run_one(n: str) -> str:
        # RUNNING is marked inside the worker, not at submit: the pool only
        # executes max_workers tables at once, and a submit-time mark would
        # show queued tables as running with elapsed timers counting queue
        # wait instead of execution
        if board:
            board.mark(n, db.RUNNING)
        # Bounded retry with exponential backoff. This is SAFE to do blindly
        # because the write path is R1's atomic dynamic-partition overwrite:
        # a failed attempt either never committed its partitions or replaced
        # them whole, so re-running the same range is idempotent — retrying
        # a non-idempotent writer here would be a correctness bug, not a
        # robustness feature.
        last: Exception | None = None
        for attempt in range(retries + 1):
            try:
                return run_table(spark, sf_dir, warehouse_dir, n, None, log_dir)
            except (AnalysisException, TypeError, KeyError):
                # deterministic failures (missing table/column, schema or
                # registry errors) — retrying only delays and buries the
                # real error; fail fast with the first occurrence intact
                raise
            except Exception as exc:  # noqa: BLE001 — transient executor/IO errors
                last = exc
                # every failed attempt is logged at the time it happens, so
                # the FIRST occurrence is visible in logs even while the
                # backoff loop is still masking it from the caller
                logging.getLogger("poc_juma_etl_spark.etl").warning(
                    "table %s attempt %d/%d failed: %s: %s",
                    n, attempt + 1, retries + 1, type(exc).__name__, exc,
                )
                if attempt < retries:
                    time.sleep(retry_backoff_s * (2**attempt))
        raise last  # type: ignore[misc]

    def build_gold(table: str, path: str, view: str) -> str:
        # O3: register the RAW view, then build the dependent Gold table;
        # RUNNING is marked here for the same reason as in run_one
        if board:
            board.mark(view, db.RUNNING)
        read_table(spark, path).createOrReplaceTempView(table)
        gold.define_gold_view(spark, view)
        return gold.materialize(spark, view, warehouse_dir)

    # Gold builds share the pool with the RAW loads: each is submitted the
    # moment its RAW table lands, so it overlaps the loads still running
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        pending = {}
        for n in names:
            if board:
                board.mark(n, db.PENDING)
            pending[pool.submit(run_one, n)] = n
        while pending:
            done, _ = wait(pending, return_when=FIRST_COMPLETED)
            for fut in done:
                name = pending.pop(fut)
                try:
                    results[name] = fut.result()
                except Exception:
                    if board:
                        board.mark(name, db.FAILED)
                    raise
                if board:
                    board.mark(name, db.DONE)
                if materialize_gold and name in TRIGGER_MAP:
                    view = TRIGGER_MAP[name]
                    pending[pool.submit(build_gold, name, results[name], view)] = view
    return results
