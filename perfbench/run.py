"""ETL-and-query benchmark for the poc_juma_etl_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_load_refresh --seed 1 --seconds 10 --trace 0

Workloads: etl_load_refresh and analytics_query_mix (see perfbench/README.md).
The run generates its input from ``--seed`` under ``.perfbench/`` (cached per
seed), starts a Spark session on ``local[<usable cores>]``, warms up, then
runs seeded passes of ops for at least ``--seconds`` seconds (at least one
pass, two when traced) and checks every op's output against DuckDB. The last
line of standard output is one JSON object: ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``). Progress and Spark's own
logging go to standard error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
SESSION_REPS = 3
DRIVER_MEM = "1g"


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(run_dir: Path) -> dict[str, str]:
    """Environment for the engine and the Spark JVM and Python workers;
    returns the session's extra Spark conf. Everything Spark writes lands
    under ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers unpickle the paginated_rest source by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (the spark-submit launcher too): temp files under run_dir,
    # no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the heap starts at full size, so heap growth does not vary from run
        # to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        # the trace reads job and stage counts back after the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(tracer, src: str, conf: dict[str, str]):
    """Session start: the engine's SparkSession factory, the paginated REST
    source registration and the catalog's schema-checked table views."""
    from poc_juma_etl_spark import catalog, session
    from poc_juma_etl_spark.sources import rest_api

    with tracer.span("session.start"):
        spark = session.get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
        rest_api.register_source(spark)
        catalog.register_views(spark, src)
    return spark


def stop_jvm() -> None:
    """Stop the Spark gateway JVM and wait until it and every process it
    started (the Python workers) have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from tracing import descendants

    if (active := SparkSession.getActiveSession()) is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass  # already gone


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def e2e_metrics(results, setup_s, peak_mem) -> dict[str, dict]:
    ok = [r for r in results if r.error is None]
    by_kind: dict[str, list[float]] = {}
    by_pass: dict[int, float] = {}
    for r in ok:
        by_kind.setdefault(r.kind, []).append(r.seconds)
        by_pass[r.pass_no] = by_pass.get(r.pass_no, 0.0) + r.seconds
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        # a pass's time is the sum of its ops: the checks between them are
        # not the engine's work
        "pass_p50_s": {"value": median(list(by_pass.values())), "unit": "s"},
        "kind_geomean_s": {"value": geomean([median(v) for v in by_kind.values()]), "unit": "s"},
        "peak_pss_mb": {"value": peak_mem / 2**20, "unit": "MB"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "poc_juma_etl_spark" / "__init__.py").is_file():
        log(f"engine package poc_juma_etl_spark not found under {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = WORK / f"run-{os.getpid()}"
    conf = configure_env(run_dir)

    import datagen
    import layers
    from tracing import MemorySampler, Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    src_dir = WORK / "data" / f"seed-{args.seed}"
    sizes = datagen.generate(src_dir, args.seed)
    log(f"input {src_dir}: " + ", ".join(f"{t}={s['rows']}" for t, s in sizes.items()))
    src = str(src_dir)

    tracer = Tracer()
    try:
        with MemorySampler() as mem:
            try:
                if args.trace:
                    layers.instrument(tracer)
                # set-up, repeated: the median session start is reported
                session_s = []
                for rep in range(SESSION_REPS):
                    tracer.active = bool(args.trace) and rep == SESSION_REPS - 1
                    t0 = time.perf_counter()
                    spark = start_session(tracer, src, conf)
                    session_s.append(time.perf_counter() - t0)
                    if rep < SESSION_REPS - 1:
                        spark.stop()
                tracer.active = False
                tracer.sc = spark.sparkContext
                setup_s = median(session_s)
                log(f"setup {setup_s:.3f}s (session starts {[round(s, 3) for s in session_s]})")
                ctx = Ctx(spark=spark, src=src, work=run_dir, seed=args.seed, tracer=tracer)
                wl = WORKLOADS[args.workload](ctx)
                wl.warm_up()
                log("warm-up done")

                results = []
                deadline = time.perf_counter() + args.seconds
                p = 0
                # a traced run traces its even passes only: the difference to
                # the odd ones is the tracing overhead
                while p < 1 + args.trace or time.perf_counter() < deadline:
                    tracer.active = bool(args.trace) and p % 2 == 0
                    ops = wl.run_pass(p)
                    results += ops
                    log(f"pass {p}: " + ", ".join(f"{r.kind} {r.seconds:.3f}" for r in ops))
                    p += 1
                tracer.active = False
                if args.trace:
                    tracer.harvest_jobs()
                    tracer.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
            finally:
                stop_jvm()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = [r for r in results if r.error]
    for r in failed[:10]:
        log(f"FAILED {r.kind}: {r.error[:500]}")
    log(f"failed_ops_frac {len(failed) / len(results):.4f} ({len(failed)}/{len(results)})")
    if args.trace:
        metrics = layers.metrics(tracer, results, session_s, wl, sizes)
    else:
        metrics = e2e_metrics(results, setup_s, mem.peak)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(results),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
