"""The query scope: a thread's scoped caches and scratch dirs live until that
thread calls ``release_caches()``, and another thread's release leaves them
alone. Queries that write scratch files return lazy frames over those files,
and no package module outside the scope hand-rolls a temp dir."""

import os
import sys
import threading
from pathlib import Path
from urllib.parse import urlparse

import pytest
from pyspark import StorageLevel

from poc_juma_etl_spark.plans import queries
from poc_juma_etl_spark.plans.queries import release_caches, scoped_cache, scoped_dir

from .conftest import SF_ORACLE

PACKAGE = Path(__file__).resolve().parent.parent / "poc_juma_etl_spark"
JOIN_TIMEOUT_S = 120


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _join(*threads):
    for t in threads:
        t.join(timeout=JOIN_TIMEOUT_S)
        assert not t.is_alive(), f"{t.name} still running after {JOIN_TIMEOUT_S}s"


def test_release_leaves_other_threads_scope_alone(spark):
    """Thread B's release must not touch thread A's cache or dir; A's own
    release then drops both."""
    a_ready, a_release = threading.Event(), threading.Event()
    got: dict = {}

    def thread_a():
        try:
            got["a_df"] = scoped_cache(spark.range(17).selectExpr("id * 3 AS a"))
            got["a_df"].count()
            got["a_dir"] = scoped_dir("scope_a_")
            a_ready.set()
            a_release.wait(JOIN_TIMEOUT_S)
            release_caches()
        except Exception as exc:  # surfaced by the assertions below
            got["a_error"] = exc
            a_ready.set()

    def thread_b():
        try:
            b_df = scoped_cache(spark.range(19).selectExpr("id * 5 AS b"))
            b_df.count()
            got["b_df"], got["b_dir"] = b_df, scoped_dir("scope_b_")
            release_caches()
        except Exception as exc:
            got["b_error"] = exc

    a = threading.Thread(target=thread_a, name="scope-a")
    a.start()
    try:
        assert a_ready.wait(JOIN_TIMEOUT_S)
        b = threading.Thread(target=thread_b, name="scope-b")
        b.start()
        _join(b)
        assert "a_error" not in got and "b_error" not in got, got
        assert not os.path.exists(got["b_dir"]) and not _cached(got["b_df"])
        assert _cached(got["a_df"]), "B's release unpersisted A's cache"
        assert os.path.isdir(got["a_dir"]), "B's release deleted A's scratch dir"
    finally:
        a_release.set()
        _join(a)
    assert "a_error" not in got, got
    assert not os.path.exists(got["a_dir"])
    assert not _cached(got["a_df"])


def test_concurrent_scopes_release_everything(spark):
    """8 threads (more than the host's cores) under a tiny switch interval,
    each registering and releasing its own caches and dirs: afterwards no
    dir remains and no frame is cached."""
    n_threads, rounds = 8, 3
    frames, dirs, errors = [], [], []
    lock = threading.Lock()

    def worker(i: int):
        try:
            for r in range(rounds):
                df = scoped_cache(spark.range(10 + r).selectExpr(f"id + {i * 100 + r} AS v"))
                d = scoped_dir(f"scope_{i}_{r}_")
                with open(f"{d}/marker", "w") as fh:
                    fh.write(str(i))
                assert df.count() == 10 + r
                with lock:
                    frames.append(df)
                    dirs.append(d)
                release_caches()
                assert not os.path.exists(d) and not _cached(df)
        except Exception as exc:
            with lock:
                errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,), name=f"scope-{i}") for i in range(n_threads)]
        for t in threads:
            t.start()
        _join(*threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors
    assert len(dirs) == len(set(dirs)) == n_threads * rounds
    assert not [d for d in dirs if os.path.exists(d)]
    assert not [df for df in frames if _cached(df)]


@pytest.mark.parametrize("name", ["etl_orc_roundtrip_e2e", "etl_warc_file_ingest_e2e"])
def test_scratch_query_returns_lazy_frame_over_its_scope_dir(spark, duck, name):
    """A query that writes scratch files returns a frame that reads them (no
    copy), matches its oracle, and loses the files at release."""
    from poc_juma_etl_spark import all_queries
    from poc_juma_etl_spark.oracle import compare

    spec = all_queries()[name]
    release_caches()  # start from an empty scope on this thread
    try:
        df = spec.fn(spark, SF_ORACLE)
        scope_dirs = list(queries._SCOPE.dirs)
        files = [urlparse(f).path for f in df.inputFiles()]
        assert scope_dirs and files
        assert all(any(f.startswith(d + os.sep) for d in scope_dirs) for f in files), files
        report = compare(df, duck.execute(spec.oracle).fetchdf())
        assert report["match"], report
    finally:
        release_caches()
    assert not [d for d in scope_dirs if os.path.exists(d)]


def test_only_scope_owners_call_mkdtemp():
    """Query scratch space comes from ``scoped_dir``; the remaining
    ``mkdtemp`` callers are the scope itself, the process-lifetime
    checkpoint dir, the stream-join staging dirs (removed as soon as each
    drain ends) and the bucketed-join query (its result is a copy)."""
    callers = sorted(
        str(f.relative_to(PACKAGE))
        for f in PACKAGE.rglob("*.py")
        if "tempfile.mkdtemp" in f.read_text()
    )
    assert callers == ["checkpoint.py", "plans/queries.py", "plans/tpch_extra.py", "streaming/join.py"]
