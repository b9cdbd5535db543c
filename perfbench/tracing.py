"""Span recorder, warehouse I/O accounting and process-tree memory sampling.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a module-level function of the engine with a wrapper that opens a
span around each call. Every span records name, start, end, parent and op
id and stays in memory until :meth:`Tracer.dump`. While a span is open its
thread's Spark job group is set to the span's id, so the jobs (and their
tasks) each span triggered are read back from the Spark status tracker
afterwards. Writer spans also walk their table directory before and after
the call to count the files, bytes and partitions they wrote.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    error: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def table_files(path: str | Path) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of the data files under ``path``;
    Spark's hidden and marker files (``.crc``, ``_SUCCESS``) are skipped."""
    out: dict[str, tuple[int, int]] = {}
    root = str(path)
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def io_delta(before: dict, after: dict) -> dict[str, int]:
    """Files, bytes and partition directories written between two walks."""
    new = [p for p, meta in after.items() if before.get(p) != meta]
    return {
        "files_written": len(new),
        "bytes_written": sum(after[p][0] for p in new),
        "partitions_rewritten": len({os.path.dirname(p) for p in new if os.path.dirname(p)}),
        "table_bytes": sum(size for size, _ in after.values()),
    }


class Tracer:
    """In-memory span recorder. ``active`` switches recording on and off
    without unwrapping, so one run can time traced and untraced passes."""

    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id: str | None = None
        self._op_stack: list[Span] = []  # span stack of the thread running the op

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _enter(self, name: str, attrs: dict) -> tuple[Span, str | None]:
        stack = self._stack()
        # threads the engine starts itself (run_all's pool) have an empty
        # stack: their spans hang off the innermost span open on the thread
        # running the op
        parent = stack[-1] if stack else (self._op_stack[-1] if self._op_stack else None)
        span = Span(
            id=next(self._ids), name=name, op=self.op_id,
            parent=parent.id if parent else None,
            thread=threading.current_thread().name, start=time.perf_counter(), attrs=attrs,
        )
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, f"pb-{span.id}")
        stack.append(span)
        return span, prev_group

    def _exit(self, span: Span, prev_group: str | None, error: BaseException | None) -> None:
        span.end = time.perf_counter()
        if error is not None:
            span.error = type(error).__name__
        self._stack().pop()
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        span, prev = self._enter(name, attrs)
        error = None
        try:
            yield span
        except BaseException as exc:
            error = exc
            raise
        finally:
            self._exit(span, prev, error)

    @contextlib.contextmanager
    def op(self, kind: str, pass_no: int, index: int):
        """Root span of op ``index`` of pass ``pass_no``; engine spans opened
        anywhere while it is open carry its op id."""
        if not self.active:
            yield None
            return
        self.op_id, self._op_stack = f"{pass_no}.{index}", self._stack()
        try:
            with self.span(f"op.{kind}", kind=kind, pass_no=pass_no) as root:
                yield root
        finally:
            self.op_id, self._op_stack = None, []

    def wrap(self, module, attr: str, name: str, io_dir=None, label=None, also=()) -> None:
        """Replace ``module.attr`` (and the same object bound by name in each
        module of ``also``) by a span-recording wrapper. ``io_dir(args)``
        names the table directory a writer writes, which is walked before
        and after the call; ``label(args)`` returns attributes to record."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            d = io_dir(args) if io_dir else None
            before = table_files(d) if d else None
            with tracer.span(name, **(label(args) if label else {})) as span:
                out = fn(*args, **kwargs)
            if d:
                span.attrs.update(io_delta(before, table_files(d)), table=os.path.basename(d))
            return out

        setattr(module, attr, wrapper)
        for m in also:
            if getattr(m, attr, None) is fn:
                setattr(m, attr, wrapper)

    def harvest_jobs(self) -> None:
        """Attach Spark job and task counts to every span, from the job
        group each span set while open."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for span in self.spans:
            jobs = st.getJobIdsForGroup(f"pb-{span.id}")
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            span.attrs["own_jobs"] = len(jobs)
            span.attrs["own_tasks"] = tasks

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [{**asdict(s), "dur": s.dur} for s in self.spans]
        path.write_text(json.dumps(rows, indent=None, default=str))


def descendants(pid: int) -> list[int]:
    """Every live descendant process of ``pid``, read from /proc."""
    ppids: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppids[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in ppids.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def process_tree_pss(pid: int) -> int:
    """Proportional set size, in bytes, of ``pid`` and all its descendants
    (the Spark driver JVM and the Python workers it forks). PSS splits each
    shared page among the processes mapping it, so forked workers sharing
    their parent's pages are not counted once per worker as RSS would be."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue  # the process exited between the listing and the read
    return total


class MemorySampler:
    """Background sampler of the process tree's peak PSS. One sample takes
    ~5 ms of the client's interpreter lock, which the thread driving Spark
    also needs, so samples are kept sparse."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, process_tree_pss(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, process_tree_pss(os.getpid()))
