"""Spans around calls into the engine's layers, recorded from the
benchmark's own files, plus process-level sampling (RSS, CPU time).

A span is ``(id, name, start, end, parent, run)`` plus attributes. Spark
work is attributed to spans through job groups: entering a span sets a
fresh ``spark.jobGroup.id`` on the calling thread and leaving restores the
previous one, so ``statusTracker().getJobIdsForGroup`` yields each span's
own (exclusive) job count. Spans stay in memory and are written out once,
at the end of the run.

Calls the benchmark makes itself (a build, a graph tool call, a curation
operator) are wrapped at the call site. Calls the engine makes
internally are wrapped by replacing the module attribute the engine looks
up at call time (``install``); Spark evaluates lazily, so stage work is
timed where it surfaces, at ``Catalog.commit``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

JOB_GROUP = "spark.jobGroup.id"


class NullTracer:
    """Tracing off: same interface, no bookkeeping."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._op: dict | None = None  # parent of spans opened on pool threads

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        entered = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        with self._lock:
            self._next_id += 1
            span_id = self._next_id
        rec = {
            "id": span_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"perfbench-{self.run_id}-{span_id}",
            **attrs,
        }
        previous_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, rec["group"])
        stack.append(rec)
        rec["start"] = time.time()
        self.add_self(time.perf_counter() - entered)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            leaving = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, previous_group)
            with self._lock:
                self.spans.append(rec)
            self.add_self(time.perf_counter() - leaving)

    def add_self(self, seconds: float) -> None:
        """Count time spent in the tracer's own bookkeeping (spans close on
        the engine's commit threads too)."""
        with self._lock:
            self.self_s += seconds

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        """Top-level span of one workload operation; spans opened on other
        threads while it runs (the engine's parallel commits) hang off it."""
        with self.span(name, **attrs) as rec:
            self._op = rec
            try:
                yield rec
            finally:
                self._op = None

    def finish(self, out_path: str) -> None:
        """Attach Spark job counts to every span and write them out."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            rec["jobs"] = len(tracker.getJobIdsForGroup(rec["group"]))
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec, default=str) + "\n")


def children_index(spans: list[dict]) -> dict:
    index: dict = {}
    for rec in spans:
        index.setdefault(rec["parent"], []).append(rec)
    return index


def descendants(spans: list[dict], root: dict, index: dict | None = None) -> list[dict]:
    index = index or children_index(spans)
    out, todo = [], [root["id"]]
    while todo:
        for child in index.get(todo.pop(), []):
            out.append(child)
            todo.append(child["id"])
    return out


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


# -- instrumentation of engine-internal calls -----------------------------------


def _snapshot_footprint(warehouse: str, table: str, snap_dir: str) -> tuple[int, int]:
    """(rows, bytes) a commit wrote, from the files of its snapshot dir."""
    import pyarrow.parquet as pq

    rows = nbytes = 0
    for root, _dirs, files in os.walk(os.path.join(warehouse, table, snap_dir)):
        for f in files:
            path = os.path.join(root, f)
            nbytes += os.path.getsize(path)
            if f.endswith(".parquet"):
                rows += pq.read_metadata(path).num_rows
    return rows, nbytes


def _wrap(tracer: Tracer, name: str, fn):
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    traced.__wrapped__ = fn
    return traced


def install(tracer: Tracer):
    """Wrap the engine's internal layer calls; returns an undo function."""
    from kiwi_spark import pipeline
    from kiwi_spark.sources.catalog import Catalog

    undo = []

    def patch(owner, attr, replacement):
        original = getattr(owner, attr)
        setattr(owner, attr, replacement)
        undo.append((owner, attr, original))

    original_commit = Catalog.commit

    def commit(self, df, table, *args, **kwargs):
        with tracer.span("catalog.commit", table=table) as rec:
            snap = original_commit(self, df, table, *args, **kwargs)
        started = time.perf_counter()
        rec["rows"], rec["bytes"] = _snapshot_footprint(self.warehouse, table, snap["dir"])
        tracer.add_self(time.perf_counter() - started)
        return snap

    patch(Catalog, "commit", commit)
    patch(pipeline, "_commit_search_index",
          _wrap(tracer, "search_index.build", pipeline._commit_search_index))

    def restore():
        for owner, attr, original in reversed(undo):
            setattr(owner, attr, original)

    return restore


# -- process sampling ------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendant_pids(root_pid: int) -> list[int]:
    parent_of = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                parent_of[int(name)] = int(fields[1])
    out, todo = [], [root_pid]
    while todo:
        cur = todo.pop()
        for pid, ppid in parent_of.items():
            if ppid == cur:
                out.append(pid)
                todo.append(pid)
    return out


def tree_usage(root_pid: int) -> tuple[float, float]:
    """(RSS MiB, CPU seconds) of ``root_pid`` and all its descendants."""
    rss_pages = 0
    cpu_ticks = 0
    for pid in [root_pid, *descendant_pids(root_pid)]:
        fields = _stat_fields(pid)
        if not fields:
            continue
        # after the command: state=0 ppid=1 ... utime=11 stime=12, then the
        # same for reaped children (exited Python workers)=13,14 ... rss=21
        cpu_ticks += sum(int(f) for f in fields[11:15])
        rss_pages += int(fields[21])
    return rss_pages * _PAGE_KB / 1024.0, cpu_ticks / _CLK_TCK


class RssSampler:
    """Background thread recording the peak RSS of a process tree."""

    def __init__(self, root_pid: int, interval: float = 0.5) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss, _cpu = tree_usage(self.root_pid)
            self.peak_mb = max(self.peak_mb, rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        rss, _cpu = tree_usage(self.root_pid)
        self.peak_mb = max(self.peak_mb, rss)
