"""Tracing for the benchmark's traced run (``--trace 1``).

Spans (name, start, end, parent, thread) are recorded by wrapping the
public functions and methods of each layer from outside the program,
kept in memory and written as JSON when the run ends. Spark work under
each operation is read from the Spark driver's status store: the jobs of an
operation are the job ids that appeared between its start and its end
(the listener bus is drained at both ends), never the per-job-group
sums the runner attaches to ``MigrationResult.spark_metrics``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

# (module, class or None, attribute, span name): a class entry wraps a
# method, a None entry a module attribute. runner.run_migration is the
# runner's own binding of the executor function, so runs inside
# run_pipeline are seen too.
WRAPPED = [
    ("a2b_spark.exec.runner", None, "run_pipeline", "runner.run_pipeline"),
    ("a2b_spark.exec.runner", None, "run_migration", "executor.run_migration"),
    ("a2b_spark.exec.executor", None, "run_migration", "executor.run_migration"),
    ("a2b_spark.exec.executor", None, "prepare", "executor.prepare"),
    ("a2b_spark.mapping.store", "MappingStore", "load", "mapping.load"),
    ("a2b_spark.mapping.store", "MappingStore", "merge", "mapping.merge"),
    ("a2b_spark.exec.references", "ReferenceStore", "resolve", "references.resolve"),
    ("a2b_spark.storage.table", "VersionedParquetTable", "merge", "table.merge"),
    ("a2b_spark.storage.table", "VersionedParquetTable", "delete_keys", "table.delete_keys"),
    ("a2b_spark.storage.table", "VersionedParquetTable", "overwrite", "table.overwrite"),
    ("a2b_spark.storage.table", "VersionedParquetTable", "compact", "table.compact"),
    ("a2b_spark.storage.table", "VersionedParquetTable", "read", "table.read"),
    ("a2b_spark.storage.table", "VersionedParquetTable", "read_pruned", "table.read"),
    ("a2b_spark.storage.stats", None, "build_version_stats", "stats.harvest"),
]


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans while ``enabled``. The wrappers are installed for
    the whole traced run; the warm pass goes through them without
    recording."""

    def __init__(self, spark):
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.current_thread()
        self._main_stack: list[dict] = []
        self._local.stack = self._main_stack
        self._lock = threading.Lock()
        self._saved: list[tuple] = []
        self._streams: list = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        # a span opened on a worker thread (the runner's parallel
        # levels) hangs under the main thread's innermost open span
        outer = stack or (self._main_stack if threading.current_thread() is not self._main else [])
        rec = {
            "id": next(self._ids),
            "parent": outer[-1]["id"] if outer else None,
            "name": name,
            "thread": threading.get_ident(),
            "start": time.time(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and name == "executor.run_migration":
                    rec["migration"] = out.migration
                    rec["rows_in"] = out.rows_in
                    rec["rows_written"] = out.rows_written
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, cls, attr, name in WRAPPED:
            owner = importlib.import_module(mod_name)
            if cls:
                owner = getattr(owner, cls)
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))
        from a2b_spark.storage.table import VersionedParquetTable
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        commit = VersionedParquetTable._commit
        self._saved.append((VersionedParquetTable, "_commit", commit))

        def traced_commit(table, version, *args, **kwargs):
            if not self.enabled:
                return commit(table, version, *args, **kwargs)
            # measured before the commit: its vacuum may drop the base
            # version and with it the second link of a reused file
            t0 = time.perf_counter()
            new, total = _rewrite_bytes(os.path.join(table.path, version))
            spent = time.perf_counter() - t0
            with self.span("table.commit", new_bytes=new, total_bytes=total):
                commit(table, version, *args, **kwargs)
            with self._lock:
                self.own_s += spent

        VersionedParquetTable._commit = traced_commit

        start = DataStreamWriter.start
        self._saved.append((DataStreamWriter, "start", start))

        def traced_start(writer, *args, **kwargs):
            q = start(writer, *args, **kwargs)
            if self.enabled:
                self._streams.append(q)
            return q

        DataStreamWriter.start = traced_start

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def take_streams(self) -> float:
        """Sum of ``triggerExecution`` over the progress of every stream
        started since the last call, in seconds."""
        t0 = time.perf_counter()
        total = 0.0
        for q in self._streams:
            for p in q.recentProgress:
                total += p.durationMs.get("triggerExecution", 0) / 1000.0
        self._streams.clear()
        self.own_s += time.perf_counter() - t0
        return total

    # ------------------------------------------------------- spark jobs
    def max_job_id(self) -> int:
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        top = jobs.apply(0).jobId() if jobs.size() else -1
        self.own_s += time.perf_counter() - t0
        return top

    def jobs_between(self, lo: int, hi: int) -> list[dict]:
        """Jobs with lo < id <= hi, with their stages' counters."""
        out = []
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):  # newest first
            j = jobs.apply(i)
            if j.jobId() <= lo:
                break
            if j.jobId() > hi:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            rec = {
                "id": j.jobId(),
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "failed_tasks": 0,
            }
            ids = j.stageIds()
            for k in range(ids.size()):
                st = self._store.lastStageAttempt(ids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                rec["failed_tasks"] += st.numFailedTasks()
            out.append(rec)
        return out

    # ---------------------------------------------------------- output
    def self_times(self) -> None:
        """Annotate every span with its self time: duration minus the
        part of its interval covered by its child spans."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in children.get(s["id"], [])]
            s["self_s"] = (s["end"] - s["start"]) - union_s([k for k in kids if k[1] > k[0]])

    def dump(self, path: str, extra: dict) -> None:
        self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": sorted(self.spans, key=lambda s: s["start"])}, f, indent=1)

    def total(self, name: str) -> float:
        """Wall seconds of the outermost spans called ``name`` (a nested
        span of the same name is not counted twice)."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s):
            p = by_id.get(s["parent"])
            while p is not None:
                if p["name"] == name:
                    return True
                p = by_id.get(p["parent"])
            return False

        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and not nested(s))


def _rewrite_bytes(vdir: str) -> tuple[int, int]:
    """(bytes of data files first written by this commit, bytes of all
    data files in the version). A hardlinked file is reused."""
    new = total = 0
    for root, dirs, files in os.walk(vdir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, f))
            total += st.st_size
            if st.st_nlink == 1:
                new += st.st_size
    return new, total
