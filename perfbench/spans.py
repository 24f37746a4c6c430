"""Spans, Spark counters and memory sampling for the benchmark.

Spans are recorded only here, in the benchmark's own files, around each
call the workloads make into a layer of the package.  A span has a name,
a start, an end, its parent span and the trace id of the query, batch or
job it belongs to.  Spark jobs are tagged with the span that launched them
by setting the calling thread's job group; after each operation the
counters of those jobs' stages are read from Spark's status store and
attached to the span.  With tracing off every call is a no-op, so the
end-to-end run pays nothing for it.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "span_id", "parent", "trace_id", "start", "end",
                 "attrs", "stages", "jobs", "children")

    def __init__(self, name, span_id, parent, trace_id, start):
        self.name = name
        self.span_id = span_id
        self.parent = parent
        self.trace_id = trace_id
        self.start = start
        self.end = None
        self.attrs: dict = {}
        self.stages: list[dict] = []
        self.jobs = 0
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        return self.dur - _covered(
            [(c.start, c.end) for c in self.children], self.start, self.end
        )

    def stage_run_s(self) -> float:
        """Time within the span during which any of its own or its
        descendants' stages was running."""
        iv = [(s["t0"], s["t1"]) for s in self.all_stages() if s["t1"] is not None]
        return _covered(iv, self.start, self.end)

    def all_stages(self) -> list[dict]:
        out = list(self.stages)
        for c in self.children:
            out.extend(c.all_stages())
        return out

    def total(self, key: str) -> int:
        return sum(s[key] for s in self.all_stages())

    def to_json(self) -> dict:
        return {
            "name": self.name, "id": self.span_id, "parent": self.parent,
            "trace": self.trace_id, "start": round(self.start, 6),
            "end": round(self.end, 6), "self_s": round(self.self_time(), 6),
            "jobs": self.jobs, "stages": len(self.stages),
            "tasks": sum(s["tasks"] for s in self.stages),
            "shuffle_bytes": sum(s["shuffle_write"] for s in self.stages),
            **self.attrs,
        }


def _covered(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Per-run span recorder.  ``enabled=False`` makes every method a
    no-op returning immediately."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.roots: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # wall clock offset: Spark's status store reports epoch millis,
        # spans use perf_counter; one offset converts between them
        self._epoch_off = time.time() - time.perf_counter()

    def attach(self, spark) -> None:
        self.spark = spark

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        sp = Span(name, sid, parent.span_id if parent else None,
                  trace_id or (parent.trace_id if parent else f"t{sid}"),
                  time.perf_counter())
        stack.append(sp)
        self._set_group(sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1].span_id if stack else None)
            if parent is not None:
                parent.children.append(sp)
            else:
                self._collect(sp)
                with self._lock:
                    self.roots.append(sp)

    def _set_group(self, sid) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", f"pb-{sid}" if sid else None)

    def _collect(self, root: Span) -> None:
        """Attach Spark job/stage counters to every span of a finished
        root span.  Waits for Spark's listener bus so the status store
        has seen every job the spans launched."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - a slow bus only delays counters
            pass
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        todo = [root]
        while todo:
            sp = todo.pop()
            todo.extend(sp.children)
            job_ids = tracker.getJobIdsForGroup(f"pb-{sp.span_id}")
            sp.jobs = len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = self._stage(store, sid)
                    if st is not None:
                        sp.stages.append(st)

    def _stage(self, store, sid: int) -> dict | None:
        try:
            d = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - evicted or never-run stage
            return None
        if not d.submissionTime().isDefined():
            return None  # skipped stage (shuffle output reused)
        t0 = d.submissionTime().get().getTime() / 1000.0 - self._epoch_off
        t1 = (d.completionTime().get().getTime() / 1000.0 - self._epoch_off
              if d.completionTime().isDefined() else None)
        return {
            "t0": t0, "t1": t1, "tasks": d.numTasks(),
            "shuffle_write": d.shuffleWriteBytes(),
            "records_read": d.inputRecords() + d.shuffleReadRecords(),
            "run_ms": d.executorRunTime(),
        }

    # ---- summaries -----------------------------------------------------

    def spans(self) -> list[Span]:
        out, todo = [], list(self.roots)
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(sp.children)
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans() if s.name == name]

    def self_times(self) -> dict[str, float]:
        agg: dict[str, float] = {}
        for sp in self.spans():
            agg[sp.name] = agg.get(sp.name, 0.0) + sp.self_time()
        return agg

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({
                **extra,
                "self_s_by_span": {k: round(v, 6) for k, v in
                                   sorted(self.self_times().items())},
                "spans": [s.to_json() for s in sorted(self.spans(),
                                                      key=lambda s: s.start)],
            }, fh, indent=1)


# spans for the operations a traced run leaves untraced
OFF = Tracer(False)


def store_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a store directory."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def median_or_zero(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Memory of the driver over a measured phase, sampled every 50 ms by a
    background thread.

    ``peak_mb`` is the gated figure: the JVM heap in use right after its
    latest garbage collection (summed over the heap pools, as the
    collector reports it) plus the Python driver's resident set, at its
    highest.  What the run keeps reachable moves it, not the heap's
    configured size.  ``peak_rss_mb`` is the resident set of the driver JVM
    plus the Python driver, printed for reference: once the collector has
    touched the whole heap it mostly reflects the configuration."""

    def __init__(self, spark, jvm_pid: int):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.heap = {str(p.getName()) for p in mf.getMemoryPoolMXBeans()
                     if p.getType().name() == "HEAP"}
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.seen = [-1] * len(self.gcs)
        self.jvm_pid = jvm_pid
        self.live_kb = 0
        self.peak_kb = 0
        self.peak_rss_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _after_gc(self) -> None:
        for i, gc in enumerate(self.gcs):
            n = gc.getCollectionCount()
            if n == self.seen[i]:
                continue
            self.seen[i] = n
            info = gc.getLastGcInfo()
            if info is not None:
                after = info.getMemoryUsageAfterGc()
                self.live_kb = sum(after[k].getUsed() for k in after if k in self.heap) // 1024

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self._after_gc()
            py_kb = _rss_kb(me)
            self.peak_kb = max(self.peak_kb, py_kb + self.live_kb)
            self.peak_rss_kb = max(self.peak_rss_kb, py_kb + _rss_kb(self.jvm_pid))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss_kb / 1024.0
