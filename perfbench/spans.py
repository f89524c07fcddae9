"""Spans, the Spark event-log reducer and span attribution.

Everything here is a plain function or a small object that the benchmark
creates per run, so each piece can be tested on canned input
(``perfbench/test_spans.py``):

- :class:`Tracer` records spans (name, start, end, parent) around calls
  into the program's layers and tags every Spark job a span starts with
  the job group ``<iteration>/<span name>``.
- :func:`reduce_event_log` folds the task metrics of a Spark event log
  into counters per job group, plus run-level memory peaks.
- :func:`self_times` and :func:`layer_metrics` turn spans and counters into
  per-layer metrics: a span's own wall is its duration minus the part its
  child spans cover, and ``unattributed`` is the iteration wall that no
  named span covers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

ROOT_SPAN = "iteration"
UNATTRIBUTED = "unattributed"

# SQL metrics of the Python runners (mapInPandas, pandas UDFs): bytes sent
# to and returned from the Python workers
PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    name: str
    iteration: int
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans


class NullTracer:
    """Tracing off: the same call sites, no job groups, nothing recorded."""

    @contextlib.contextmanager
    def iteration(self, index: int):
        yield

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def patched(self, targets):
        yield


class Tracer:
    """Records spans of the measured iterations and sets Spark job groups.

    Job groups are thread-local in PySpark, so spans must be opened from
    the thread that runs the layer's jobs (the benchmark's main thread)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._iteration: int | None = None

    def _set_group(self) -> None:
        if self._stack:
            name = self.spans[self._stack[-1]].name
            group = UNATTRIBUTED if name == ROOT_SPAN else name
            self.sc.setJobGroup(f"{self._iteration}/{group}", name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def iteration(self, index: int):
        self._iteration = index
        try:
            with self.span(ROOT_SPAN):
                yield
        finally:
            self._iteration = None

    @contextlib.contextmanager
    def span(self, name: str):
        if self._iteration is None:  # warm-up and checks are not traced
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self._iteration, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group()
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def wrap(self, fn, name):
        """``fn`` wrapped in a span; ``name`` is a span name or a function
        of the call's arguments that returns one."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def patched(self, targets):
        """Replace ``owner.attr`` by a span-wrapped version for the duration.
        ``targets`` holds (owner, attr, span name or naming function)."""
        saved = []
        try:
            for owner, attr, name in targets:
                raw = owner.__dict__[attr]
                saved.append((owner, attr, raw))
                if isinstance(raw, staticmethod):
                    setattr(owner, attr, staticmethod(self.wrap(raw.__func__, name)))
                else:
                    setattr(owner, attr, self.wrap(raw, name))
            yield
        finally:
            for owner, attr, raw in reversed(saved):
                setattr(owner, attr, raw)


def reduce_event_log(lines) -> tuple[dict[str | None, Counter], dict[str, int]]:
    """Fold a Spark event log (JSON lines) into counters per job group.

    Returns ``(counters, peaks)``: ``counters[group]`` sums the task
    metrics of every job whose ``spark.jobGroup.id`` is ``group`` (None for
    jobs outside any group); ``peaks`` holds the run's peak JVM heap and
    Python-worker RSS from the stage executor-metric events."""
    stage_group: dict[int, str | None] = {}
    counters: dict[str | None, Counter] = defaultdict(Counter)
    peaks = {"peak_jvm_heap_bytes": 0, "peak_python_rss_bytes": 0}
    for line in lines:
        # the event name leads each line; skip the large plan events unparsed
        head = line[:64]
        if '"SparkListenerTaskEnd"' in head:
            ev = json.loads(line)
            c = counters[stage_group.get(ev["Stage ID"])]
            info = ev.get("Task Info") or {}
            c["tasks"] += 1
            c["failed_tasks"] += bool(info.get("Failed"))
            for acc in info.get("Accumulables") or ():
                if acc.get("Name") in PYTHON_BYTE_METRICS and acc.get("Update") is not None:
                    c["python_bytes"] += int(acc["Update"])
            m = ev.get("Task Metrics")
            if not m:  # killed tasks carry no metrics
                continue
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            out = m.get("Output Metrics") or {}
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            c["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["output_rows"] += out.get("Records Written", 0)
        elif '"SparkListenerJobStart"' in head:
            ev = json.loads(line)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            counters[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                # a stage reused by a later job is skipped there: its tasks
                # ran under the first job that listed it
                stage_group.setdefault(sid, group)
        elif '"SparkListenerStageExecutorMetrics"' in head:
            em = json.loads(line).get("Executor Metrics") or {}
            peaks["peak_jvm_heap_bytes"] = max(peaks["peak_jvm_heap_bytes"], em.get("JVMHeapMemory", 0))
            peaks["peak_python_rss_bytes"] = max(
                peaks["peak_python_rss_bytes"], em.get("ProcessTreePythonRSSMemory", 0)
            )
    return dict(counters), peaks


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [s.end - s.start - _covered(children[i], s.start, s.end) for i, s in enumerate(spans)]


def layer_metrics(spans: list[Span], counters: dict, names: list[str]) -> dict[str, float]:
    """Per-layer metrics ``<span>.<counter>``, each the median over the
    traced iterations; a span a workload never opens reads 0.

    ``<span>.wall_s`` is the span's self time (summed over its instances in
    the iteration); the other counters come from the job group
    ``<iteration>/<span>``. The root span gives ``iteration.wall_s``, and
    its own uncovered time is ``unattributed.wall_s``."""
    per_iter: dict[int, Counter] = defaultdict(Counter)
    seen: set[tuple[int, str]] = set()
    for s, own in zip(spans, self_times(spans)):
        it = per_iter[s.iteration]
        if s.name == ROOT_SPAN:
            it[f"{ROOT_SPAN}.wall_s"] += s.end - s.start
            name = UNATTRIBUTED
        else:
            name = s.name
        it[f"{name}.wall_s"] += own
        if (s.iteration, name) not in seen:
            seen.add((s.iteration, name))
            for k, v in counters.get(f"{s.iteration}/{name}", {}).items():
                it[f"{name}.{k}"] += v
    iters = list(per_iter.values()) or [Counter()]
    return {n: statistics.median(it.get(n, 0) for it in iters) for n in names}
