"""Spans and counters recorded from the benchmark's own side of each call.

The traced run wraps public entry points of the engine, the transaction
log and the query registry with spans (name, start, end, parent).  A
layer's self time is its span minus the time its child spans cover.  Spans
stay in memory and are summarised when the run ends.

Spark work is counted per benchmark operation: each operation runs under
its own job group, and after it returns the listener bus is drained and
the status tracker lists the group's jobs, their stages and completed
tasks.  Codegen compilations, JVM GC time and driver CPU are read as
before/after deltas around each pass.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; inert until ``enabled`` is set."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.label = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "label": self.label}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` (a class's method or an instance's function
        attribute) with a spanning wrapper.  ``name`` is the span name, or a
        callable mapping the call's arguments to one."""
        orig = vars(owner)[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def totals(self, labels: set[str]) -> dict[str, dict[str, float]]:
        """Inclusive and self seconds per span name over spans whose label
        is in ``labels``.  A span nested under a span of the same name is
        counted only through its outermost ancestor."""
        children: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"total": 0.0, "self": 0.0, "calls": 0})
        for i, s in enumerate(self.spans):
            if s["label"] not in labels or s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            acc = out[s["name"]]
            acc["self"] += dur - children[i]
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != s["name"]:
                p = self.spans[p]["parent"]
            if p is None:
                acc["total"] += dur
                acc["calls"] += 1
        return out


def statement_kind(command: str) -> str:
    words = command.split(None, 1)
    return words[0].lower() if words else "empty"


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of Engine, TxLogTable and the query
    registry.  Called only for traced runs."""
    from distributed_database_for_sql_spark.engine import Engine
    from distributed_database_for_sql_spark.queries import registry
    from distributed_database_for_sql_spark.sources.txlog import TxLogTable

    tracer.wrap(
        Engine, "sql",
        lambda self, command, *a, **k: f"engine.sql.{statement_kind(command)}")
    for attr in ("merge_upsert", "update_where", "delete_where", "append",
                 "read"):
        tracer.wrap(TxLogTable, attr, f"txlog.{attr}")
    for spec in registry().values():
        tracer.wrap(spec, "fn", "queries.plan")


class SparkCounters:
    """Per-operation job/stage/task counts and per-pass JVM deltas."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._gc_beans = list(
            self.jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans())
        self._codegen = (self.jvm.org.apache.spark.metrics.source
                         .CodegenMetrics.METRIC_COMPILATION_TIME())
        self._seq = 0

    def begin(self, label: str) -> str:
        self._seq += 1
        group = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def end(self, group: str) -> dict[str, int]:
        """Jobs, stages and completed tasks launched under ``group``."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def jvm_snapshot(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self._gc_beans)
        return {"gc_s": gc_ms / 1000.0,
                "compiles": int(self._codegen.getCount()),
                "py_cpu_s": time.process_time()}


def proc_stat() -> dict[str, float]:
    """Host-wide CPU seconds from /proc/stat: busy and steal."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq = fields[:7]
    steal = fields[7] if len(fields) > 7 else 0
    return {"busy_s": (user + nice + system + irq + softirq) / hz,
            "steal_s": steal / hz}


def canary(reps: int = 5) -> float:
    """Median seconds of a fixed CPU-bound loop: a host-speed probe taken
    before and after each run, independent of the program under test."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t)
    times.sort()
    return times[len(times) // 2]
