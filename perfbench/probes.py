"""Measurement helpers that observe the engine from outside.

- ``Tracer``: spans (name, start, end, parent) held in memory and
  written out once, when the run ends.
- ``SparkProbe``: per-block scheduling counts and stage metrics from
  the status tracker and the application status store, Catalyst rule and
  phase times from a query's tracker, and scan-row counts from its final plan.
- Host and process probes: a fixed CPU loop, ``/proc/stat`` steal time,
  and CPU time and peak RSS of this process tree (the Spark JVM and its
  Python workers are children of this process).

None of these values normalizes an end-to-end metric; they are recorded
to explain one.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span recorder.  A span is (id, parent, name, start,
    end, attrs) with times in seconds from ``time.perf_counter``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. a Spark progress
        report); the parent defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": start, "end": end, "attrs": attrs}
        self.spans.append(rec)
        return rec

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, cur = 0.0, span["start"]
        for c in sorted(self.children(span), key=lambda s: s["start"]):
            lo, hi = max(c["start"], cur), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        return (span["end"] - span["start"]) - covered

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- host and process ------------------------------------------------------

def calib_ms(n: int = 200_000) -> float:
    """Wall time of a fixed pure-Python loop: host speed between passes."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return (time.perf_counter() - t0) * 1000.0


def steal_s() -> float:
    """Cumulative steal time of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of a process and its live descendants."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
            total += int(v[11]) + int(v[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of per-process peak RSS (VmHWM) over the process tree."""
    total_kb = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# --- Spark -----------------------------------------------------------------

_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec", "InMemoryTableScanExec",
               "RowDataSourceScanExec")


class SparkProbe:
    """Reads the engine's own bookkeeping through its public status APIs."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._gw = self.sc._gateway
        self._groups: dict[str, list[int]] = {}
        self._dag = self.sc._jsc.sc().dagScheduler()

    @contextmanager
    def group(self, name: str):
        """Record as group ``name`` the Spark jobs started inside the
        block: job ids are sequential, so they are the ids handed out
        during it.  No ``setJobGroup``, so traced jobs are submitted
        exactly as untraced ones."""
        first = self._dag.nextJobId()
        try:
            yield name
        finally:
            self._groups[name] = list(range(first, self._dag.nextJobId()))

    def jobs(self, group: str) -> list[int]:
        return self._groups.get(group, [])

    def group_stats(self, groups: list[str]) -> dict:
        """Jobs, stages that ran, tasks, executor CPU, JVM GC time in
        tasks, shuffle bytes and spill bytes over the jobs of ``groups``."""
        tracker = self.sc.statusTracker()
        jobs = [j for g in groups for j in self.jobs(g)]
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "cpu_ms": 0.0, "gc_ms": 0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        empty_list = self._gw.jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(sid, False, empty_list, False, no_quantiles)
            except Exception:  # noqa: BLE001 — stage evicted from the store
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped stage: its output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    @staticmethod
    def catalyst(df) -> tuple[float, dict[str, tuple[float, float]]]:
        """Catalyst time of the DataFrame's query execution, in ms, and its
        optimization and planning phases as (start, end) epoch seconds.

        A phase measured more than once keeps its first start and last end,
        so the analysis phase (re-entered lazily) is not an interval; rule
        time (analyzer and optimizer rules) plus the planning phase is."""
        tracker = df._jdf.queryExecution().tracker()
        rules_ns = 0
        it = tracker.rules().values().iterator()
        while it.hasNext():
            rules_ns += it.next().totalTimeNs()
        phases = {}
        it = tracker.phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in ("optimization", "planning"):
                phases[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
        planning = phases.get("planning", (0.0, 0.0))
        return rules_ns / 1e6 + (planning[1] - planning[0]) * 1000, phases

    @staticmethod
    def scan_rows(df) -> int:
        """Rows output by scan nodes of the DataFrame's executed plan
        (final adaptive plan; reused exchanges counted once)."""
        total = 0
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue
            if cls in _SCAN_NODES:
                metric = node.metrics().get("numOutputRows")
                if metric.isDefined():
                    total += metric.get().value()
            kids = node.children()
            todo += [kids.apply(i) for i in range(kids.size())]
            subs = node.subqueries()
            todo += [subs.apply(i) for i in range(subs.size())]
        return total
