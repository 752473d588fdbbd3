"""Spans and counters recorded from outside the engine.

``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
computes each layer's self time; a disabled tracer records nothing, so the
untraced runs that give the end-to-end metrics pay no tracing cost.
``SparkCounters`` reads Spark's own bookkeeping after an operation: the core
status store (jobs, stages, tasks, shuffle, spill, peak memory, by job group)
and the SQL status store (final plan nodes, Python worker metrics, by
execution id).
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


# layer of the spans around the benchmark's own untimed measuring; they are
# subtracted from the spans that contain them and have no self time reported
UNTIMED = "probe"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id = "setup"
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {"id": len(self.spans), "name": name,
               "parent": stack[-1] if stack else None, "run": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record an interval measured by hand, as a child of the open span."""
        if self.enabled:
            stack = self._stack()
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": stack[-1] if stack else None,
                               "run": self.run_id, "start": start, "end": end})

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs each call in a span
        (and hands the result to ``on_result``).  Missing attributes are
        skipped, so a renamed engine function only loses its span.
        ``unwrap_all`` restores the originals."""
        if not self.enabled or not hasattr(owner, attr):
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self, runs: set[str]) -> dict[str, float]:
        """Seconds of self time per layer (the span-name prefix) over the
        spans of ``runs``: a span's duration minus its children's."""
        spans = [s for s in self.spans if s["run"] in runs and s["end"] is not None]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            if layer != UNTIMED:
                out[layer] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def total(self, name: str, runs: set[str]) -> float:
        """Seconds spent in spans called ``name`` over ``runs``, counting a
        span nested in another of the same name once and leaving out the
        ``probe`` spans (the benchmark's own untimed measuring) inside it."""
        by_id = {s["id"]: s for s in self.spans}

        def ancestors(s):
            p = s["parent"]
            while p is not None:
                yield by_id[p]
                p = by_id[p]["parent"]

        probe_time = defaultdict(float)
        for s in self.spans:
            if s["name"].startswith(f"{UNTIMED}.") and s["end"] is not None:
                for a in ancestors(s):
                    probe_time[a["id"]] += s["end"] - s["start"]
        return sum(s["end"] - s["start"] - probe_time[s["id"]] for s in self.spans
                   if s["name"] == name and s["run"] in runs and s["end"] is not None
                   and not any(a["name"] == name for a in ancestors(s)))


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"([0-9.]+)\s*([A-Za-z]+)")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to run Python workers": "python.worker_s",
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: '10.0 MiB', '692 ms', or the
    'total (min, med, max ...)\\n<total> (...)' form of multi-task metrics."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_RE.search(body)
    if not m:
        return 0.0
    value, unit = float(m.group(1)), m.group(2)
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


class SparkCounters:
    """Accumulates Spark-side counters for operations of the current pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.counts: dict[str, float] = defaultdict(float)
        self.streams: list = []  # streaming queries started since take_streams
        self._last_exec = self.last_execution_id()

    def last_execution_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(int(n) - 1, 1).apply(0).executionId()

    def add_construct_jobs(self, group: str) -> None:
        """Jobs launched while a builder constructed its DataFrame."""
        self.counts["catalog.construct_jobs"] += len(
            self.sc.statusTracker().getJobIdsForGroup(group))

    def add_jobs(self, group: str) -> None:
        """Jobs of one job group with the stage, task, shuffle, spill and
        memory totals of the stages that ran (skipped stages excluded)."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        self.counts["spark.jobs"] += len(jobs)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the status store
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                self.counts["spark.stages"] += 1
                self.counts["spark.tasks"] += sd.numTasks()
                self.counts["spark.shuffle_bytes"] += sd.shuffleWriteBytes()
                self.counts["spark.spill_bytes"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled())
                self.counts["spark.peak_mem_bytes"] += sd.peakExecutionMemory()
                if sd.shuffleReadBytes() > 0:
                    self.counts["spark.shuffle_partitions"] += sd.numTasks()

    def add_executions(self) -> None:
        """Scan SQL executions started since the last call: final-plan join
        strategies, Python exec nodes and Python worker metrics."""
        last = self.last_execution_id()
        for eid in range(self._last_exec + 1, last + 1):
            opt = self.sql.execution(eid)
            if opt.isEmpty():
                continue
            try:
                nodes = self.sql.planGraph(eid).allNodes()
            except Exception:  # plan graph not recorded for this execution
                continue
            wanted: dict[int, str] = {}
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                if "BroadcastHashJoin" in name:
                    self.counts["spark.bhj_joins"] += 1
                elif "SortMergeJoin" in name:
                    self.counts["spark.smj_joins"] += 1
                if _PYTHON_NODE.search(name):
                    self.counts["python.nodes"] += 1
                    metrics = node.metrics()
                    for k in range(metrics.size()):
                        m = metrics.apply(k)
                        key = _PYTHON_METRICS.get(m.name())
                        if key:
                            wanted[m.accumulatorId()] = key
            if wanted:
                values = self.sql.executionMetrics(eid)
                for acc, key in wanted.items():
                    if values.contains(acc):
                        self.counts[key] += parse_sql_metric(values.apply(acc))
        self._last_exec = max(self._last_exec, last)

    def take(self) -> dict[str, float]:
        out, self.counts = dict(self.counts), defaultdict(float)
        return out

    def take_streams(self) -> dict[str, float]:
        """Micro-batch totals from the ``StreamingQueryProgress`` of the
        streaming queries recorded since the last call (stopped ones too)."""
        out: dict[str, float] = defaultdict(float)
        for query in self.streams:
            for p in query.recentProgress:
                ms = p["durationMs"]
                out["streaming.batches"] += 1
                out["streaming.data_batches"] += p["numInputRows"] > 0
                out["streaming.trigger_s"] += ms.get("triggerExecution", 0) / 1000
                out["streaming.add_batch_s"] += ms.get("addBatch", 0) / 1000
                out["streaming.plan_s"] += ms.get("queryPlanning", 0) / 1000
                out["streaming.commit_s"] += (
                    ms.get("walCommit", 0) + ms.get("commitOffsets", 0)) / 1000
                out["streaming.offset_s"] += ms.get("latestOffset", 0) / 1000
                for op in p.get("stateOperators", []):
                    out["streaming.state_rows"] = op.get("numRowsTotal", 0)
                    out["streaming.state_bytes"] = op.get("memoryUsedBytes", 0)
        self.streams.clear()
        return dict(out)


def plan_phases(df) -> dict[str, float]:
    """Force physical planning of ``df`` and return Catalyst's own phase
    times (seconds) from ``queryExecution().tracker()``, plus the analyzed
    plan's node count."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[str(kv._1())] = kv._2().durationMs() / 1000.0
    return {
        "spark.analyze_s": phases.get("analysis", 0.0),
        "spark.optimize_s": phases.get("optimization", 0.0),
        "spark.physical_s": phases.get("planning", 0.0),
        "catalog.plan_nodes": len(qe.analyzed().numberedTreeString().splitlines()),
    }


def pinned_blocks(spark) -> tuple[int, int]:
    """(persisted RDD count, their cached bytes in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    nbytes = 0
    for info in jsc.sc().getRDDStorageInfo():
        nbytes += info.memSize() + info.diskSize()
    return n, nbytes


def release_blocks(spark) -> None:
    """Unpersist every persisted RDD (pinned localCheckpoint blocks)."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.rdd().unpersist(False)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's hidden and
    metadata files."""
    files = nbytes = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in names:
            if not name.startswith(("_", ".")):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, name))
    return files, nbytes
