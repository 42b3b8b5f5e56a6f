"""Measurement helpers: spans, Spark status-store counters, CPU clocks and
the host calibration probe.

Spans are recorded from the benchmark's own files, around calls into the
package's public functions. They are kept in memory and reported when the
run ends; nothing is written while a workload is being timed.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Every span reports these, in this order (``self_s`` is the median time
# not covered by child spans).
SPAN_FIELDS = ("calls", "s_p50", "self_s", "jobs", "stages", "tasks",
               "cpu_s", "gc_s", "shuffle_w_bytes", "shuffle_r_bytes",
               "spill_bytes")


def calib_s() -> float:
    """Wall time of a fixed single-thread CPU loop. It moves with the
    host's CPU band and with nothing in the program, so a shift between
    two sets of runs that also shows here came from the host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t0


class CpuClock:
    """CPU seconds of the Spark driver JVM plus this Python process (the
    local-mode executors run inside the JVM)."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._bean = jvm.java.lang.management.ManagementFactory.getOperatingSystemMXBean()
        # through the exported interface: the implementation class is not
        # open to reflection
        self._method = jvm.java.lang.Class.forName(
            "com.sun.management.OperatingSystemMXBean"
        ).getMethod("getProcessCpuTime", None)

    def now(self) -> float:
        return self._method.invoke(self._bean, None) / 1e9 + time.process_time()


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records named spans. A disabled tracer records nothing, and the
    workloads then pass the package's own callables unwrapped."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.jobs: list[dict] = []  # per-job totals, see collect_jobs
        self._stack = threading.local()  # foreachBatch runs on its own thread

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        parent = stack[-1] if stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), parent=parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def in_window(self, name: str, start: float, end: float) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and s.start >= start and s.end <= end]

    def self_time(self, span: Span) -> float:
        return (span.end - span.start) - sum(
            self.spans[c].end - self.spans[c].start for c in span.children
        )

    def collect_jobs(self, spark) -> None:
        """Fold the jobs of this session's status store into per-job
        totals. Call before the session stops: a new session starts with
        an empty store, and its job and stage ids start again at 0."""
        jobs, stages = status_store_dump(spark)
        done = {st["stageId"]: st for st in stages if st["status"] == "COMPLETE"}
        owner: dict[int, int] = {}  # a stage runs in the first job listing it
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        for j in jobs:
            if j.get("submissionTime") is None or j.get("completionTime") is None:
                continue
            ran = [done[s] for s in j["stageIds"]
                   if s in done and owner[s] == j["jobId"]]
            self.jobs.append({
                "start": j["submissionTime"] / 1e3, "end": j["completionTime"] / 1e3,
                "jobs": 1, "stages": len(ran),
                "tasks": sum(st["numTasks"] for st in ran),
                "cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
                "gc_s": sum(st["jvmGcTime"] for st in ran) / 1e3,
                "shuffle_w_bytes": sum(st["shuffleWriteBytes"] for st in ran),
                "shuffle_r_bytes": sum(st["shuffleReadBytes"] for st in ran),
                "spill_bytes": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                                   for st in ran),
            })

    def report(self, names: list[str]) -> dict[str, dict]:
        """Per span name: call count, median duration and self time, and
        the Spark work of the jobs its calls issued, summed over the jobs
        :meth:`collect_jobs` gathered. A job belongs to the innermost span
        whose interval holds it."""
        totals = {i: dict.fromkeys(SPAN_FIELDS[3:], 0) for i in range(len(self.spans))}
        for job in self.jobs:
            holders = [i for i, s in enumerate(self.spans)
                       if s.start - 0.002 <= job["start"] and job["end"] <= s.end + 0.002]
            if holders:
                i = min(holders, key=lambda k: self.spans[k].end - self.spans[k].start)
                for k in totals[i]:
                    totals[i][k] += job[k]
        out = {}
        for name in names:
            idx = [i for i, s in enumerate(self.spans) if s.name == name]
            row = dict.fromkeys(SPAN_FIELDS, 0)
            if idx:
                row["calls"] = len(idx)
                row["s_p50"] = statistics.median(
                    self.spans[i].end - self.spans[i].start for i in idx)
                row["self_s"] = statistics.median(
                    self.self_time(self.spans[i]) for i in idx)
                for i in idx:
                    for k, v in totals[i].items():
                        row[k] += v
            out[name] = row
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": self.self_time(s)}
            for s in self.spans
        ]


def status_store_dump(spark) -> tuple[list[dict], list[dict]]:
    """Every job and stage the status store still holds, as dicts (one
    JSON round trip each, not one py4j call per field)."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(jvm.com.fasterxml.jackson.module.scala,
                "DefaultScalaModule$").__getattr__("MODULE$")
    )
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, None)))
    return jobs, stages


def progress_phases(progress: list[dict], wall_s: float) -> dict[str, float]:
    """Per-batch medians of the ``durationMs`` phases of the batches that
    read input, plus the wall time no trigger covered."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]

    def med(*keys: str) -> float:
        return statistics.median(
            sum(p["durationMs"].get(k, 0) for k in keys) / 1e3 for p in batches)

    trig = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1e3
    return {
        "trigger_s": med("triggerExecution"),
        "trigger_max_s": max(p["durationMs"]["triggerExecution"] for p in batches) / 1e3,
        "add_batch_s": med("addBatch"),
        "planning_s": med("queryPlanning"),
        "offsets_s": med("latestOffset", "getBatch"),
        "commit_s": med("walCommit", "commitOffsets"),
        "idle_s": max(wall_s - trig, 0.0),
        "batches": float(len(batches)),
    }
