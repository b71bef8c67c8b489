"""Measurement helpers of the CDC ingest benchmark: percentiles, host
fitting, memory high-water marks, the span tracer and the Spark
status-store counters. Nothing here imports `silk_spark`, so the
self-tests can exercise it without a Spark session."""

from __future__ import annotations

import math
import os
import resource
import statistics
import time
from contextlib import contextmanager

# a percentile is reported only if at least this many samples lie above it
MIN_BEYOND = 10


def percentile(values: list[float], q: float, or_max: bool = False) -> dict:
    """Nearest-rank `q`-th percentile (0 < q < 100) of `values`.

    Unless at least MIN_BEYOND samples lie strictly above the chosen
    rank, raises ValueError, or with `or_max` returns the largest
    sample marked {"stat": "max"}. The median is always reported.
    Returns {"value", "n"} so every caller carries the sample count
    along with the number."""
    n = len(values)
    if n == 0:
        raise ValueError("percentile of no samples")
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    if q == 50:
        return {"value": statistics.median(values), "n": n}
    rank = math.ceil(q / 100 * n)  # 1-based nearest rank
    if n - rank < MIN_BEYOND:
        if or_max:
            return {"value": max(values), "n": n, "stat": "max"}
        raise ValueError(
            f"p{q:g} of {n} samples has {n - rank} beyond it; needs {MIN_BEYOND}"
        )
    return {"value": sorted(values)[rank - 1], "n": n}


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def total_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 4.0


def driver_memory_gb(total_gb: float) -> int:
    """A quarter of the host's memory, 1..4 GB: the program's 48g
    default would exceed small hosts, and the table here is small."""
    return max(1, min(4, int(total_gb // 4)))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of process `pid` (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """Peak RSS of the driver JVM and of this Python process, in MB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return (vm_hwm_mb(jvm_pid) if jvm_pid else 0.0), own


class Tracer:
    """In-memory spans: name, start, end, parent span and batch id.

    `enabled` may be toggled between batches; while it is off,
    `span()` records nothing and costs one attribute read."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.batch: str | None = None
        self._stack: list[int] = []
        # called at span entry with the span; returns a callable that
        # the span's exit calls
        self.on_enter = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "batch": self.batch,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        restore = self.on_enter(rec) if self.on_enter else None
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if restore:
                restore()

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part covered by its direct children
        (children run sequentially on the one driver thread)."""
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - kids

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


class StageCounters:
    """Task counters from the session's status store, attributed to
    the job group that was current when each job ran.

    Groups are "<batch>|<span>"; `Tracer` sets them at span entry so
    every Spark job lands under the innermost open span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def collect(self) -> list[dict]:
        """One record per job: group and the summed counters of its
        completed stages."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gateway = self.sc._gateway
        stages = {}
        no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        it = store.stageList(None, False, False, no_quantiles, None).iterator()
        while it.hasNext():
            s = it.next()
            if s.status().toString() != "COMPLETE":
                continue
            stages[s.stageId()] = {
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "shuffle_write": s.shuffleWriteBytes(),
            }
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            ids = j.stageIds()
            mine = [stages[ids.apply(i)] for i in range(ids.length()) if ids.apply(i) in stages]
            jobs.append(
                {
                    "group": group,
                    "tasks": sum(s["tasks"] for s in mine),
                    "run_ms": sum(s["run_ms"] for s in mine),
                    "shuffle_write": sum(s["shuffle_write"] for s in mine),
                }
            )
        return jobs
