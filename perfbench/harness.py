"""Measurement plumbing shared by the workloads: the op log, latency
statistics, the in-memory span tracer, Spark's own per-op counters, process
memory and the run record."""

from __future__ import annotations

import json
import os
import platform
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples above it. Up to 21 samples that percentile would not
    lie above the median, so the maximum is reported instead, with zero
    samples beyond it."""
    if not values:
        return 0.0, 0.0, 0
    xs = sorted(values)
    n = len(xs)
    if n <= 21:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


@dataclass
class Op:
    """One client request: a registered query, a mutation or a carryover call."""

    name: str
    kind: str  # "read", "write" or "stream"
    latency: float


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans kept in memory, one per layer call, written out at the end.
    Disabled, every call is a no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        s = Span(name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its children cover."""
        out = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def op_gap(self, latencies: dict[int, float]) -> float:
        """Largest |sum of an op's self times - the op's measured latency|."""
        total: dict[int, float] = defaultdict(float)
        for s, t in zip(self.spans, self.self_times()):
            if s.op is not None:
                total[s.op] += t
        return max((abs(total[k] - v) for k, v in latencies.items() if k in total), default=0.0)

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, t in zip(self.spans, selfs):
                f.write(json.dumps({**asdict(s), "self": t}) + "\n")


class SparkCounters:
    """Spark's own counters for the jobs of one op, found through the op's
    job group: jobs and stages from ``statusTracker``, task, byte, CPU and
    GC totals from the status store (readable with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()  # noqa: SLF001

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "tasks", "shuffle_bytes", "input_bytes", "cpu_s", "gc_s"), 0.0
        )
        stages: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage planned but never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numTasks()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["input_bytes"] += sd.inputBytes()
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def peak_rss_mb() -> float:
    """Sum of peak resident sets (VmHWM) of this process and every live
    descendant: the Spark JVM, the Python worker daemon and its workers."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under path."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def run_record(seed: int, cpus: int, loadavg: tuple[float, float], spark) -> dict:
    return {
        "seed": seed,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": cpus,
        "loadavg_1m_at_start": loadavg[0],
        "loadavg_5m_at_start": loadavg[1],
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),  # noqa: SLF001
        "python": platform.python_version(),
    }
