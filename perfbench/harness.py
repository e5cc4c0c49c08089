"""Measurement core shared by the workloads.

Everything here observes the program from outside: wall-clock spans around
calls into a layer, Spark's own status store and streaming progress, JMX
and /proc. Nothing in this file imports the program.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / _CLK_TCK)


def log(message: str) -> None:
    """Progress line on stderr, stamped with the process age."""
    print(f"[perfbench {process_age_s():7.2f}s] {message}", file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Kernel peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, pct: int) -> float:
    """Linear-interpolated percentile (inclusive method), 0 when empty."""
    values = sorted(values)
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[pct - 1])


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """In-memory spans at layer boundaries, written out when the run ends.

    Disabled tracers record nothing; the workloads still take their own
    end-to-end timings, which never depend on the tracer.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, end: float, request: str | None = None):
        """Record a span measured elsewhere (another thread's timings)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, None, request))

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@dataclass
class Result:
    """What one run reports: correctness, attempt counts and metrics."""

    correct: bool = True
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    exact: dict[str, object] = field(default_factory=dict)

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.correct = False
            self.problems.append(message)


class JvmProbe:
    """Driver-JVM views that work with the UI off: the live status store,
    the status tracker and JMX garbage-collector beans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.pid = self.sc._gateway.proc.pid

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3

    def _stage_list(self):
        gw = self.sc._gateway
        return self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            gw.new_array(self.jvm.double, 0), self.jvm.java.util.ArrayList(),
        )

    def stage_totals(self, stage_ids) -> dict[int, dict[str, float]]:
        """Per-stage totals for the given stage ids, skipped stages left out.
        The live store lists newest first and evicts past ~1000 stages, so
        read it soon after the stages ran."""
        wanted = set(stage_ids)
        oldest = min(wanted, default=0)
        out: dict[int, dict[str, float]] = {}
        stages = self._stage_list()
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid < oldest:
                break
            if sid not in wanted or s.status().toString() == "SKIPPED":
                continue
            t = out.setdefault(sid, dict(tasks=0, run_s=0.0, gc_s=0.0, shuffle_write=0,
                                         spill=0, input_bytes=0))
            t["tasks"] += s.numTasks()
            t["run_s"] += s.executorRunTime() / 1e3
            t["gc_s"] += s.jvmGcTime() / 1e3
            t["shuffle_write"] += s.shuffleWriteBytes()
            t["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            t["input_bytes"] += s.inputBytes()
        return out

    def group_jobs_stages(self, group: str) -> tuple[int, list[int]]:
        """(number of jobs, their stage ids) for one job group."""
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            stage_ids += list(info.stageIds) if info else []
        return len(jobs), stage_ids

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb() + vm_hwm_mb(self.pid)


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM and wait until it has exited.

    The JVM exits when its stdin closes; it takes its Python workers down
    with it.
    """
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
