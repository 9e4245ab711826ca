"""Measurement plumbing shared by the workloads: span tracer, Spark
status-store reader, order statistics and host context probes.

Nothing here imports the library; the workloads hand it a live
SparkSession.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written once at
    exit. Disabled tracers cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._t0 = time.perf_counter()

    def begin_op(self) -> None:
        """Spans opened from here on belong to a new operation."""
        if self.enabled:
            self.op_id = (self.op_id or 0) + 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total span time minus the time covered by its
        direct children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_s": self.self_times(), **extra},
                f,
                indent=1,
            )


class StatusReader:
    """Job-group-scoped Spark counters from ``sc.statusTracker()`` and the
    app status store; both work with ``spark.ui.enabled=false``.

    A scope owns the jobs tagged with its job group, the jobs of the
    scopes nested in it, the groups it adopts (a streaming query tags its
    jobs with its run id) and any ungrouped job submitted while it was
    open. The last set catches jobs the library starts from its own worker
    threads, which do not inherit the group; it is exact because the
    benchmark is the only caller."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self._n = 0
        self._open: list[dict] = []

    @contextmanager
    def scope(self, label: str):
        self._n += 1
        me = {"groups": [f"perfbench-{self._n}-{label}"], "jobs": set()}
        before = set(self.tracker.getJobIdsForGroup(None))
        self._open.append(me)
        self.sc.setJobGroup(me["groups"][0], label)
        out: dict = {}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            wall = time.perf_counter() - t0
            self._open.pop()
            if self._open:
                parent = self._open[-1]["groups"][0]
                self.sc.setJobGroup(parent, parent)
            else:
                self.sc._jsc.clearJobGroup()
            self.bus.waitUntilEmpty()
            jobs = me["jobs"] | (set(self.tracker.getJobIdsForGroup(None)) - before)
            for g in me["groups"]:
                jobs.update(self.tracker.getJobIdsForGroup(g))
            if self._open:
                self._open[-1]["jobs"].update(jobs)
            out.update(self.counters(jobs))
            out["wall_s"] = wall

    def adopt(self, group: str) -> None:
        """Count the jobs of another job group in the innermost scope."""
        if self._open:
            self._open[-1]["groups"].append(group)

    def counters(self, jobs) -> dict:
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "shuffle_write_bytes": 0,
            "executor_run_ms": 0,
            "spill_bytes": 0,
            "task_skew": 0.0,
        }
        slowest = None
        for sid in sorted(stages):
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            run_ms = sd.executorRunTime()
            out["stages"] += 1
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["executor_run_ms"] += run_ms
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if slowest is None or run_ms > slowest[1]:
                slowest = (sid, run_ms, sd.attemptId())
        if slowest is not None:
            out["task_skew"] = self._task_skew(slowest[0], slowest[2])
        return out

    def _task_skew(self, sid: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        opt = self.store.taskSummary(sid, attempt, qs)
        if not opt.isDefined():
            return 0.0
        d = opt.get().executorRunTime()
        med, mx = d.apply(0), d.apply(1)
        return mx / med if med > 0 else 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    every process below it, counting reaped children too: the driver,
    its JVM and the JVM's Python workers. The kernel accounts the steal it
    sees as steal, not as process time, though a loaded host still makes
    the same work take more CPU time."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of JVM ``pid``."""
    ticks = 0
    for t in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = stat[stat.rindex(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_calibration_s(spark, n: int = 100_000_000) -> float:
    """Fixed JVM hash loop (no IO, no shuffle): context for comparing
    runs taken on different hosts or host windows. Not a metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(n).select(F.max(F.xxhash64("id"))).collect()
    return time.perf_counter() - t0
