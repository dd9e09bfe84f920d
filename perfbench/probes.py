"""Measurements taken from outside the program: /proc process
accounting and Spark's in-process status store (which keeps job and
stage data with the UI off)."""

from __future__ import annotations

import json
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
    except OSError:
        pass
    return kids


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of `root` and all its descendants,
    counting reaped children through cutime/cstime (Spark's Python
    worker daemon forks and reaps its workers)."""
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stack.extend(_children(pid))
    return total / _TICK


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open(f"/proc/{os.getpid()}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), a
    record of machine weather during a measurement."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def calibration_s() -> float:
    """Seconds a fixed single-threaded Python loop takes: the same work
    on every run, so it moves only with the machine's speed."""
    t0 = time.perf_counter()
    sum(i * i % 7 for i in range(3_000_000))
    return time.perf_counter() - t0


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class StatusStore:
    """Jobs, stages and cached RDDs of one SparkContext, read through
    the JVM AppStatusStore and serialized to JSON in one call each."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._jvm = jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict[int, dict]:
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        rows = self._json(self._store.stageList(None, False, False, no_quantiles, None))
        return {s["stageId"]: s for s in rows}

    def cached_mb(self) -> tuple[float, float]:
        """(memory MB, disk MB) held by persisted/checkpointed RDDs."""
        rdds = self._json(self._store.rddList(True))
        mem = sum(r.get("memoryUsed", 0) for r in rdds)
        disk = sum(r.get("diskUsed", 0) for r in rdds)
        return mem / 2**20, disk / 2**20

    def settle(self) -> None:
        """Wait (at most 10 s) until the listener bus has delivered every
        job end."""
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            if all(j["status"] != "RUNNING" for j in self.jobs()):
                return
            time.sleep(0.05)


COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "spill_mb",
    "shuffle_write_mb",
)


def job_counters(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Sum Spark's own counters over `jobs` (each stage counted once)."""
    out = dict.fromkeys(COUNTERS, 0.0)
    out["jobs"] = len(jobs)
    seen: set[int] = set()
    for job in jobs:
        for sid in job["stageIds"]:
            st = stages.get(sid)
            if sid in seen or st is None or st["status"] != "COMPLETE":
                continue
            seen.add(sid)
            out["tasks"] += st["numCompleteTasks"]
            out["executor_run_s"] += st["executorRunTime"] / 1e3
            out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["gc_s"] += st["jvmGcTime"] / 1e3
            out["spill_mb"] += st["diskBytesSpilled"] / 2**20
            out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
    return out
