"""Counters read from the engine's JVM, Spark's status store and the host.

Spark's job, stage and task counts and peak execution memory repeat
exactly from run to run; process and executor CPU time move with host
contention, but far less than wall time does. Everything that goes
through py4j (the status store, JMX) is read only at the edges of the
timed region, never per operation.
"""

from __future__ import annotations

import json
import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Jvm:
    """Handle on the engine's driver JVM."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self._mx = self.jvm.java.lang.management.ManagementFactory
        mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(
            self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        mapper.registerModule(scala_mod.__getattr__("MODULE$"))
        self._mapper = mapper

    def cpu_ms(self) -> float:
        """utime+stime of the JVM plus this process's own CPU, in ms."""
        with open(f"/proc/{self.pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        t = os.times()
        return (int(f[11]) + int(f[12])) * 1000.0 / _CLK_TCK + (
            t.user + t.system
        ) * 1000.0

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def jmx(self) -> dict:
        """Cumulative JIT and GC milliseconds and Janino compiles."""
        codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return {
            "jit_ms": float(self._mx.getCompilationMXBean().getTotalCompilationTime()),
            "gc_ms": float(
                sum(g.getCollectionTime() for g in self._mx.getGarbageCollectorMXBeans())
            ),
            "codegen_compiles": float(codegen.METRIC_COMPILATION_TIME().getCount()),
        }

    def store(self) -> tuple[list[dict], dict[int, dict]]:
        """All retained jobs, and stages by id, from the status store.

        The listener bus is drained first: the store is filled
        asynchronously, so the last job of an action can still be in
        flight when the action returns. The session raises the retained
        job and stage limits (default 1000) far above what a run
        submits; ``jobs_in`` checks no job was evicted anyway."""
        ssc = self.sc._jsc.sc()
        ssc.listenerBus().waitUntilEmpty()
        st = ssc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(st.jobsList(None)))
        empty = self.jvm.java.util.ArrayList()
        raw = st.stageList(
            empty, False, False, self.sc._gateway.new_array(self.jvm.double, 0), empty
        )
        keep = (
            "stageId", "status", "numCompleteTasks", "executorCpuTime",
            "executorRunTime", "peakExecutionMemory", "shuffleReadBytes",
            "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
            "inputBytes",
        )
        stages = {}
        for s in json.loads(self._mapper.writeValueAsString(raw)):
            if s["status"] == "COMPLETE":
                stages[s["stageId"]] = {k: s[k] for k in keep}
        return jobs, stages


def jobs_in(jobs: list[dict], groups: set[str]) -> list[dict]:
    """The jobs submitted under ``groups``, checked for eviction: job ids
    are sequential, so every id between the first and the last one of a
    region must still be in the store."""
    mine = [j for j in jobs if j.get("jobGroup") in groups]
    if mine:
        lo = min(j["jobId"] for j in mine)
        hi = max(j["jobId"] for j in mine)
        present = {j["jobId"] for j in jobs}
        missing = [i for i in range(lo, hi + 1) if i not in present]
        if missing:
            raise RuntimeError(
                f"status store dropped {len(missing)} jobs of the timed region"
            )
    return mine


def totals(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Counter sums over ``jobs`` (stages skipped by shuffle reuse ran no
    tasks and are not counted)."""
    sids = sorted({sid for j in jobs for sid in j["stageIds"] if sid in stages})
    ss = [stages[s] for s in sids]
    return {
        "jobs": len(jobs),
        "stages": len(ss),
        "tasks": sum(s["numCompleteTasks"] for s in ss),
        "task_cpu_ms": sum(s["executorCpuTime"] for s in ss) / 1e6,
        "task_run_ms": float(sum(s["executorRunTime"] for s in ss)),
        "peak_exec_mem_mb": max(
            [s["peakExecutionMemory"] for s in ss] or [0]
        ) / 2**20,
        "shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in ss)),
        "shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in ss)),
        "spill_bytes": float(
            sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ss)
        ),
        "input_bytes": float(sum(s["inputBytes"] for s in ss)),
    }


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return f[7], sum(f[:8])


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
