"""Readings taken from outside the engine: process-tree CPU from /proc,
JVM counters over py4j, and Spark job and stage metrics from the Spark UI's
localhost status REST API."""

from __future__ import annotations

import calendar
import json
import os
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` and every live descendant, including the
    children each has already reaped (Python workers forked by the
    PySpark daemon end up in the daemon's reaped-children time)."""
    root = root or os.getpid()
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                parent[int(entry)] = int(f[1])
                fields[int(entry)] = f
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    # utime stime cutime cstime are fields 14-17 of stat, 11-14 here
    ticks = sum(sum(int(x) for x in fields[p][11:15]) for p in keep if p in fields)
    return ticks / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Jvm:
    """Counters of the JVM that runs Spark, read over py4j."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._system = jvm.java.lang.System
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiler = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._jsc = spark.sparkContext._jsc
        self.pid = int(self._mf.getRuntimeMXBean().getPid())

    def full_gc(self) -> None:
        self._system.gc()

    def heap_used_mb(self) -> float:
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def counters(self) -> dict[str, float]:
        gc_ms = sum(g.getCollectionTime() for g in self._mf.getGarbageCollectorMXBeans())
        return {
            "jvm.gc_s": gc_ms / 1000.0,
            "jvm.codegen_compiles": float(
                self._codegen.METRIC_COMPILATION_TIME().getCount()
            ),
            "jvm.codegen_s": self._compiler.compileTime() / 1e9,
        }

    def persisted_mb(self) -> float:
        infos = self._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def _ms(stamp: str) -> float:
    # e.g. 2026-10-17T05:01:02.345GMT
    t = calendar.timegm(time.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S"))
    return t * 1000.0 + float(stamp[20:23])


class SparkStatus:
    """Per-job-group totals from the status REST API of the Spark UI."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is off; traced runs need its REST API")
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()

    def group_metrics(self, groups: set[str]) -> dict[str, float]:
        jobs = self._settled_jobs(groups)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in _get(f"{self._base}/stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.job_s": sum(
                (_ms(j["completionTime"]) - _ms(j["submissionTime"])) / 1000.0
                for j in jobs
                if j.get("completionTime") and j.get("submissionTime")
            ),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spark.input_mb": sum(s["inputBytes"] for s in stages) / 2**20,
            "spark.spill_mb": sum(
                s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in stages
            )
            / 2**20,
            "spark.task_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.task_skew": 0.0,
        }
        # skew of the three longest multi-task stages: max over median task run time
        longest = sorted(
            (s for s in stages if s["numCompleteTasks"] > 1),
            key=lambda s: -s["executorRunTime"],
        )[:3]
        for s in longest:
            q = _get(
                f"{self._base}/stages/{s['stageId']}/{s['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            if q[0] > 0:
                out["spark.task_skew"] = max(out["spark.task_skew"], q[1] / q[0])
        return out

    def _settled_jobs(self, groups: set[str]) -> list[dict]:
        """The groups' jobs, once the UI listener has caught up with them
        (it processes events asynchronously)."""
        self._bus.waitUntilEmpty(5000)
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [j for j in _get(f"{self._base}/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)
