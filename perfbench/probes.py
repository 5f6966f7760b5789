"""Read-only probes into the running Spark driver: process ids, peak
resident memory, JVM GC time and per-job-group job/stage/task counts.
Every probe goes through public JVM management beans, /proc or the
SparkContext status tracker."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def gc_seconds(spark: SparkSession) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def wait_listeners(spark: SparkSession) -> None:
    """Block until the status listener has seen every finished job, so
    the counts below are complete rather than racing the event bus."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counts(spark: SparkSession, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) of one job group."""
    wait_listeners(spark)
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks
    return jobs, stages, tasks


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
