"""Session shutdown and Spark-side counts read from outside the timed calls.

Counts (jobs, tasks, executor CPU, bytes) come from job groups and the
driver's status store. They are read after the listener bus has drained,
never inside a timed window.
"""

from __future__ import annotations

import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

STAGE_FIELDS = ("tasks", "cpu_s", "input_bytes", "shuffle_bytes", "spill_bytes")


def shutdown(spark: SparkSession | None) -> None:
    """Stop the session, close the gateway and wait for the JVM to end."""
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def gc_s(spark: SparkSession) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class JobGroups:
    """Tags calls with job groups and totals their jobs and stages."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def enter(self, label: str) -> tuple[str, str | None]:
        """Set a fresh job group on this thread; returns (group, previous)."""
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        previous = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, label)
        return group, previous

    def leave(self, previous: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", previous)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> dict[str, float]:
        """Totals over the distinct stages of ``job_ids`` (skipped stages
        count no tasks, CPU or bytes)."""
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        seen: set[int] = set()
        store = self._jsc.statusStore()
        for job in job_ids:
            info = self.tracker.getJobInfo(job)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                totals["tasks"] += sd.numCompleteTasks()
                totals["cpu_s"] += sd.executorCpuTime() / 1e9
                totals["input_bytes"] += sd.inputBytes()
                totals["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                totals["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return totals

    def all_job_ids(self) -> set[int]:
        """Every job the status store still holds, grouped or not."""
        store_jobs = self._jsc.statusStore().jobsList(None)
        return {int(store_jobs.apply(i).jobId()) for i in range(store_jobs.size())}
