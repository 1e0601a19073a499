"""Spark work per job group, read from the driver's status store.

The status tracker maps a job group to its jobs and a job to its
stages; ``AppStatusStore.lastStageAttempt`` holds each stage's task
metrics. Both live in the driver JVM and are fed by the listener bus,
so reading them launches no Spark job. The bus is asynchronous: a read
first waits until it has delivered every event posted so far, or the
last stage of the action just finished could still read as running.

Works with ``spark.ui.enabled=false``. A stage is counted once, under
the first group read that contains it, so a shuffle stage a later job
reuses is not counted twice; stages a job skipped ran no tasks and are
not counted.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_read_mib",
    "shuffle_write_mib",
    "spill_mib",
)
_MIB = 1024.0 * 1024.0


class StageMetrics:
    """Reads the Spark work of job groups from one live session."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen_stages: set[int] = set()

    def drain(self, timeout_ms: int = 10_000) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self._bus.waitUntilEmpty(timeout_ms)

    def group(self, group_id: str) -> dict[str, float]:
        """Sum of the task metrics of every job in ``group_id``."""
        self.drain()
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0.0)
        for job_id in tracker.getJobIdsForGroup(group_id):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in self._seen_stages:
                    continue
                self._seen_stages.add(stage_id)
                self._add_stage(out, stage_id)
        return out

    def _add_stage(self, out: dict[str, float], stage_id: int) -> None:
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # NoSuchElementException: evicted or never submitted
            return
        if st.status().toString() == "SKIPPED":
            return
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["exec_run_s"] += st.executorRunTime() / 1e3
        out["exec_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_read_mib"] += st.shuffleReadBytes() / _MIB
        out["shuffle_write_mib"] += st.shuffleWriteBytes() / _MIB
        out["spill_mib"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MIB


def cached_mib(spark: SparkSession) -> float:
    """Memory plus disk held by persisted RDD/DataFrame blocks."""
    total = 0
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    for info in infos:
        total += info.memSize() + info.diskSize()
    return total / _MIB
