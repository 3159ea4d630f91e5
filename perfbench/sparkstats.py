"""Counters read from Spark's own status tracker and status store, plus
host gauges, for the benchmark's records.

Nothing here changes what Spark runs: job groups are set by the caller,
and the stage figures are read after the work is done.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, fields

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0          # stages that ran at least one task (skipped ones excluded)
    tasks: int = 0
    executor_run_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __iadd__(self, other: JobStats) -> JobStats:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


def group_job_ids(spark: SparkSession, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_stats(spark: SparkSession, job_ids: list[int]) -> JobStats:
    """Sum the stage metrics of ``job_ids`` from the status store; a stage
    shared by several of the jobs counts once."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = JobStats(jobs=len(job_ids))
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage was never attempted (skipped)
            continue
        if sd.numCompleteTasks() == 0:
            continue
        out.stages += 1
        out.tasks += sd.numCompleteTasks()
        out.executor_run_ms += sd.executorRunTime()
        out.input_bytes += sd.inputBytes()
        out.shuffle_read_bytes += sd.shuffleReadBytes()
        out.shuffle_write_bytes += sd.shuffleWriteBytes()
        out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def dispatch_ms(spark: SparkSession, n: int = 15) -> float:
    """Median wall time of a one-task job: the host's fixed cost per job."""
    df = spark.range(0, 1, 1, 1)
    times = []
    for _ in range(n):
        t = time.perf_counter()
        df.collect()
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident set of the driver JVM (``VmHWM``), in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
