"""Per-layer measurement from outside the program.

Spark work is attributed by job group: the benchmark sets a fresh group
before each call into a layer, then reads that group's jobs from
Spark's status store (the store behind the web UI, kept even with the
UI off). Counts are exact; job times are submission to completion.
Every second spent here is charged to the ``Tracer`` so the traced run
can report its own overhead.
"""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    jobs_ms: float = 0.0

    def __add__(self, other: JobStats) -> JobStats:
        return JobStats(
            self.jobs + other.jobs,
            self.stages + other.stages,
            self.tasks + other.tasks,
            self.shuffle_write_bytes + other.shuffle_write_bytes,
            self.jobs_ms + other.jobs_ms,
        )


class Tracer:
    """Job-group bookkeeping for one SparkContext; ``enabled=False``
    makes every call a no-op so the untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.overhead_s = 0.0
        self._sc = spark.sparkContext

    def group(self, name: str) -> None:
        if self.enabled:
            t = time.perf_counter()
            self._sc.setJobGroup(name, name)
            self.overhead_s += time.perf_counter() - t

    def stats(self, *groups: str) -> JobStats:
        """Totals over the jobs of ``groups``, after the listener bus
        has delivered their events to the status store."""
        if not self.enabled:
            return JobStats()
        t = time.perf_counter()
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        total = JobStats()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                job = store.job(jid)
                shuffle = 0
                it = job.stageIds().iterator()
                while it.hasNext():
                    stage = store.lastStageAttempt(it.next())
                    if stage.status().toString() == "COMPLETE":
                        shuffle += stage.shuffleWriteBytes()
                ms = 0.0
                if job.completionTime().isDefined():
                    ms = (job.completionTime().get().getTime()
                          - job.submissionTime().get().getTime())
                total = total + JobStats(1, job.numCompletedStages(),
                                         job.numCompletedTasks(), shuffle, ms)
        self.overhead_s += time.perf_counter() - t
        return total
