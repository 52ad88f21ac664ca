"""Per-operation Spark job, stage and task counters from the status store.

Job ids are handed out in sequence, so the jobs of one operation are the
ids from the previous watermark up to the first id the store does not
know. Reading them costs a few py4j calls per job, not a walk over every
retained stage, which keeps the bookkeeping between operations small.
The listener bus is drained first (``metrics._drain_listener_bus``), so
every finished task has reached the store.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

from component_iceberg_spark import metrics


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    job_busy_s: float = 0.0  # union of the jobs' [submit, complete] intervals


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0


class JobWatermark:
    """Counters of the jobs started since the last :meth:`take`."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._next = 0
        self._stages_seen: set[tuple[int, int]] = set()
        self.take()  # skip everything that ran before the benchmark

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # the store's NoSuchElementException
            return None

    def take(self) -> OpCounters:
        metrics._drain_listener_bus(self._spark)
        out = OpCounters()
        intervals = []
        while (job := self._job(self._next)) is not None:
            self._next += 1
            out.jobs += 1
            out.tasks += job.numCompletedTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                # a stage whose shuffle output an earlier job produced is
                # listed again by later jobs; count each attempt once
                st = self._store.lastStageAttempt(stage_ids.apply(i))
                key = (st.stageId(), st.attemptId())
                if key in self._stages_seen or st.status().toString() == "SKIPPED":
                    continue
                self._stages_seen.add(key)
                out.stages += 1
                out.shuffle_write_bytes += st.shuffleWriteBytes()
        out.job_busy_s = _union_seconds(intervals)
        return out
