"""Spark-engine layer metrics from the application status store.

The status store is populated with the UI off.  Around each operator call
the benchmark snapshots the job and stage records, and the difference gives
the call's jobs, stages, tasks, executor run/CPU time and shuffle bytes,
plus the driver-side split of its wall time: ``plan_s`` (call start to the
first job submission) and ``gap_s`` (wall time covered by no job).

Executor run time is summed from stage records (``executorRunTime``), not
from ``executorList().totalDuration``: that counter follows wall-clock time
while a task is active, not the time tasks ran.

The store keeps a bounded number of jobs and stages.  A diff that finds a
call's job, or a stage that ran, missing raises :class:`StoreEvicted`
instead of reporting low numbers, and a listener bus that does not drain
raises too.
"""

from __future__ import annotations

import json

DRAIN_TIMEOUT_MS = 30_000


class StoreEvicted(RuntimeError):
    """A job or stage of the measured window left the status store."""


class StatusStore:
    """Reads job and stage records of one SparkContext as JSON."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._empty = sc._gateway.new_array(jvm.double, 0)
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def drain(self) -> None:
        """Wait until every posted event reached the store; raises
        (py4j-wrapped ``TimeoutException``) if the bus does not drain."""
        self._sc.listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)

    def snapshot(self) -> dict:
        self.drain()
        store = self._sc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                store.stageList(None, False, False, self._empty, None)
            )
        )
        return {
            "jobs": {j["jobId"]: j for j in jobs},
            "stages": {(s["stageId"], s["attemptId"]): s for s in stages},
        }


def window_layers(before: dict, after: dict, t0: float, t1: float) -> dict:
    """Spark-engine metrics of the jobs that ran between two snapshots.

    ``t0``/``t1`` are the call's wall-clock bounds (``time.time()``).
    """
    old_job = max(before["jobs"], default=-1)
    old_stage = max((sid for sid, _ in before["stages"]), default=-1)
    new_jobs = sorted(j for j in after["jobs"] if j > old_job)
    if new_jobs and new_jobs != list(range(old_job + 1, new_jobs[-1] + 1)):
        missing = sorted(set(range(old_job + 1, new_jobs[-1] + 1)) - set(new_jobs))
        raise StoreEvicted(f"jobs {missing[:5]}... left the status store")
    stages = [
        s for (sid, _), s in after["stages"].items()
        if sid > old_stage and s["status"] != "SKIPPED"
    ]
    # The store evicts skipped stages first (they carry no metrics), so
    # only stages that ran must all still be there: each job counts the
    # stages it completed or failed.
    ran = sum(after["jobs"][j]["numCompletedStages"] + after["jobs"][j]["numFailedStages"]
              for j in new_jobs)
    if len(stages) != ran:
        raise StoreEvicted(
            f"jobs {new_jobs[0]}..{new_jobs[-1]} ran {ran} stages, "
            f"{len(stages)} are in the status store")
    intervals = []
    for j in new_jobs:
        rec = after["jobs"][j]
        start = rec.get("submissionTime")
        end = rec.get("completionTime")
        if start is None or end is None:
            raise StoreEvicted(f"job {j} has no completed interval")
        intervals.append((max(start / 1000.0, t0), min(end / 1000.0, t1)))
    busy = _union_length(intervals)
    first_submit = min((a for a, _ in intervals), default=t1)
    return {
        "spark.jobs": float(len(new_jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
        "spark.plan_s": max(0.0, first_submit - t0),
        "spark.gap_s": max(0.0, (t1 - t0) - busy),
        "spark.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
        "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
        # Spark's input metric: bytes scans read from files (as the Hadoop
        # file-system counters see them) and from checkpointed blocks.
        "sources.input_bytes": float(sum(s["inputBytes"] for s in stages)),
    }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
