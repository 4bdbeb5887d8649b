"""Per-call Spark accounting, read from outside the program.

Each traced call runs under its own job group.  After the call the
ledger reads that group's jobs and their stages from Spark's status
store (``sc._jsc.sc().statusStore()``, which answers with the UI
disabled): job count, the time any job of the call was running,
executor run time, shuffle write, spill and input records.
"""

from __future__ import annotations

import contextlib
import itertools
import time

from py4j.protocol import Py4JJavaError

MB = 1 << 20


class Ledger:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = self.sc.defaultParallelism
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        """Run the body under a fresh job group; on exit the yielded
        dict holds the call's wall and its Spark accounting."""
        group = f"perfbench-{next(self._ids)}-{name}"
        self.sc.setJobGroup(group, name)
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(self._account(group, rec["wall_s"]))

    def _jobs(self, group: str, timeout_s: float = 10.0) -> list:
        # job-end events reach the status store through the listener
        # bus, a little after the action has returned
        ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [self.store.job(j) for j in ids]
            if all(j.completionTime().isDefined() for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.02)

    def _account(self, group: str, wall_s: float) -> dict:
        jobs = self._jobs(group)
        intervals, stage_ids = [], set()
        for j in jobs:
            start = j.submissionTime().get().getTime() / 1e3
            end = j.completionTime().get().getTime() / 1e3 if j.completionTime().isDefined() else start
            intervals.append((start, end))
            sids = j.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        run_ms = shuffle_write = spill = input_records = 0
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never ran an attempt
                continue
            run_ms += st.executorRunTime()
            shuffle_write += st.shuffleWriteBytes()
            spill += st.diskBytesSpilled()
            input_records += st.inputRecords()
        busy = _union_length(intervals)
        return {
            "jobs": len(jobs),
            "job_busy_s": busy,
            "driver_only_s": max(0.0, wall_s - busy),
            "executor_run_s": run_ms / 1e3,
            "slot_busy_frac": run_ms / 1e3 / (wall_s * self.cores),
            "shuffle_write_mb": shuffle_write / MB,
            "spill_mb": spill / MB,
            "input_records": input_records,
        }

    def storage_mb(self) -> float:
        """Block-manager storage memory in use across executors."""
        execs = self.store.executorList(True)
        return sum(execs.apply(i).memoryUsed() for i in range(execs.size())) / MB


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total
