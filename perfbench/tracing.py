"""Spans around layer calls, plus the Spark work each call caused.

A span is timed from outside the engine (``time.perf_counter`` around the
public call). In a traced pass each leaf call also runs under its own
Spark job group, and after the call the group's jobs and stages are read
back from the status store: jobs, stages, tasks, failed tasks, shuffle
write bytes and executor run time. Spans are kept in memory and written
out once at the end of the run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_IDLE_GROUP = "perfbench-idle"


def group_counts(spark, group: str) -> dict:
    """Totals over every job of a job group (skipped stages excluded)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            raise RuntimeError(f"job {j} of {group} fell out of the status store")
        stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
           "shuffle_write_bytes": 0, "run_time_ms": 0}
    for s in stage_ids:
        st = store.lastStageAttempt(s)
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(st.numTasks())
        out["failed_tasks"] += int(st.numFailedTasks())
        out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["run_time_ms"] += int(st.executorRunTime())
    return out


class Recorder:
    """Times calls; in traced mode also keeps spans and Spark counts."""

    def __init__(self, workload: str):
        self.workload = workload
        self.traced = False
        self.pass_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, spark=None):
        """Yields a dict that gets ``wall`` (seconds) when the block ends.
        ``spark`` marks a leaf call whose Spark jobs are counted."""
        rec = {"name": name, "workload": self.workload, "pass": self.pass_id}
        self._seq += 1
        sid = self._seq
        group = f"perfbench-{sid}" if self.traced and spark is not None else None
        if self.traced:
            rec.update(id=sid, parent=self._stack[-1] if self._stack else None)
        if group:
            spark.sparkContext.setJobGroup(group, f"{self.workload}:{name}")
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["wall"] = t1 - t0
            if group:
                spark.sparkContext.setJobGroup(_IDLE_GROUP, "between calls")
                rec["spark"] = group_counts(spark, group)
            if self.traced:
                rec.update(start=t0, end=t1)
                self.spans.append(rec)
