"""Per-layer tracing from outside the engine.

Each layer runs under its own Spark job group, unique per layer and per
iteration (a reused group name accumulates the job ids of every earlier
iteration). After the layer returns, its jobs and stages come from the
status tracker and its stage metrics (executor run time, shuffle bytes,
tasks) from the in-process status store, which also exists with the UI
disabled. Checkpoint counters read the session's persistent-RDD set and
storage info.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc
        self._store = self._jsc.sc().statusStore()
        self._bus = self._jsc.sc().listenerBus()

    @contextmanager
    def layer(self, name: str, iteration: int):
        """Run the body as one layer; yields the dict it fills with
        ``s``, ``jobs``, ``stages``, ``tasks``, ``executor_ms`` and
        ``shuffle_bytes``."""
        group = f"perfbench-{iteration}-{name}"
        rec: dict = {}
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self._jsc.clearJobGroup()
        rec.update(self._group_metrics(group))

    def _group_metrics(self, group: str) -> dict:
        # Stage and task end events reach the status store through the
        # listener bus, asynchronously to the action that ran them.
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "executor_ms": 0, "shuffle_bytes": 0}
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_ms"] += st.executorRunTime()
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        return out

    def persistent_rdds(self) -> set[int]:
        return set(self._jsc.getPersistentRDDs().keySet().toArray())

    def held_bytes(self, rdd_ids: set[int]) -> int:
        """Memory plus disk bytes the block manager holds for ``rdd_ids``."""
        return sum(info.memSize() + info.diskSize()
                   for info in self._jsc.sc().getRDDStorageInfo()
                   if info.id() in rdd_ids)

    def unpersist(self, rdd_ids: set[int]) -> None:
        jmap = self._jsc.getPersistentRDDs()
        for rid in rdd_ids:
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
