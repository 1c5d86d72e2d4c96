"""In-memory spans with Spark counters per layer.

A span records name, start, end, parent and run id. A span opened with
`group=True` also runs its Spark jobs under its own job group and, when it
ends, reads for that group from the status store (which works with the UI
off): job count, task time, shuffle write and disk spill per stage, plus the
JVM-wide deltas of whole-stage-codegen compiles (`CodegenMetrics`) and GC
time (the GC MXBeans). In local mode the driver is the only JVM, so those
two deltas belong to the span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

MB = 1e6


class Tracer:
    """The spans of one traced run, kept in memory until the run ends."""

    def __init__(self, spark: SparkSession, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    # -- JVM counters --------------------------------------------------
    def _compiles(self) -> int:
        cm = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(cm.METRIC_COMPILATION_TIME().getCount())

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, int(b.getCollectionTime())) for b in beans)

    def _group_metrics(self, group: str) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        task_ms = shuffle = spill = 0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never ran or was evicted
                continue
            task_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
            spill += st.diskBytesSpilled()
        return {"jobs": len(job_ids), "task_s": task_ms / 1000,
                "shuffle_mb": shuffle / MB, "spill_mb": spill / MB}

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, group: bool = False):
        sp = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if group:
            gid = f"{self.run_id}/{sp['id']}/{name}"
            compiles, gc_ms = self._compiles(), self._gc_ms()
            self.sc.setJobGroup(gid, name)
        sp["start"] = time.perf_counter() - self._t0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if group:
                self.sc._jsc.clearJobGroup()
                sp["spark"] = {
                    **self._group_metrics(gid),
                    "gc_s": (self._gc_ms() - gc_ms) / 1000,
                    "codegen_compiles": self._compiles() - compiles,
                }

    def spans_with_self_time(self) -> list[dict]:
        """Every span with `self_s`: its duration minus the part of it that
        its children cover (children of one span run one after another)."""
        covered = {sp["id"]: 0.0 for sp in self.spans}
        for sp in self.spans:
            if sp["parent"] is not None:
                covered[sp["parent"]] += sp["end"] - sp["start"]
        return [{**sp, "self_s": sp["end"] - sp["start"] - covered[sp["id"]]}
                for sp in self.spans]
