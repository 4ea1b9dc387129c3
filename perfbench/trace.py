"""In-memory spans around the benchmark's calls into the package, plus Spark
stage metrics read from outside the program.

A span records name, layer, start, end, parent span and run id. When tracing
is on, each span also sets its own Spark job group; the stages of that group
are looked up afterwards through the status tracker and read from the JVM
status store (this works with the UI disabled). With tracing off, a span
costs one attribute check and records nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # set once a session exists; job groups need it

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent["group"], parent["name"])
            else:
                self._set_group(None, None)

    def _set_group(self, group: str | None, desc: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus the time its children cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def group_stages(sc, group: str) -> dict:
    """Summed stage metrics of every job run under one job group.

    Returns jobs, shuffle write bytes/records, GC ms, spill bytes, and the
    task skew (slowest over median task run time) of the stage with the most
    executor run time."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "shuffle_write_bytes": 0, "shuffle_write_records": 0,
           "gc_ms": 0, "spill_bytes": 0, "task_skew": 1.0}
    busiest, busiest_run = None, -1
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError as e:
            if "NoSuchElementException" not in str(e.java_exception):
                raise
            continue  # skipped stage: never ran, nothing to count
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_write_records"] += st.shuffleWriteRecords()
        out["gc_ms"] += st.jvmGcTime()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if st.executorRunTime() > busiest_run:
            busiest, busiest_run = st, st.executorRunTime()
    if busiest is not None:
        tasks = store.taskList(busiest.stageId(), busiest.attemptId(), 1 << 30)
        runs = []
        for i in range(tasks.size()):
            tm = tasks.apply(i).taskMetrics()
            if tm.isDefined():
                runs.append(tm.get().executorRunTime())
        if runs and statistics.median(runs) > 0:
            out["task_skew"] = max(runs) / statistics.median(runs)
    return out
