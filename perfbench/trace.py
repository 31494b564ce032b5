"""Spans and Spark job counts, recorded from outside the engine.

A span wraps one call into an engine module's public function. While
tracing is on, each span tags the Spark jobs its call submits with
`SparkContext.setJobGroup`, and on exit reads the group's job, stage
and task counts from `statusTracker()`. The status tracker is filled
from Spark's listener bus, asynchronously: when an action returns, its
last stage's completion and its job's end may not have been recorded
yet. So on exit a span first waits until the bus has delivered every
event posted so far and every job of its group has ended; only then are
the counts final. Spans live in memory and are written out once, when
the run ends. With tracing off, `span` yields an empty dict and does
nothing else, so untraced runs pay no tagging or lookup; `overhead_s`
sums the seconds tracing itself spent (tagging, waiting, counting).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list = []
        self.overhead_s = 0.0
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        """Time the enclosed calls as span `name`; yields the span dict,
        whose `jobs`/`stages`/`tasks` are filled in on exit. Nested spans
        record their parent; jobs belong to the innermost open span."""
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            rec.update(self._counts(group))
            if self._stack:
                self.sc.setJobGroup(f"perfbench-{self._stack[-1]}",
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    def _settle(self, group: str, timeout_s: float = 60.0) -> list:
        """The group's job ids, once the listener bus has delivered every
        event posted so far and none of the group's jobs is still
        running. A job's end event is posted after its stages' completion
        events, so by then each stage's task count is final."""
        st = self.sc.statusTracker()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        t_end = time.perf_counter() + timeout_s
        while True:
            jobs = st.getJobIdsForGroup(group)
            infos = [st.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                return jobs
            if time.perf_counter() > t_end:
                raise RuntimeError(f"jobs of {group} still running after "
                                   f"{timeout_s} s: {jobs}")
            time.sleep(0.01)

    def _counts(self, group: str) -> dict:
        jobs = self._settle(group)
        st = self.sc.statusTracker()
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                # a stage whose shuffle output was reused is skipped:
                # it is listed in the job but runs no task
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def tree(self, rec: dict) -> dict:
        """A span's Spark counts with its descendants' included."""
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        todo = [rec["id"]]
        while todo:
            sid = todo.pop()
            for k in out:
                out[k] += self.spans[sid][k]
            todo.extend(r["id"] for r in self.spans[sid + 1:]
                        if r["parent"] == sid)
        return out

    def durations(self, name: str) -> list:
        """Seconds of every recorded span named `name`."""
        return [r["end"] - r["start"] for r in self.spans if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"clock": "perf_counter_s", "spans": self.spans}, f)
