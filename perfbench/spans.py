"""Spans and Spark counters, recorded from outside the program.

A ``Tracer`` wraps the benchmark's calls into the program.  With tracing
off every method is a no-op.  With tracing on it records a span (name, start,
end, parent) per call, tags the call's Spark jobs with a job group, and
after the run reads job, stage, task, shuffle, spill and GC figures from
Spark's own status store.  Spans stay in memory and are written once, at
the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None
        self._groups: dict[str, list[str]] = {}  # span name -> job groups

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time a block.  With tracing on, record the span and (``jobs``)
        run the block's Spark jobs under a job group named after it."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(sid)
        group = None
        if jobs and self.sc is not None:
            group = f"pb-{sid}"
            self._groups.setdefault(name, []).append(group)
            self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add_group(self, name: str, group: str) -> None:
        """Attribute jobs run under someone else's group (a streaming
        query's run id) to ``name``."""
        if self.enabled:
            self._groups.setdefault(name, []).append(group)

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    # -- Spark counters ----------------------------------------------------

    def spark_counters(self) -> dict[str, dict[str, float]]:
        """Per traced name: jobs, stages, tasks, input/shuffle/spill MB and
        executor GC seconds, from the status store (works with the UI off).
        Call before the session stops."""
        if not self.enabled or self.sc is None:
            return {}
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        # py4j has no Scala default arguments: all five are passed
        seq = store.stageList(jvm.java.util.ArrayList(), False, False,
                              sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        stages = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            stages[s.stageId()] = (s.numTasks(), s.inputBytes(), s.shuffleWriteBytes(),
                                   s.memoryBytesSpilled() + s.diskBytesSpilled(), s.jvmGcTime())
        tracker = sc.statusTracker()
        out: dict[str, dict[str, float]] = {}
        for name, groups in self._groups.items():
            job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
            stage_ids: set[int] = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids |= {s for s in info.stageIds if s in stages}
            rows = [stages[s] for s in stage_ids]
            out[name] = {
                "jobs": len(job_ids),
                "stages": len(rows),
                "tasks": sum(r[0] for r in rows),
                "input_mb": sum(r[1] for r in rows) / 1e6,
                "shuffle_mb": sum(r[2] for r in rows) / 1e6,
                "spill_mb": sum(r[3] for r in rows) / 1e6,
                "gc_s": sum(r[4] for r in rows) / 1e3,
            }
        return out

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as fh:
                json.dump(self.spans, fh)
