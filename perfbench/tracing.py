"""Spans and Spark job accounting, recorded from the benchmark's side of
each call into the program.

A span is (id, name, parent, trace, start, end) with times relative to
the run's start; spans of one operation share its trace id. Spans stay
in memory and are written out once, when the run ends. When tracing is
off every method is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark, enabled: bool, t0: float):
        self.spark = spark
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self.groups: list[tuple[str, str, str]] = []  # (op, phase, job group)
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: int | None = None, op: str | None = None,
             phase: str | None = None):
        """Record a span; with ``op`` and ``phase`` also run the body under
        its own Spark job group so its jobs can be counted afterwards."""
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "trace": trace}
        self.spans.append(rec)
        self._stack.append(sid)
        if phase is not None:
            group = f"{op}:{phase}:{sid}"
            self.spark.sparkContext.setJobGroup(group, f"{op} {phase}")
            self.groups.append((op, phase, group))
        self.bookkeeping_s += time.perf_counter() - b0
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t0
            b1 = time.perf_counter()
            if phase is not None:
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - b1

    def spark_accounting(self) -> dict:
        """Jobs per (op, phase) and totals over every traced stage, read
        from ``statusTracker()`` and the status store once the run ends."""
        sc = self.spark.sparkContext
        time.sleep(1.0)  # let the listener bus deliver the last job events
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs: dict[tuple[str, str], list[int]] = {}
        tasks: dict[tuple[str, str], list[int]] = {}
        totals = {"stages": 0, "tasks": 0, "failed_tasks": 0,
                  "shuffle_bytes": 0, "result_bytes": 0}
        seen: set[int] = set()
        for op, phase, group in self.groups:
            ids = list(st.getJobIdsForGroup(group))
            jobs.setdefault((op, phase), []).append(len(ids))
            n_tasks = 0
            for j in ids:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    if s in seen:
                        continue
                    seen.add(s)
                    try:
                        sd = store.lastStageAttempt(s)
                    except Py4JJavaError:  # stage data already evicted
                        continue
                    totals["stages"] += 1
                    totals["tasks"] += sd.numCompleteTasks()
                    n_tasks += sd.numCompleteTasks()
                    totals["failed_tasks"] += sd.numFailedTasks()
                    totals["shuffle_bytes"] += sd.shuffleWriteBytes()
                    totals["result_bytes"] += sd.resultSize()
            tasks.setdefault((op, phase), []).append(n_tasks)
        return {"jobs": jobs, "tasks": tasks, "totals": totals}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
