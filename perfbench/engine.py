"""Spans and engine counters for the traced run.

:class:`Tracer` keeps spans in memory (name, start, end, parent span,
query-run id) and writes them out once, at the end of the run.

:class:`StatusStore` reads Spark's own status store
(``sc._jsc.sc().statusStore()``, available with ``spark.ui.enabled``
off) for the jobs of a set of job groups: stages, tasks, executor time,
GC, shuffle bytes and records, fetch wait and spill; and the memory
that persisted RDDs hold.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": run,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, runs: set[str]) -> float:
        """Summed duration of the spans called ``name`` in ``runs``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["run"] in runs)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


class StatusStore:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self._sc._jsc.statusTracker()
        self.cores = self._sc.defaultParallelism

    def _jobs(self, groups: list[str]) -> list:
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        return [self._store.job(int(j)) for g in groups
                for j in self._tracker.getJobIdsForGroup(g)]

    def job_count(self, groups: list[str]) -> int:
        return len(self._jobs(groups))

    def pinned_mb(self) -> float:
        """Memory held by the blocks of persisted RDDs (the pinned
        checkpoints)."""
        self._bus.waitUntilEmpty()
        return sum(r.memSize() for r in self._sc._jsc.sc().getRDDStorageInfo()) / _MB

    def metrics(self, groups: list[str]) -> dict:
        """Engine counters summed over the jobs of ``groups``."""
        jobs = self._jobs(groups)
        job_wall_ms = 0
        stage_ids: set[int] = set()
        for j in jobs:
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                job_wall_ms += end.get().getTime() - sub.get().getTime()
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        m = dict.fromkeys(
            ("stages", "tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms",
             "shuffle_write_b", "shuffle_read_b", "shuffle_records",
             "fetch_wait_ms", "spill_b", "input_records"), 0)
        longest = None
        for sid in stage_ids:
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            run_ms = s.executorRunTime()
            m["stages"] += 1
            m["tasks"] += s.numCompleteTasks()
            m["task_failures"] += s.numFailedTasks()
            m["run_ms"] += run_ms
            m["cpu_ns"] += s.executorCpuTime()
            m["gc_ms"] += s.jvmGcTime()
            m["shuffle_write_b"] += s.shuffleWriteBytes()
            m["shuffle_read_b"] += s.shuffleReadBytes()
            m["shuffle_records"] += s.shuffleWriteRecords()
            m["fetch_wait_ms"] += s.shuffleFetchWaitTime()
            m["spill_b"] += s.diskBytesSpilled()
            m["input_records"] += s.inputRecords()
            if longest is None or run_ms > longest[0]:
                longest = (run_ms, sid, s.attemptId())
        return {
            "jobs": len(jobs),
            "stages": m["stages"],
            "tasks": m["tasks"],
            "task_failures": m["task_failures"],
            "executor_run_s": m["run_ms"] / 1e3,
            "executor_cpu_s": m["cpu_ns"] / 1e9,
            "gc_s": m["gc_ms"] / 1e3,
            "slot_busy_frac": m["run_ms"] / max(job_wall_ms * self.cores, 1),
            "task_skew": self._skew(longest),
            "shuffle_write_mb": m["shuffle_write_b"] / _MB,
            "shuffle_read_mb": m["shuffle_read_b"] / _MB,
            "shuffle_records": m["shuffle_records"],
            "fetch_wait_s": m["fetch_wait_ms"] / 1e3,
            "spill_mb": m["spill_b"] / _MB,
            "input_records": m["input_records"],
        }

    def _skew(self, longest) -> float:
        """Max over median task run time in the longest stage."""
        if longest is None:
            return 1.0
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(longest[1], longest[2], q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        return run.apply(1) / max(run.apply(0), 1.0)
