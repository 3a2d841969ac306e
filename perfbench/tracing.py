"""Spans for the traced run, recorded around the benchmark's calls into
the program.

Hierarchy: run -> workload -> op -> layer call. Each span records its
name, start, end and parent; spans that run Spark work own a job group,
and when the span ends the jobs of that group are resolved through
Spark's status tracker and status store into job, stage and task
counts, task time, GC time, shuffle-write and spill bytes. Spans stay in
memory and are written out once, at the end of the run. A disabled
tracer records nothing and sets no job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_COUNTERS = ("jobs", "stages", "tasks", "task_ms", "gc_ms", "shuffle_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._t0 = time.perf_counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        if enabled:
            jvm = self._sc._jvm
            self._store = self._sc._jsc.sc().statusStore()
            self._bus = self._sc._jsc.sc().listenerBus()
            self._no_list = jvm.java.util.ArrayList()
            self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: dict | None = None, jobs: bool = True, **attrs):
        """Record one span. ``parent`` defaults to the innermost open span
        of this thread (pass it explicitly from a callback thread).
        ``jobs`` gives the span its own Spark job group."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                **attrs,
            }
            self.spans.append(rec)
        group = f"perfbench-{rec['id']}" if jobs else None
        prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
        if group:
            rec["group"] = group
            self._sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            if group:
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self._collect(rec)

    def _collect(self, rec: dict) -> None:
        """Counters of the jobs this span's own group launched. Each
        distinct stage id of the group is read once. A job that reuses
        an earlier job's shuffle lists it under a stage id of its own that
        stays SKIPPED with no tasks, while the stage that ran keeps its
        COMPLETE record and metrics (checked on Spark 4.1 with AQE: the
        summed stage records equal the executor's task and shuffle-write
        totals)."""
        self._bus.waitUntilEmpty(10_000)
        tracker = self._sc.statusTracker()
        c = dict.fromkeys(_COUNTERS, 0)
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(rec["group"]):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            c["jobs"] += 1
            stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                seq = self._store.stageData(sid, False, self._no_list, False, self._no_quantiles)
            except Py4JJavaError:
                continue  # already evicted from the status store
            for i in range(seq.size()):
                sd = seq.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: it ran no tasks
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["task_ms"] += sd.executorRunTime()
                c["gc_ms"] += sd.jvmGcTime()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()
        rec.update(c)

    # ---- reading the spans back ------------------------------------------

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree_total(self, rec: dict, key: str) -> float:
        """A counter summed over a span and all its descendants."""
        return rec.get(key, 0) + sum(self.subtree_total(c, key) for c in self.children(rec))

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        ivals = sorted((c["start"], c["end"]) for c in self.children(rec))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivals:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(rec) - covered

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for rec in self.spans:
            if "end" in rec:
                out[rec["name"]] = out.get(rec["name"], 0.0) + self.self_time(rec)
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"self_time_s": self.self_time_by_name(), "spans": self.spans},
                f,
                indent=1,
            )
