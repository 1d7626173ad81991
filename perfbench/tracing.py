"""In-memory spans around the engine's public calls, plus the Spark
job, stage and task metrics of each span.

A span records its name, start, end, parent span and request id. While
a span is open, every Spark job the calling thread submits is tagged
with the span's own job group, so the jobs of a span can be listed from
``statusTracker()`` after the fact and their stages read from the
status store (which is live even with the Spark UI off).

Nothing here runs unless the tracer is enabled: a disabled tracer's
``span`` yields without touching Spark.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, req: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "req": req if req is not None else (parent or {}).get("req"),
               "start": time.perf_counter(), "end": None}
        rec["group"] = f"perfbench-span-{rec['id']}"
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def spark_metrics(self) -> None:
        """Attach the Spark jobs, stages, tasks, task times and bytes of
        each span's own job group to the span (children's jobs are on the
        children). Call once, after the traced work is done."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            m = dict.fromkeys(("jobs", "stages", "tasks", "task_run_ms",
                               "task_cpu_ms", "result_bytes",
                               "shuffle_bytes", "input_bytes"), 0)
            for job in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                m["jobs"] += 1
                for stage in info.stageIds:
                    sd = store.lastStageAttempt(stage)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    m["stages"] += 1
                    m["tasks"] += sd.numTasks()
                    m["task_run_ms"] += sd.executorRunTime()
                    m["task_cpu_ms"] += sd.executorCpuTime() / 1e6
                    m["result_bytes"] += sd.resultSize()
                    m["shuffle_bytes"] += sd.shuffleWriteBytes()
                    m["input_bytes"] += sd.inputBytes()
            rec["spark"] = m

    def per_request(self) -> dict[int, dict]:
        """Sum of each request's span metrics, keyed by request id."""
        out: dict[int, dict] = {}
        for rec in self.spans:
            if rec["req"] is None or "spark" not in rec:
                continue
            acc = out.setdefault(rec["req"], {})
            for k, v in rec["spark"].items():
                acc[k] = acc.get(k, 0) + v
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(r["end"] - r["start"]) * 1e3 for r in self.spans
                if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda r: r["id"]), f)
