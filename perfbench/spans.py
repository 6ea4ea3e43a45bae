"""Benchmark-side tracing: spans around the calls into each layer, and
Spark stage metrics grouped by the layer that ran them.

Spans live in memory until the run ends.  While a span is open its path is
the Spark job group of the calling thread, so every stage the span starts
carries the path as ``StageData.description`` in the application status
store, which is read once at the end (it is kept with the UI disabled).
With tracing off a span does nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: task-time quantiles read per stage (median, max)
QUANTILES = (0.5, 1.0)


@dataclass
class Span:
    path: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    """Sums over the stages of one job group (bytes, seconds)."""

    jobs: set = field(default_factory=set)
    executor_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # task run-time quantiles of the busiest stage at or under the root
    task_p50_s: float = 0.0
    task_max_s: float = 0.0
    _busiest: float = -1.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stages: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the block; its path (outer span names joined by "/") is
        the job group of the stages it starts."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        path = name if parent is None else f"{self.spans[parent].path}/{name}"
        self.spans.append(Span(path, parent, time.perf_counter()))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        sc.setJobGroup(path, path)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]].path
                sc.setJobGroup(outer, outer)
            else:
                sc._jsc.clearJobGroup()

    def seconds(self, path: str) -> float:
        """Total duration of the spans at ``path``."""
        return sum(s.seconds for s in self.spans if s.path == path)

    def read_stages(self) -> None:
        """Copy every finished stage's metrics out of the status store
        (one pass of py4j calls; call once, after the traced work)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        q = sc._gateway.new_array(sc._jvm.double, len(QUANTILES))
        for i, v in enumerate(QUANTILES):
            q[i] = v
        job_of_stage = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            ids = job.stageIds()
            for j in range(ids.size()):
                job_of_stage[ids.apply(j)] = job.jobId()
        # py4j cannot fill Scala default arguments: pass all five
        stages = store.stageList(None, False, True, q, None)
        self.stages = []
        for i in range(stages.size()):
            s = stages.apply(i)
            desc = s.description()
            if not desc.isDefined() or s.status().toString() == "SKIPPED":
                continue
            dist = s.taskMetricsDistributions()
            rt = dist.get().executorRunTime() if dist.isDefined() else None
            self.stages.append({
                "group": desc.get(),
                "job": job_of_stage.get(s.stageId()),
                "executor_s": s.executorRunTime() / 1000.0,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled(),
                "task_q_s": (
                    [rt.apply(k) / 1000.0 for k in range(len(QUANTILES))]
                    if rt is not None else [0.0] * len(QUANTILES)
                ),
            })

    def stage_totals(self, root: str) -> StageTotals:
        """Stage metrics of every job group at or under ``root`` (a span
        path), summed; needs :meth:`read_stages` first."""
        t = StageTotals()
        for s in self.stages:
            g = s["group"]
            if g != root and not g.startswith(root + "/"):
                continue
            t.jobs.add(s["job"])
            t.executor_s += s["executor_s"]
            t.gc_s += s["gc_s"]
            t.shuffle_bytes += s["shuffle_bytes"]
            t.spill_bytes += s["spill_bytes"]
            if s["executor_s"] > t._busiest:
                t._busiest = s["executor_s"]
                t.task_p50_s, t.task_max_s = s["task_q_s"]
        return t
