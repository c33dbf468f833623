"""Spans around calls into the program, with Spark counters read from
outside.

A span is opened around one call into a layer's public function. It sets a
fresh Spark job group for the call and, on exit, drains the listener bus
that feeds the status store, then reads the jobs of that group from
``SparkContext.statusTracker()`` and each of their stages from the status
store (``statusStore().lastStageAttempt``), which works with the Spark UI
disabled. Spans are kept in memory and written out once, when the run
ends.

``NullTracer`` has the same interface and records nothing: untraced runs
still go through ``span()`` so both modes run the same client code.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from statistics import median

# stage counters summed over the stages a span ran; times are in ms in Spark
STAGE_COUNTERS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


@dataclass
class Span:
    span_id: int
    run_id: str
    name: str
    parent_id: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: spans cost one generator frame and read nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str, cores: int) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.cores = cores
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        # stages whose counters were read before all their tasks completed:
        # their span's figures are undercounted
        self.incomplete: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(next(self._ids), self.run_id, name, parent, time.perf_counter())
        group = f"perfbench-{self.run_id}-{sp.span_id}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            # restore the parent's group so its later jobs stay attributed
            if self._stack:
                self.sc.setJobGroup(
                    f"perfbench-{self.run_id}-{self._stack[-1].span_id}", self._stack[-1].name
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._read_counters(sp, group)
            self.spans.append(sp)

    def _read_counters(self, sp: Span, group: str) -> None:
        # The status store is written by a listener on the asynchronous
        # listener bus, and a stage's final metrics reach it when the
        # listener sees the stage complete: drain the bus first, or the
        # call's last jobs and stages are missing or undercounted.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        totals = dict.fromkeys(STAGE_COUNTERS, 0.0)
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = 0
        for s in sorted(stage_ids):
            try:
                attempt = store.lastStageAttempt(s)
            except Exception:  # a stage of a job that ended before submitting it
                continue
            status = attempt.status().toString()
            if status == "SKIPPED":  # its output was reused: it ran no task
                continue
            stages += 1
            done, total = attempt.numCompleteTasks(), attempt.numTasks()
            if status != "COMPLETE" or done != total:
                self.incomplete.append(f"{sp.name}: stage {s} {status}, {done}/{total} tasks")
            for key, (getter, scale) in STAGE_COUNTERS.items():
                totals[key] += getattr(attempt, getter)() * scale
        sp.jobs = len(job_ids)
        sp.stages = stages
        sp.counters = totals

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                rec = asdict(sp)
                rec["wall_s"] = sp.wall_s
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover (children
    of one span never overlap: the client is single-threaded)."""
    child = {sp.span_id: 0.0 for sp in spans}
    for sp in spans:
        if sp.parent_id in child:
            child[sp.parent_id] += sp.wall_s
    return {sp.span_id: sp.wall_s - child[sp.span_id] for sp in spans}


def layer_report(spans: list[Span], cores: int) -> dict[str, dict]:
    """Per span name: the number of calls and, as medians over them, wall
    and self time, jobs, the stage counters and parallel efficiency =
    executor_run_s / (wall_s x cores) — below 1 the cores waited."""
    selfs = self_times(spans)
    by_name: dict[str, list[Span]] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)
    out = {}
    for name, group in by_name.items():
        row = {
            "calls": len(group),
            "wall_s": median(sp.wall_s for sp in group),
            "self_s": median(selfs[sp.span_id] for sp in group),
            "jobs": median(sp.jobs for sp in group),
        }
        for key in STAGE_COUNTERS:
            row[key] = median(sp.counters[key] for sp in group)
        row["parallel_efficiency"] = median(
            sp.counters["executor_run_s"] / (sp.wall_s * cores) for sp in group
        )
        out[name] = row
    return out
