"""Spans with Spark's own per-stage counters, kept in memory.

Spark fuses the layers of a pipeline into whole-stage-codegen stages, and a
Python call only builds a plan, so a layer cannot be timed from inside the
real job. Instead each span times a *prefix plan*: the pipeline cut after one
layer and run to completion. A span's children are the shorter prefixes its
plan re-executes, ``repeat`` times each, and its self time is its duration
minus ``repeat`` x each child's duration. Self times therefore add up, weighted
by how often each prefix runs inside the full job, to the full job's time.

Every span runs its Spark jobs under a job group of its own, so after it ends
the span collects, from the status store, the stage counters of exactly its
jobs: input bytes, shuffle bytes, spill, task run time and GC time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "run_time_ms",
    "gc_time_ms",
    "stages",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None  # index of the parent span, None for a root
    repeat: int = 1  # how many times the parent's plan runs this plan
    jobs: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one SparkSession; write them out with ``dump``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    @contextmanager
    def span(self, name: str, children: dict[int, int] | None = None):
        """Time the block as span ``name``; yields the span's index.
        ``children`` maps the index of each earlier span whose plan this
        span's plan contains to how many times it runs it."""
        idx = len(self.spans)
        group = f"perfbench-span-{idx}"
        self.spans.append(Span(name, 0.0, 0.0))
        for child, repeat in (children or {}).items():
            self.spans[child].parent = idx
            self.spans[child].repeat = repeat
        self.sc.setJobGroup(group, name)
        submitted_after_ms = time.time() * 1000.0 - 1.0
        start = time.perf_counter()
        try:
            yield idx
        finally:
            end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        span = self.spans[idx]
        span.start, span.end = start, end
        span.jobs, span.counters = self._collect(group, submitted_after_ms)

    def _collect(self, group: str, submitted_after_ms: float) -> tuple[int, dict]:
        # Task and stage events reach the status store through the listener
        # bus asynchronously; drain it so the span's stages are complete.
        self._bus.waitUntilEmpty()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids = set()
        for j in job_ids:
            stage_ids.update(self._to_java(self._store.job(j).stageIds()))
        totals = dict.fromkeys(COUNTERS, 0)
        for sid in stage_ids:
            attempts = self._to_java(
                self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            )
            for sd in attempts:
                # A stage a job skipped (its shuffle output already existed)
                # ran, if at all, before this span.
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                sub = sd.submissionTime()
                if sub.isDefined() and sub.get().getTime() < submitted_after_ms:
                    continue
                totals["input_bytes"] += sd.inputBytes()
                totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                totals["spill_bytes"] += sd.diskBytesSpilled()
                totals["run_time_ms"] += sd.executorRunTime()
                totals["gc_time_ms"] += sd.jvmGcTime()
                totals["stages"] += 1
        return len(job_ids), totals

    def self_time(self, idx: int) -> float:
        """Span duration minus ``repeat`` x the duration of each child."""
        return self.spans[idx].duration - sum(
            s.repeat * s.duration for s in self.spans if s.parent == idx
        )

    def child(self, parent: int, name: str) -> int:
        """Index of the child of ``parent`` named ``name``."""
        return next(
            i for i, s in enumerate(self.spans) if s.parent == parent and s.name == name
        )

    def self_times_by_name(self, roots: list[int]) -> dict[str, list[float]]:
        """Self time of every span under ``roots``, grouped by span name."""
        out: dict[str, list[float]] = {}
        todo = list(roots)
        while todo:
            i = todo.pop()
            out.setdefault(self.spans[i].name, []).append(self.self_time(i))
            todo.extend(j for j, s in enumerate(self.spans) if s.parent == i)
        return out

    def multiplicity(self, root: int) -> dict[str, int]:
        """How many times the root's plan runs each span's plan, by name."""
        out = {self.spans[root].name: 1}
        todo = [(root, 1)]
        while todo:
            i, m = todo.pop()
            for j, s in enumerate(self.spans):
                if s.parent == i:
                    out[s.name] = m * s.repeat
                    todo.append((j, m * s.repeat))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec.update(index=i, duration=s.duration, self_time=self.self_time(i))
                f.write(json.dumps(rec) + "\n")
