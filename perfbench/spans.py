"""Spans around calls into the package's public functions, with Spark's
own per-stage counters for each span.

A span is opened by the benchmark itself (one operation of a workload)
or by a wrapper that :func:`instrument` installs over a package entry
point. Each span runs under its own Spark job group, so every job the
program submits is attributed to the innermost open span. When the span
closes, its jobs' stages are read from the status store
(``statusTracker`` + ``statusStore().lastStageAttempt``, which works with
the UI disabled) before they can age out of it.

A span's self time is its duration minus the durations of its direct
children; its counters are its own jobs only (children carry theirs).
The wrappers only time and count, they never change arguments or
results; :func:`instrument` returns an undo callable.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: per-stage counters summed into a span; values are the status store's
#: ``StageData`` getters
STAGE_COUNTERS = {
    "tasks": "numCompleteTasks",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "executor_cpu_ns": "executorCpuTime",
    "task_gc_ms": "jvmGcTime",
}


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    result: object = None

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, counter: str) -> float:
        """``counter`` summed over this span and every descendant."""
        return sum(s.counters.get(counter, 0) for s in self.walk())


class Tracer:
    """Collects spans for one SparkSession, in memory, until read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self.roots: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"perfbench-{next(self._ids)}", parent, time.perf_counter())
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            s.counters = self._read_counters(s.group)
            (parent.children if parent else self.roots).append(s)

    def _read_counters(self, group: str) -> dict:
        # job/stage events reach the status store through the async
        # listener bus; drain it so the span's last stage is visible
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        out.update(jobs=0, stages=0, job_ms=0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            job = store.job(job_id)
            if job.completionTime().isDefined():
                out["job_ms"] += (
                    job.completionTime().get().getTime()
                    - job.submissionTime().get().getTime()
                )
            for stage_id in info.stageIds:
                data = store.lastStageAttempt(stage_id)
                if str(data.status()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                for key, getter in STAGE_COUNTERS.items():
                    out[key] += int(getattr(data, getter)())
        return out

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a span-recording wrapper; returns
        the undo callable. The span's ``result`` is the call's result."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                s.result = orig(*args, **kwargs)
                return s.result

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)


def instrument(tracer: Tracer):
    """Wrap the package entry points the workloads reach. ``sweep``
    resolves the sinks/tables functions and ``cdc_tick`` at call time,
    so replacing the module attributes intercepts them; ``VectorStore``
    binds its sinks functions at import, so its own methods are wrapped
    instead. Returns one undo callable for all of them."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        sinks,
        tables,
        vector_store,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming import (
        pipeline,
    )

    VS = vector_store.VectorStore
    undo = [
        tracer.wrap(sinks, "recover_table", "sinks.recover_table"),
        tracer.wrap(sinks, "upsert_parquet_partitioned", "sinks.upsert_parquet_partitioned"),
        tracer.wrap(sinks, "upsert_parquet", "sinks.upsert_parquet"),
        tracer.wrap(tables, "load_table", "tables.load_table"),
        tracer.wrap(pipeline, "cdc_tick", "pipeline.cdc_tick"),
        tracer.wrap(pipeline, "sweep", "pipeline.sweep"),
        tracer.wrap(VS, "upsert", "vector_store.upsert"),
        tracer.wrap(VS, "build_ivf", "vector_store.build_ivf"),
        tracer.wrap(VS, "query", "vector_store.query"),
    ]

    def undo_all():
        for u in reversed(undo):
            u()

    return undo_all


class NullTracer:
    """The untraced run: spans cost one generator frame and record
    nothing (no job groups, no status-store reads)."""

    @contextmanager
    def span(self, name: str):
        yield None
