"""Spans around calls into the engine, with Spark work deltas per span.

A `Tracer` records one span per wrapped call: name, start, end, parent span
and the run's trace id. Around each span it drains Spark's listener bus and
reads the driver's status store, so every span carries the jobs, stages,
tasks, task time, GC time, shuffle, spill and input bytes its calls caused.
Spans are kept in memory and written out once, by `write`.

A disabled tracer records nothing and touches no Spark state, so the
untraced run pays only a context-manager call per span. `off()` disables
an enabled tracer for a block, so a traced run can time some operations
untraced.

`wrap` swaps a function for a span-recording wrapper, so calls an engine
function makes internally (`Importer.run_import` calling `load_type`, say)
are split by module without changing the engine. `unwrap_all` restores
every original.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "task_time_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes",
)
_DRAIN_MS = 60_000


class SparkCounters:
    """Reads job and stage records from the driver's status store.

    Job and stage ids only grow, so a mark is the newest id of each, and
    the work since a mark is every record with a larger id. The session
    must retain enough jobs and stages (`spark.ui.retainedJobs`,
    `spark.ui.retainedStages`) that none is evicted within a span."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._kv = jsc.statusStore().store()
        loader = sc._jvm.Thread.currentThread().getContextClassLoader()

        def cls(name: str):
            return sc._jvm.java.lang.Class.forName(
                f"org.apache.spark.status.{name}", True, loader
            )

        self._jobs = cls("JobDataWrapper")
        self._stages = cls("StageDataWrapper")

    def _newest(self, wrapper_cls):
        it = self._kv.view(wrapper_cls).reverse().closeableIterator()
        try:
            return it.next().info() if it.hasNext() else None
        finally:
            it.close()

    def mark(self) -> tuple[int, int]:
        self._bus.waitUntilEmpty(_DRAIN_MS)
        job = self._newest(self._jobs)
        stage = self._newest(self._stages)
        return (
            -1 if job is None else job.jobId(),
            -1 if stage is None else stage.stageId(),
        )

    def since(self, mark: tuple[int, int]) -> dict:
        self._bus.waitUntilEmpty(_DRAIN_MS)
        job0, stage0 = mark
        out = dict.fromkeys(SPARK_FIELDS, 0)
        it = self._kv.view(self._jobs).reverse().closeableIterator()
        try:
            while it.hasNext() and it.next().info().jobId() > job0:
                out["jobs"] += 1
        finally:
            it.close()
        it = self._kv.view(self._stages).reverse().closeableIterator()
        try:
            while it.hasNext():
                s = it.next().info()
                if s.stageId() <= stage0:
                    break
                if str(s.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["task_time_s"] += s.executorRunTime() / 1000
                out["gc_s"] += s.jvmGcTime() / 1000
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["input_bytes"] += s.inputBytes()
        finally:
            it.close()
        return out


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self.self_s = 0.0  # time the tracer itself spent reading Spark state
        self._stack: list[Span] = []
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []
        self._counters = SparkCounters(spark) if enabled else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        mark = self._counters.mark()
        sp = Span(
            name=name,
            span_id=self._next_id,
            parent=self._stack[-1].span_id if self._stack else None,
            trace_id=self.trace_id,
            start=0.0,
            attrs=attrs,
        )
        self._next_id += 1
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.self_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.spark = self._counters.since(mark)
            self._stack.pop()
            self.spans.append(sp)
            self.self_s += time.perf_counter() - sp.end

    @contextmanager
    def off(self):
        """Record no span inside the block."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Replace `owner.attr` by a wrapper that runs it inside a span.
        `name` is a span name or a function of the call's arguments;
        `on_result(span, result, *args, **kwargs)` may record counts from
        the result.
        A dict owner has its item `attr` replaced."""
        if not self.enabled:
            return
        original = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            with tracer.span(span_name) as sp:
                result = original(*args, **kwargs)
                if on_result is not None and sp is not None:
                    on_result(sp, result, *args, **kwargs)
                return result

        wrapper.__wrapped__ = original
        self._patched.append((owner, attr, original))
        _set(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            _set(owner, attr, original)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s), sort_keys=True) + "\n")


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)
