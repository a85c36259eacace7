"""Spans around calls into the package's layers, for the traced run.

``NullTracer`` is what untraced runs use: a span only marks where the
operation ends its plan-building step, so the workload code is the same
in both modes. ``Tracer`` additionally

* runs each span's Spark jobs under their own job group and, when the
  span ends, reads the jobs' stages from the status store (tasks,
  executor run time, GC time, shuffle-write and output bytes);
* wraps ``DataFrame.collect`` to add each collected plan's Catalyst
  phase times (analysis, optimization, planning);
* wraps the public functions of ``sources.fsutil`` to count the calls
  each span makes into the file-system layer and the time they take.

Spans (name, start, end, parent, request id) are kept in memory; the
caller writes them out once, at exit.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field

#: Per-call counters a span collects; each becomes ``<op>.<name>``.
SPAN_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "shuffle_write_bytes",
    "output_bytes", "single_task_stage_ms",
)


@dataclass
class Span:
    name: str
    request: int
    parent: int | None
    phase: str | None
    start: float
    end: float = 0.0
    built: float | None = None
    counts: dict = field(default_factory=dict)
    gc_ms: float = 0.0
    catalyst_ms: float = 0.0
    fs_calls: int = 0
    fs_ms: float = 0.0

    def mark_built(self) -> None:
        """The DataFrame is returned; everything after is its action."""
        self.built = time.perf_counter()

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


class NullTracer:
    """Untraced runs: spans cost one object and two clock reads."""

    enabled = False
    phase: str | None = None  # the workload phase new spans belong to

    @contextlib.contextmanager
    def span(self, name: str, request: int = -1):
        sp = Span(name, request, None, self.phase, time.perf_counter())
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()

    def close(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._fs_depth = 0
        self._restore: list[tuple[object, str, object]] = []
        self._wrap_fsutil()
        self._wrap_collect()

    # -- instrumentation -------------------------------------------------
    def _current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def _patch(self, owner, attr, wrapper) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap_fsutil(self) -> None:
        from inception_eventstore_spark.sources import fsutil

        for attr in dir(fsutil):
            fn = getattr(fsutil, attr)
            if attr.startswith("_") or not callable(fn) or getattr(
                fn, "__module__", None
            ) != fsutil.__name__:
                continue
            self._patch(fsutil, attr, self._fs_wrapper(fn))

    def _fs_wrapper(self, fn):
        def wrapped(*args, **kwargs):
            # nested fsutil calls (data_file_count → list_data_files)
            # count once, at the outermost call
            self._fs_depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._fs_depth -= 1
                sp = self._current()
                if sp is not None and self._fs_depth == 0:
                    sp.fs_calls += 1
                    sp.fs_ms += (time.perf_counter() - t0) * 1000.0

        return wrapped

    def _wrap_collect(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        original = DataFrame.collect
        tracer = self

        def collect(df):
            rows = original(df)
            sp = tracer._current()
            if sp is not None:
                sp.catalyst_ms += _catalyst_ms(df)
            return rows

        self._patch(DataFrame, "collect", collect)

    def close(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, request: int = -1):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, request, parent, self.phase, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._read_stages(sp, group)
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"perfbench-{self._stack[-1] + 1}", outer.name)

    def _read_stages(self, sp: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            text = store.job(jid).stageIds().mkString(",")
            stage_ids.update(int(s) for s in text.split(",") if s)
        c = dict.fromkeys(SPAN_COUNTERS, 0)
        c["jobs"] = len(job_ids)
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["executor_run_ms"] += st.executorRunTime()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["output_bytes"] += st.outputBytes()
            if st.numTasks() == 1:
                c["single_task_stage_ms"] += st.executorRunTime()
            sp.gc_ms += st.jvmGcTime()
        sp.counts = c

    # -- summaries ----------------------------------------------------------
    def self_ms(self, index: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[index]
        covered = sum(
            c.wall_ms for c in self.spans if c.parent == index
        )
        return max(sp.wall_ms - covered, 0.0)

    def _calls(self, op: str) -> list[Span]:
        """The op's spans outside warm-up, in call order."""
        return [s for s in self.spans
                if s.name == op and not (s.phase or "").startswith("warmup")]

    def op_metrics(self, ops, first_k: int) -> dict[str, float]:
        """Per operation: median wall time over every call, and median
        counters over its first ``first_k`` calls — the request sequence
        is seeded, so those calls, and their Spark work, are the same in
        every traced run of a seed."""
        out: dict[str, float] = {}
        for op in ops:
            calls = self._calls(op)
            out[f"{op}.wall_ms"] = _median([s.wall_ms for s in calls])
            for key in SPAN_COUNTERS:
                out[f"{op}.{key}"] = _median(
                    [s.counts.get(key, 0) for s in calls[:first_k]]
                )
        return out

    def build_ms(self, ops) -> dict[str, float]:
        out = {}
        for op in ops:
            built = [(s.built - s.start) * 1000.0
                     for s in self._calls(op) if s.built is not None]
            out[f"{op}.build_ms"] = _median(built)
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name, "request": s.request, "parent": s.parent,
                "phase": s.phase,
                "start_ms": round((s.start - t0) * 1000, 3),
                "end_ms": round((s.end - t0) * 1000, 3),
                "self_ms": round(self.self_ms(i), 3),
                **s.counts,
                "fs_calls": s.fs_calls, "catalyst_ms": s.catalyst_ms,
                "gc_ms": s.gc_ms,
            }
            for i, s in enumerate(self.spans)
        ]


def _catalyst_ms(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0
