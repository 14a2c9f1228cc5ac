"""Spans around wbx layer calls, and Spark stage metrics per span.

Spark is lazy, so timing a call into wbx measures only plan building. In a
traced op the benchmark replaces, for the duration of the op, the module-level
functions the layers go through with wrappers (``hooks``). A wrapper
materializes its DataFrame input in a span named for the inline work that
produced it, calls the real function, and materializes the output in the
layer's own span, so each span's Spark jobs compute exactly that layer's
work. Every span runs under its own Spark job group; stage metrics are read
back from the driver's status store by group after the op.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from perfbench.procstat import tree_cpu_s


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    rows_in: int | None = None
    rows_out: int | None = None
    fn: str = ""
    cpu_s: float = 0.0
    jobs: int = 0
    stages: list = field(default_factory=list)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s.end - s.start - covered)
    return out


def self_cpu(spans: list[Span]) -> list[float]:
    """Per span: process-tree CPU over its duration minus its children's
    (children run one after another, so their CPU adds up)."""
    out = [s.cpu_s for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.cpu_s
    return out


def _opt(v):
    return v.get() if v.isDefined() else None


def stage_metrics(sc, groups: set[str]) -> tuple[dict[str, list[dict]], dict[str, int]]:
    """Completed stages, and the number of jobs, of every job group in
    ``groups``, from the status store.

    Works with ``spark.ui.enabled=false``: the store is fed by the listener
    bus, which is drained first so the last job's stages are present."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out: dict[str, list[dict]] = {g: [] for g in groups}
    jobs_n = dict.fromkeys(groups, 0)
    seen: set[tuple[int, int]] = set()
    jobs = store.jobsList(None).iterator()
    while jobs.hasNext():
        job = jobs.next()
        group = _opt(job.jobGroup())
        if group not in out:
            continue
        jobs_n[group] += 1
        sids = job.stageIds().iterator()
        while sids.hasNext():
            sid = sids.next()
            attempts = store.stageData(sid, False, None, False, None).iterator()
            while attempts.hasNext():
                sd = attempts.next()
                key = (sid, sd.attemptId())
                if str(sd.status()) == "SKIPPED" or key in seen:
                    continue
                seen.add(key)
                durations = []
                tasks = store.taskList(sid, sd.attemptId(), 100000).iterator()
                while tasks.hasNext():
                    d = _opt(tasks.next().duration())
                    if d is not None:
                        durations.append(d / 1000.0)
                out[group].append(
                    {
                        "stage": sid,
                        "tasks": sd.numTasks(),
                        "failed_tasks": sd.numFailedTasks(),
                        "run_s": sd.executorRunTime() / 1000.0,
                        "cpu_s": sd.executorCpuTime() / 1e9,
                        "gc_s": sd.jvmGcTime() / 1000.0,
                        "shuffle_write_mb": sd.shuffleWriteBytes() / (1 << 20),
                        "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled())
                        / (1 << 20),
                        "task_s": durations,
                    }
                )
    return out, jobs_n


@dataclass(frozen=True)
class Hook:
    """Wrap ``owner.attr`` as layer ``layer``.

    ``pre``: name of the span that materializes the first DataFrame argument
    (the inline work since the previous wrapped call); None leaves it lazy.
    The DataFrame (or dict of DataFrames) returned is materialized in the
    layer's span."""

    owner: object
    attr: str
    layer: str
    pre: str | None = None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []
        self._cached: list[DataFrame] = []
        self._rows: dict[int, int] = {}

    @contextlib.contextmanager
    def span(self, name: str, fn: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent, f"perfbench-{len(self.spans)}", 0.0, fn=fn)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        self.sc.setJobGroup(s.group, name)
        cpu0 = tree_cpu_s()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_s = tree_cpu_s() - cpu0
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(p.group, p.name)

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Persist and count ``df``; a frame this tracer already holds is free."""
        if id(df) in self._rows:
            return df, self._rows[id(df)]
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = df.count()
        self._cached.append(df)
        self._rows[id(df)] = n
        return df, n

    def rows(self, df) -> int | None:
        return self._rows.get(id(df))

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self._rows.clear()

    def _wrap(self, hook: Hook, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            args = list(args)
            i = next((k for k, a in enumerate(args) if isinstance(a, DataFrame)), None)
            rows_in = None
            if i is not None:
                if hook.pre is not None:
                    with self.span(hook.pre, "<" + hook.attr) as s:
                        args[i], rows_in = self.materialize(args[i])
                        s.rows_out = rows_in
                else:
                    rows_in = self.rows(args[i])
            with self.span(hook.layer, hook.attr) as s:
                s.rows_in = rows_in
                result = fn(*args, **kwargs)
                if isinstance(result, DataFrame):
                    result, s.rows_out = self.materialize(result)
                elif isinstance(result, dict):
                    result = {
                        k: self.materialize(v)[0] if isinstance(v, DataFrame) else v
                        for k, v in result.items()
                    }
            return result

        return wrapper

    @contextlib.contextmanager
    def hooked(self, hooks: list[Hook]):
        """Install ``hooks`` for the duration of the block, then restore."""
        saved = []
        try:
            for h in hooks:
                fn = h.owner.__dict__[h.attr]
                saved.append((h.owner, h.attr, fn))
                setattr(h.owner, h.attr, self._wrap(h, fn))
            yield
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def collect_stages(self, op: int) -> None:
        """Attach status-store stage rows to every span of ``op``."""
        mine = [s for s in self.spans if s.op == op]
        rows, jobs = stage_metrics(self.sc, {s.group for s in mine})
        for s in mine:
            s.stages, s.jobs = rows[s.group], jobs[s.group]
