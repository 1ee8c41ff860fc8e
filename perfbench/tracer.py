"""In-memory spans around calls into the engine's layers, plus per-call
Spark counters read back from Spark's own status store.

Spans are recorded from the benchmark's side only: `install_layer_spans`
wraps the engine's layer functions (module attributes and class methods)
for the length of a traced run and restores them afterwards, so no engine
file knows it is being traced. A span that wraps a Spark-running call
also sets a job group named after the call; after the call returns, the
jobs of that group are read from the status store (it works with
`spark.ui.enabled=false`), which gives tasks, stage counts, executor run
and CPU time, shuffle, spill and output bytes without any engine hook.

A layer's self time is its span's duration minus the time covered by its
child spans, so self times of every span under a phase add up to the
phase's wall time.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Spark counters read per call (suffixes of the per-layer metric names).
SPARK_COUNTERS = (
    "tasks", "stages", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "output_bytes", "task_max_over_median",
)


class Span:
    __slots__ = ("name", "parent", "start", "end", "child_s", "ovh_s", "group")

    def __init__(self, name: str, parent: "Span | None", group: str | None):
        self.name = name
        self.parent = parent
        self.group = group
        self.start = time.perf_counter()
        self.end = 0.0
        self.child_s = 0.0
        self.ovh_s = 0.0  # tracer's own time inside this span (store reads)

    @property
    def dur_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur_s - self.child_s


class StatusStoreReader:
    """Per-job-group stage counters from `SparkContext.statusStore()`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self.sc._jvm
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def read(self, group: str) -> dict:
        # status events arrive asynchronously; drain the bus so the store
        # holds every stage of the jobs that just finished
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        skew = 1.0
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if sd.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["output_bytes"] += sd.outputBytes()
            if sd.numCompleteTasks() >= 2:
                summ = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
                if summ.isDefined():
                    run = summ.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        skew = max(skew, mx / med)
        out["task_max_over_median"] = skew
        return out


class Tracer:
    """Spans kept in memory; `enabled=False` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.spark_counters: dict[str, dict] = {}
        self._stack: list[Span] = []
        self._store: StatusStoreReader | None = None
        self._n_groups = 0
        # job-group ids must not collide with another tracer's on a shared session
        self._group_prefix = uuid.uuid4().hex[:8]

    def attach_spark(self, spark) -> None:
        if self.enabled:
            self._store = StatusStoreReader(spark)
            self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, spark_call: bool = False):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        group = None
        if spark_call and self._store is not None:
            self._n_groups += 1
            group = f"{name}#{self._group_prefix}-{self._n_groups}"
            self._sc.setJobGroup(group, name)
        sp = Span(name, parent, group)
        self._stack.append(sp)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.dur_s
            self.spans.append(sp)
            if group is not None:
                t0 = time.perf_counter()
                self._restore_group(parent)
                acc = self.spark_counters.setdefault(name, dict.fromkeys(SPARK_COUNTERS, 0.0))
                for k, v in self._store.read(group).items():
                    if k == "task_max_over_median":
                        acc[k] = max(acc[k], v)
                    else:
                        acc[k] += v
                # the read lands inside the parent's interval: keep it out
                # of the parent's self time and out of every ancestor's wall
                read_s = time.perf_counter() - t0
                if parent is not None:
                    parent.child_s += read_s
                a = parent
                while a is not None:
                    a.ovh_s += read_s
                    a = a.parent

    def _restore_group(self, parent: Span | None) -> None:
        while parent is not None and parent.group is None:
            parent = parent.parent
        if parent is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(parent.group, parent.name)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    # ---- summaries --------------------------------------------------------
    def self_s(self, name: str) -> float:
        return sum(s.self_s for s in self.spans if s.name == name)

    def n_calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def under(self, phase: str) -> list[Span]:
        """Every span nested (at any depth) under spans named `phase`."""
        out = []
        for s in self.spans:
            p = s.parent
            while p is not None and p.name != phase:
                p = p.parent
            if p is not None:
                out.append(s)
        return out

    def coverage(self, phases: list[str]) -> float:
        """Share of the phases' wall time (less the tracer's own store
        reads) that engine-layer spans account for: the layers' self times
        summed, over the phases' durations."""
        wall = sum(s.dur_s - s.ovh_s for s in self.spans if s.name in phases)
        layers = sum(s.self_s for ph in phases for s in self.under(ph))
        return layers / wall if wall > 0 else 0.0


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one enter/exit of an enabled span (no Spark call)."""
    tr = Tracer(True)
    with tr.span("calibrate.outer"):
        t0 = time.perf_counter()
        for _ in range(n):
            with tr.span("calibrate"):
                pass
        dt = time.perf_counter() - t0
    return dt / n


@contextmanager
def install_layer_spans(tracer: Tracer, targets):
    """Temporarily wrap each (owner, attr, span_name, spark_call, on_result)
    target with a span; `on_result(tracer, result)` may record counts.
    Restores every original on exit. No-op when the tracer is disabled."""
    if not tracer.enabled:
        yield
        return
    saved = []
    try:
        for owner, attr, name, spark_call, on_result in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, _wrap(tracer, orig, name, spark_call, on_result))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _wrap(tracer: Tracer, fn, name: str, spark_call: bool, on_result):
    def wrapped(*args, **kwargs):
        with tracer.span(name, spark_call):
            res = fn(*args, **kwargs)
        if on_result is not None:
            on_result(tracer, res)
        return res

    wrapped.__wrapped__ = fn
    return wrapped
