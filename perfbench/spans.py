"""Spans, Spark status-store reads and the statistics the benchmark reports.

A span times one call into a program layer from outside. When tracing
is on, the span labels the Spark jobs it launches with its own job
group, and when it ends it reads that group's job and stage totals from
the Spark driver's status store (``spark.ui.enabled=false`` keeps the store,
only the web UI is off). The read happens right after the span, so the
store's retention limits (1000 jobs and stages by default) never evict
a span's stages before they are counted.
"""

from __future__ import annotations

import itertools
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "tasks",
)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs of start, end),
    each clipped to ``[lo, hi]`` when given; overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(values) -> dict:
    """The highest percentile with at least ten samples beyond it.

    A sample of n values has n * (1 - p/100) values beyond the p-th
    percentile. When no percentile above the median qualifies (n < 40),
    the median itself is reported; ``p`` and ``n`` say which."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            return {"value": percentile(values, p), "p": p, "n": n}
    return {"value": statistics.median(values), "p": 50.0, "n": n}


class OpCounter:
    """Attempted and failed operations; a failed output check counts as
    a failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn, *args, **kwargs):
        """Call ``fn`` as one attempted operation; return its result, or
        None when it raised (the failure is counted and recorded)."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - the benchmark keeps running and reports it
            self.failed += 1
            self.errors.append(f"{label}: {type(exc).__name__}: {exc}"[:500])
            return None

    def check(self, label: str, ok: bool, detail: str = "") -> bool:
        """Record one output check as an attempted operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {label} failed {detail}"[:500])
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Span:
    name: str
    parent: "Span | None"
    t0: float = 0.0
    t1: float = 0.0
    t_done: float = 0.0  # t1 plus the tracer's own status-store read
    e0: float = 0.0
    e1: float = 0.0
    group: str | None = None
    jobs: int = 0
    totals: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
    stage_intervals: list = field(default_factory=list)
    children: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        """Duration minus the part of it that child spans, and the
        tracer's reads after them, cover."""
        return self.seconds - union_length(
            [(c.t0, c.t_done) for c in self.children], self.t0, self.t1
        )

    @property
    def driver_idle_s(self) -> float:
        """Duration minus the union of intervals in which one of the
        span's (or its children's) stages was running."""
        return max(0.0, (self.e1 - self.e0) - union_length(self.stage_intervals, self.e0, self.e1))


class StatusStore:
    """Reads per-job-group stage totals from the Spark driver's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc
        self._store = self._jsc.sc().statusStore()
        self._bus = self._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of every finished stage."""
        self._bus.waitUntilEmpty()

    def group_totals(self, group: str) -> tuple[int, dict, list]:
        """(job count, stage totals, stage run intervals in epoch seconds)
        for every job launched under ``group``."""
        from py4j.protocol import Py4JJavaError

        self.drain()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        intervals = []
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran may have no attempt
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            totals["executor_run_s"] += st.executorRunTime() / 1e3
            totals["executor_cpu_s"] += st.executorCpuTime() / 1e9
            totals["gc_s"] += st.jvmGcTime() / 1e3
            totals["input_bytes"] += st.inputBytes()
            totals["output_bytes"] += st.outputBytes()
            totals["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            totals["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            totals["tasks"] += st.numTasks()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else time.time() * 1e3
                intervals.append((sub.get().getTime() / 1e3, end / 1e3))
        return len(job_ids), totals, intervals


class Tracer:
    """Span recorder. With ``enabled`` false, spans only time their
    body: no job labels and no status-store reads."""

    def __init__(self, spark, enabled: bool) -> None:
        self._ids = itertools.count()
        self.spark = spark
        self.enabled = enabled
        self.store = StatusStore(spark) if enabled else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, parent=parent)
        sc = self.spark.sparkContext
        if self.enabled:
            sp.group = f"perfbench-{id(self):x}-{next(self._ids)}-{name}"
            sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.e0 = time.time()
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.e1 = time.time()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc._jsc.clearJobGroup()
                self.absorb_group(sp, sp.group)
                for c in sp.children:
                    _add(sp, c.jobs, c.totals, c.stage_intervals)
            sp.t_done = time.perf_counter()
            if parent is not None:
                parent.children.append(sp)
            self.spans.append(sp)

    @contextmanager
    def wrap(self, target, attr: str, name: str):
        """While active and tracing, every call of ``target.attr`` (a
        module function or an instance's method) runs inside span
        ``name``, so a program path is timed layer by layer without
        being rebuilt by hand. Untraced, it changes nothing."""
        if not self.enabled:
            yield
            return
        own = attr in vars(target)
        orig = getattr(target, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(target, attr, spanned)
        try:
            yield
        finally:
            if own:
                setattr(target, attr, orig)
            else:
                delattr(target, attr)

    def absorb_group(self, sp: Span, group: str) -> None:
        """Add the totals of job group ``group`` to ``sp``: its own group,
        or one the program set itself (a streaming query labels its jobs
        with its run id)."""
        if self.enabled:
            _add(sp, *self.store.group_totals(group))


def _add(sp: Span, jobs: int, totals: dict, intervals: list) -> None:
    sp.jobs += jobs
    for k, v in totals.items():
        sp.totals[k] += v
    sp.stage_intervals.extend(intervals)
