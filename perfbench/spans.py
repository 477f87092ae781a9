"""Spans around the benchmark's calls into each layer, and the Spark jobs
each span launched.

A span records name, start, end, parent and operation id, and adds a Spark
job tag while it is open. Tags nest, so a job carries the tags of every
open span; it belongs to the innermost one, which has the highest id.
Spans stay in memory; ``harvest_jobs`` reads job and stage data from the
SparkContext's status store once, after the timed work.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

TAG_PREFIX = "pbspan"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float = 0.0  # perf_counter seconds
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: same call sites, no spans, no tags."""

    enabled = False

    def span(self, name: str, op: int = 0) -> contextlib.AbstractContextManager:
        return contextlib.nullcontext()

    def attach(self, sc) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        self.bookkeeping_s = 0.0  # time spent inside span enter/exit

    def attach(self, sc) -> None:
        """Start tagging jobs; spans opened before the session exists
        cannot launch jobs."""
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, op: int = 0) -> Iterator[Span]:
        t0 = time.perf_counter()
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, op)
        self.spans.append(sp)
        self._stack.append(sp.id)
        if self._sc is not None:
            self._sc.addJobTag(f"{TAG_PREFIX}{sp.id}")
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self._sc is not None:
                self._sc.removeJobTag(f"{TAG_PREFIX}{sp.id}")
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - sp.end

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


@dataclass
class Job:
    id: int
    span: int | None
    start: float  # perf_counter seconds
    end: float
    stages: list[int]
    tasks: int
    by_time: bool = False  # owner found from the submission time, not a tag


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def owner_span(tags: list[str]) -> int | None:
    """The innermost open span when the job started: tags nest, and inner
    spans have higher ids."""
    ids = [int(t[len(TAG_PREFIX):]) for t in tags if t.startswith(TAG_PREFIX)]
    return max(ids) if ids else None


def span_open_at(spans: list[Span], t: float) -> int | None:
    """The innermost span open at time ``t``. Spans are opened by one
    client thread, so the open ones nest and the innermost started last."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= spans[best].start):
            best = sp.id
    return best


def harvest_jobs(sc, tracer: Tracer) -> tuple[list[Job], dict[int, int]]:
    """Assign every finished job to its innermost span, and read the
    shuffle bytes each of their stages wrote, from the status store
    (populated with spark.ui.enabled=false).

    A job launched from a thread the package starts carries no tag (JVM
    thread-local tags do not follow a Python thread); it goes to the
    innermost span open when it was submitted. A job that still has no
    span was launched outside every span."""
    store = sc._jsc.sc().statusStore()
    # epoch ms -> perf_counter seconds
    shift = time.perf_counter() - time.time()
    jobs = []
    for j in _scala_list(store.jobsList(None)):
        sub, done = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        jobs.append(Job(
            int(j.jobId()), owner_span(_scala_list(j.jobTags())),
            sub.get().getTime() / 1000.0 + shift, done.get().getTime() / 1000.0 + shift,
            [int(s) for s in _scala_list(j.stageIds())], int(j.numTasks()),
        ))
    stages = {}
    for sid in sorted({s for job in jobs for s in job.stages}):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JError:  # evicted or never submitted
            continue
        stages[sid] = int(s.shuffleWriteBytes())
    attribute(tracer.spans, jobs)
    return jobs, stages


def attribute(spans: list[Span], jobs: list[Job]) -> None:
    """Give untagged jobs the span open at their submission, and list every
    job on its span."""
    for job in jobs:
        if job.span is None:
            job.span = span_open_at(spans, job.start)
            job.by_time = job.span is not None
        if job.span is not None and job.span < len(spans):
            spans[job.span].jobs.append(job.id)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
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


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    return span.dur - union_length([(c.start, c.end) for c in children], span.start, span.end)


def outside_jobs_time(span: Span, children: list[Span], jobs: list[Job]) -> float:
    """Self time during which no Spark job was running."""
    covered = [(c.start, c.end) for c in children] + [(j.start, j.end) for j in jobs]
    return span.dur - union_length(covered, span.start, span.end)


def layer_times(spans: list[Span], jobs: list[Job]) -> dict[str, tuple[float, float]]:
    """{layer: (self seconds, self seconds outside any job)} summed over spans."""
    kids: dict[int | None, list[Span]] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)
    out: dict[str, tuple[float, float]] = {}
    for sp in spans:
        ch = kids.get(sp.id, [])
        s, o = out.get(sp.layer, (0.0, 0.0))
        out[sp.layer] = (s + self_time(sp, ch), o + outside_jobs_time(sp, ch, jobs))
    return out


def plan_python_bytes(jdf) -> int:
    """Bytes sent to Python workers by the executed plan (the
    ``pythonDataSent`` SQL metric of every Python-UDF node), read after the
    action ran. Walks through adaptive plans and query stages."""
    total = 0
    todo = [jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        metric = node.metrics().get("pythonDataSent")
        if metric.isDefined():
            total += int(metric.get().value())
        todo.extend(_scala_list(node.children()))
    return total
