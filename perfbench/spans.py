"""In-memory span tracer for the benchmark's traced runs.

A span is one call into a layer: its name, start, end, parent and the
Spark jobs charged to it.  Spans stay in memory while a run measures
and are written out when it ends.

Spark jobs are charged to the innermost open span: entering a span
makes its id the thread's job group, leaving it restores the parent's,
and after the operation each span's jobs are read back by group.  The
job backend is passed in, so the arithmetic is tested without Spark.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field
from typing import Iterator, Protocol


class JobBackend(Protocol):
    def set_group(self, group: str | None) -> None:
        """Make ``group`` the job group of jobs submitted from now on."""

    def jobs_in_group(self, group: str) -> list[int]:
        """Ids of the jobs that ran in ``group``."""


@dataclass
class Span:
    span_id: int
    name: str
    op: int  # the timed operation this span belongs to
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= reach:
            continue
        total += hi - max(lo, reach)
        reach = hi
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(lo, s.start), min(hi, s.end)) for lo, hi in children[s.span_id]]
        out[s.span_id] = s.duration - covered([k for k in kids if k[1] > k[0]])
    return out


class Tracer:
    """Records spans; ``clock`` and ``jobs`` are injectable for tests."""

    def __init__(self, jobs: JobBackend, clock=time.perf_counter):
        self.jobs = jobs
        self.clock = clock
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.op = 0

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench-{span.span_id}"

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        s = Span(
            len(self.spans), name, self.op,
            None if parent is None else parent.span_id, self.clock(),
        )
        self.spans.append(s)
        self._open.append(s)
        self.jobs.set_group(self._group(s))
        try:
            yield s
        finally:
            s.end = self.clock()
            self._open.pop()
            self.jobs.set_group(self._group(parent))

    def collect_jobs(self) -> None:
        """Read back the jobs of every span of the current operation.
        Called after the operation, outside its timed interval."""
        for s in self.spans:
            if s.op == self.op and not s.jobs:
                s.jobs = sorted(self.jobs.jobs_in_group(self._group(s)))

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class LayerTotals:
    """Per-name totals over the spans of one operation."""

    total_s: dict[str, float]
    self_s: dict[str, float]
    jobs: dict[str, int]  # jobs charged to the name's own spans
    calls: dict[str, int]

    @property
    def self_sum(self) -> float:
        return sum(self.self_s.values())


def layer_totals(spans: list[Span]) -> LayerTotals:
    st = self_times(spans)
    total: dict[str, float] = defaultdict(float)
    self_: dict[str, float] = defaultdict(float)
    jobs: dict[str, int] = defaultdict(int)
    calls: dict[str, int] = defaultdict(int)
    for s in spans:
        total[s.name] += s.duration
        self_[s.name] += st[s.span_id]
        jobs[s.name] += len(s.jobs)
        calls[s.name] += 1
    return LayerTotals(dict(total), dict(self_), dict(jobs), dict(calls))


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]) -> Iterator[None]:
    """Wrap each ``getattr(owner, attr)`` in a span named ``name`` for
    the duration of the block.  ``owner`` is the module or class through
    which callers resolve the function, so calls made from inside the
    engine are traced too."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    for (owner, attr, fn), (_, _, name) in zip(saved, targets):
        setattr(owner, attr, _traced(tracer, name, fn))
    try:
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def maybe_span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or a no-op when the run is not traced."""
    return tracer.span(name) if tracer else nullcontext()


def _traced(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def subtree(spans: list[Span], root_name: str) -> list[Span]:
    """The spans under (and including) the spans named ``root_name``."""
    keep = {s.span_id for s in spans if s.name == root_name}
    for s in spans:  # parents are recorded before their children
        if s.parent in keep:
            keep.add(s.span_id)
    return [s for s in spans if s.span_id in keep]
