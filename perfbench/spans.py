"""In-memory spans around the benchmark's calls into each engine module.

A span records name, start, end, parent and the trace (one timed run) it
belongs to. With a SparkContext attached, every span also becomes the job
group of the jobs started inside it, so Spark's event log can be split per
span (``eventlog.py``). Spans stay in memory and are written out once, when
the benchmark ends.
"""

from __future__ import annotations

import json
import time
import weakref
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        """The Spark job group id of the jobs this span started."""
        return f"pb/{self.trace_id}/{self.span_id}/{self.name}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.trace_id = 0

    def new_trace(self) -> int:
        self.trace_id += 1
        return self.trace_id

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=len(self.spans),
            name=name,
            trace_id=self.trace_id,
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def in_trace(self, trace_id: int) -> list[Span]:
        return [s for s in self.spans if s.trace_id == trace_id]

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "self_s": own[sp.span_id]}) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = union_length(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in children.get(sp.span_id, [])
            if c.end > sp.start and c.start < sp.end
        )
        out[sp.span_id] = sp.duration - covered
    return out


def prefix_self_times(passes: list[dict[str, float]], order: list[str]) -> tuple[dict[str, float], list[str]]:
    """Self times of nested prefixes of a job, each prefix containing the one
    before it in ``order``; ``passes`` holds each pass's seconds per prefix.

    A prefix's time is its minimum over the passes (host load only adds
    time), and a layer's self time is its prefix's time minus the previous
    prefix's. A self time more negative than the larger pass-to-pass range
    of its two prefixes means the prefixes do not nest, and is reported as a
    problem; a smaller negative one is within the noise."""
    best = {name: min(p[name] for p in passes) for name in order}
    spread = {name: max(p[name] for p in passes) - best[name] for name in order}
    own, problems, prev = {}, [], None
    for name in order:
        own[name] = best[name] - (best[prev] if prev else 0.0)
        noise = max(spread[name], spread[prev] if prev else 0.0)
        if own[name] < -noise:
            problems.append(f"{name} self time {own[name]:.4f} s is below -{noise:.4f} s, the noise")
        prev = name
    return own, problems


class CallCounter:
    """Inside ``with CallCounter(owner, attr) as c:``, ``owner.attr`` is
    wrapped so that ``c.calls`` and ``c.seconds`` count and time its calls;
    the original is put back on exit.

    With ``track_hits``, ``c.hits`` counts calls that returned an object
    already returned in this block, which is how a plan cache shows from
    outside. Returned objects are held by weak reference only, so the
    wrapper keeps nothing alive that the program would have released."""

    def __init__(self, owner, attr: str, track_hits: bool = False):
        self.owner, self.attr, self.track_hits = owner, attr, track_hits
        self.calls = 0
        self.hits = 0
        self.seconds = 0.0
        self._seen: dict[int, weakref.ref] = {}

    def __enter__(self):
        orig = self.orig = getattr(self.owner, self.attr)

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
            if self.track_hits:
                seen = self._seen.get(id(out))
                if seen is not None and seen() is out:
                    self.hits += 1
                else:
                    self._seen[id(out)] = weakref.ref(out)
            return out

        setattr(self.owner, self.attr, wrapper)
        return self

    def __exit__(self, *exc) -> None:
        setattr(self.owner, self.attr, self.orig)
        self._seen.clear()
