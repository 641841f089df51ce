"""In-memory spans around the engine's module boundaries.

A span has a name, a start, an end, its parent span and the id of the
top-level operation it belongs to. While a span is open, the Spark jobs
its thread starts carry the job group ``pb-<span id>``, so the event log
attributes every job, stage and task to the innermost open span.

Spans are recorded from the benchmark's side only: ``Tracer.patch``
replaces a module or class attribute with a wrapper that opens a span
around the original call, and ``Tracer.restore`` puts every original
back. Nothing in the engine changes.

Lazy layers (functions that only compose a DataFrame) cost nothing at
call time. Their time is measured by a *probe*: the layer's output and
its input are each materialized alone to the ``noop`` sink, and the
layer's self time is the difference. Probe spans are marked so their
jobs are kept out of the operation's own event-log totals.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float | None = None
    probe: bool = False
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.span_id, "name": self.name, "parent": self.parent,
            "op": self.op, "start": self.start, "end": self.end,
            "probe": self.probe, **({"attrs": self.attrs} if self.attrs else {}),
        }


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of ``[start, end]`` that the union of
    ``intervals`` covers."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in intervals if e > start and s < end
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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
    """Span id -> its duration minus the part of its interval covered by
    its child spans."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(s.start, s.start + s.duration, kids[s.span_id])
        for s in spans
    }


def noop(df) -> float:
    """Materialize ``df`` to the noop sink; returns the wall time."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Tracer:
    """Collects spans and named counters for one benchmark run."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        # (operation span id, counter name) -> summed value
        self.counters: dict[tuple[int, str], float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        # Work done on behalf of an operation in a thread that has no open
        # span (e.g. an HTTP handler thread) is parented here.
        self.ambient: Span | None = None

    # -- spans -----------------------------------------------------------
    def current(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, op: bool = False, probe: bool = False, **attrs) -> Iterator[Span]:
        parent = self.current() or (None if op else self.ambient)
        sid = next(self._ids)
        s = Span(
            span_id=sid,
            name=name,
            parent=None if op or parent is None else parent.span_id,
            op=sid if op or parent is None else parent.op,
            start=time.time(),
            probe=probe or (parent is not None and parent.probe),
            attrs=dict(attrs),
        )
        with self._lock:
            self.spans.append(s)
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(s)
        prev = self._group()
        self._set_group(f"{GROUP_PREFIX}{sid}")
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(prev)

    def _group(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id") if self.sc is not None else None

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def probe(self, name: str, out_df, in_df=None) -> float:
        """Self time of a lazy layer: materialize its output, then its
        input, each alone; returns output time minus input time (>= 0)
        and adds it to counter ``name`` of the current operation."""
        with self.span(f"{name}.probe", probe=True):
            t_out = noop(out_df)
            t_in = noop(in_df) if in_df is not None else 0.0
        dt = max(0.0, t_out - t_in)
        self.add(name, dt)
        return dt

    def probe_time(self, op: Span) -> list[tuple[float, float]]:
        """Intervals of ``op``'s probe spans."""
        return [
            (s.start, s.end) for s in self.spans
            if s.op == op.span_id and s.probe and s.end is not None
        ]

    def add(self, counter: str, value: float = 1.0) -> None:
        """Add ``value`` to ``counter`` of the current operation."""
        cur = self.current() or self.ambient
        with self._lock:
            self.counters[(cur.op if cur else 0, counter)] += value

    def counter(self, name: str, ops: list[Span]) -> float:
        """``name`` summed over ``ops``."""
        ids = {o.span_id for o in ops}
        return sum(v for (op, n), v in self.counters.items() if n == name and op in ids)

    # -- patching ----------------------------------------------------------
    def patch(self, owner, attr: str, name: str, after: Callable | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the original
        inside span ``name``. ``after(span, result, args, kwargs)``, when
        given, runs inside the span and returns the (possibly wrapped)
        result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if after is not None:
                    out = after(s, out, args, kwargs)
                return out

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr = new`` until ``restore``."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- queries -------------------------------------------------------------
    def ops(self, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.parent is None and not s.probe and (name is None or s.name == name)
        ]

    def busy(self, name: str, ops: list[Span]) -> float:
        """Time inside spans called ``name`` of ``ops``, not counting the
        probes nested in them."""
        ids = {o.span_id for o in ops}
        total = 0.0
        for s in self.spans:
            if s.name == name and s.op in ids and not s.probe:
                probes = [
                    (p.start, p.end) for p in self.spans
                    if p.op == s.op and p.probe and p.end is not None
                ]
                total += s.duration - covered(s.start, s.start + s.duration, probes)
        return total

    def groups_of_op(self, op: Span) -> set[str]:
        """Job groups of every span of ``op`` except its probes."""
        return {
            f"{GROUP_PREFIX}{s.span_id}"
            for s in self.spans
            if s.op == op.span_id and not s.probe
        }
