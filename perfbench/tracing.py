"""In-memory spans around the calls into each engine layer.

Spans are recorded from the benchmark's side of the boundary: the
benchmark wraps the engine's public functions (``Tracer.patch``) and
opens one root span per timed operation (``Tracer.op``); every span
under it carries the same op id. Nothing is written until ``dump``.

Self time: a span's duration minus the part its children cover. When
children overlap (pipelined ``apply_batch`` calls on pool threads), an
overlapped instant is shared equally among the children running then,
so attributed self times over an op's tree sum exactly to the root's
duration — never more, whatever the concurrency.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. ``enabled`` toggles recording per op, so a
    traced run can alternate traced and untraced ops and measure its
    own overhead."""

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # the innermost open span of the op's own thread: spans opened
        # on worker threads (the replayer's pipelining pool) hang there
        self._ambient: int | None = None
        self._op: int | None = None
        self._op_thread: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, name: str, **attrs):
        """Root span of one timed operation; yields the ``Span`` (its
        ``end`` is set when the block exits)."""
        if not self.enabled:
            yield Span(0, None, None, name, 0.0, 0.0, attrs)
            return
        sid = next(self._ids)
        s = Span(sid, None, sid, name, self.clock(), 0.0, attrs)
        self._op, self._op_thread, self._ambient = sid, threading.get_ident(), sid
        stack = self._stack()
        stack.append(sid)
        try:
            yield s
        finally:
            stack.pop()
            s.end = self.clock()
            with self._lock:
                self.spans.append(s)
            self._op = self._op_thread = self._ambient = None

    @contextmanager
    def span(self, name: str, **attrs):
        """Child of the innermost open span; yields the ``Span``."""
        if not self.enabled or self._op is None:
            yield Span(0, None, None, name, 0.0, 0.0, attrs)
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._ambient
        s = Span(next(self._ids), parent, self._op, name, self.clock(), 0.0, attrs)
        on_op_thread = threading.get_ident() == self._op_thread
        stack.append(s.id)
        if on_op_thread:
            self._ambient = s.id
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()
            if on_op_thread:
                self._ambient = stack[-1] if stack else self._op
            with self._lock:
                self.spans.append(s)

    def add_children(self, parent: Span, phases: list[tuple[str, float]]) -> None:
        """Lay ``phases`` ([(name, seconds)]) end to end from the start
        of ``parent`` as child spans — how the phase timings an engine
        call returns become part of the tree."""
        t = parent.start
        for name, secs in phases:
            secs = max(0.0, secs)
            with self._lock:
                self.spans.append(
                    Span(next(self._ids), parent.id, parent.op, name, t, t + secs, {})
                )
            t += secs

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` wrapped in a span named ``name``; ``on_result(span,
        result, args)`` runs after the call to attach attributes or
        children."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled or self._op is None:
                return fn(*args, **kwargs)
            with self.span(name) as s:
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(s, result, args)
            return result

        return wrapper

    @contextmanager
    def patch(self, target, attr: str, name: str, on_result=None):
        """Replace ``target.attr`` by its wrapped form for the block."""
        original = getattr(target, attr)
        setattr(target, attr, self.wrap(original, name, on_result))
        try:
            yield
        finally:
            setattr(target, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: (s.start, s.id)):
                d = asdict(s)
                d["attrs"] = {
                    k: v for k, v in d["attrs"].items() if _jsonable(v)
                }
                fh.write(json.dumps(d) + "\n")


def _jsonable(v) -> bool:
    try:
        json.dumps(v)
        return True
    except (TypeError, ValueError):
        return False


# ---------------------------------------------------------------- analysis
def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _shared_lengths(intervals: list[tuple[float, float]]) -> list[float]:
    """Per interval: its length with every instant divided equally
    among the intervals covering it. Sums to the union length."""
    points = sorted({p for iv in intervals for p in iv})
    out = [0.0] * len(intervals)
    for a, b in zip(points, points[1:]):
        active = [i for i, (s, e) in enumerate(intervals) if s <= a and e >= b]
        for i in active:
            out[i] += (b - a) / len(active)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Attributed self time per span id (see module docstring). Child
    intervals are clipped to their parent. For every root, the values
    over its tree sum to the root's duration."""
    children: dict[int | None, list[Span]] = defaultdict(list)
    ids = {s.id for s in spans}
    for s in spans:
        children[s.parent if s.parent in ids else None].append(s)
    out: dict[int, float] = {}

    def visit(s: Span, weight: float) -> None:
        kids = children.get(s.id, [])
        clipped = [(max(k.start, s.start), min(k.end, s.end)) for k in kids]
        clipped = [(a, max(a, b)) for a, b in clipped]
        out[s.id] = weight * max(0.0, s.duration - _union_length(clipped))
        for k, share in zip(kids, _shared_lengths(clipped)):
            visit(k, weight * share / k.duration if k.duration > 0 else 0.0)

    for root in children[None]:
        visit(root, 1.0)
    return out


def by_name(spans: list[Span]) -> dict[str, dict]:
    """Per span name: call count, total wall, total attributed self."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
    for s in spans:
        row = out[s.name]
        row["calls"] += 1
        row["wall_s"] += s.duration
        row["self_s"] += selfs.get(s.id, 0.0)
    return dict(out)
