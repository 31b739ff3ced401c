"""In-memory spans for the traced run, and their per-layer self times.

Pure Python (no Spark), so the arithmetic is testable on its own.

A span is one call into a layer: name, layer, start, end, parent and
the operation it belongs to, plus counter deltas read at its
boundaries. A span's self time (and self counters) is its own minus
what its child spans cover. Summed per layer, self times plus the
unattributed remainder add up to the traced wall time exactly.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

#: the layer of an operation span: the benchmark's own code.
OP_LAYER = "op"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    meta: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end) for s in spans
    }


def self_counters(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Span id -> its counter deltas minus those of its children.

    Counters that are not deltas (levels read at the end, such as a
    cached-block count) are kept as read."""
    out = {s.id: dict(s.counters) for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            parent = out[s.parent]
            for k, v in s.counters.items():
                if k in parent and not k.endswith("_left"):
                    parent[k] -= v
    return out


def layer_self_times(spans: list[Span], wall: float) -> dict[str, float]:
    """Self time per layer (operation spans excluded), plus
    ``unattributed``: the wall time no layer span covers, i.e. the
    benchmark's own code and the gaps between calls."""
    st = self_times(spans)
    layers: dict[str, float] = {}
    for s in spans:
        if s.layer != OP_LAYER:
            layers[s.layer] = layers.get(s.layer, 0.0) + st[s.id]
    layers["unattributed"] = wall - sum(layers.values())
    return layers


class Tracer:
    """Records spans; ``probe()`` returns a counter snapshot (dict) and
    ``delta(before, after)`` the change across a span."""

    def __init__(
        self,
        probe: Callable[[], dict] | None = None,
        delta: Callable[[dict, dict], dict] | None = None,
    ):
        self.spans: list[Span] = []
        self._probe = probe
        self._delta = delta
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_stack: list[Span] = []  # the open spans of the operation's thread

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        """A span on this thread. A span opened on another thread (a
        streaming callback) nests under the innermost span open on the
        operation's thread."""
        stack = self._stack()
        parent = stack[-1] if stack else (self._op_stack[-1] if self._op_stack else None)
        with self._lock:
            s = Span(
                len(self.spans), name, layer,
                op if op is not None else (parent.op if parent else None),
                parent.id if parent else None, 0.0,
            )
            self.spans.append(s)
        before = self._probe() if self._probe else None
        s.start = time.perf_counter()
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            if self._probe:
                s.counters = self._delta(before, self._probe())

    @contextmanager
    def op(self, name: str, op_id) -> None:
        """An operation of the workload: the root of its call spans."""
        with self.span(name, OP_LAYER, op=f"{name}:{op_id}") as s:
            self._op_stack = self._stack()
            try:
                yield s
            finally:
                self._op_stack = []

    def wrap(self, module, attr: str, layer: str, on_result=None) -> None:
        """Replace ``module.attr`` with a function that records a span
        around each call; ``on_result(span, result)`` may annotate it."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(attr, layer) as s:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, result)
                return result

        traced.__wrapped__ = fn
        setattr(module, attr, traced)
