"""Spans around the calls into each layer, and the arithmetic over them.

Tracing patches a layer's public function in the module where its caller
looks it up (``loader.check_all_constraints``, not
``operators.constraints.check_all_constraints``), so the program itself
is unchanged and an untraced run executes none of this.  Spans live in
memory; counts are recorded at the same boundaries.

Source loads run in the loader's thread pool, so spans of one layer can
overlap in time.  Each layer therefore reports two times:

- busy: the sum of its spans' self times (CPU-side work, all threads);
- covered: the wall time during which at least one of its spans ran.

An op's wall splits exactly into the union of all layer spans plus an
unattributed residual; ``overlap`` is how much the per-layer covered
times double-count because layers ran at the same time.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    start: float
    end: float
    parent: "Span | None" = None


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _clip(intervals, start: float, end: float) -> list:
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_intervals(span: Span, spans) -> list:
    """The parts of ``span`` not covered by one of its child spans."""
    kids = sorted(_clip([(c.start, c.end) for c in spans if c.parent is span],
                        span.start, span.end))
    out, cursor = [], span.start
    for s, e in kids:
        if s > cursor:
            out.append((cursor, s))
        cursor = max(cursor, e)
    if cursor < span.end:
        out.append((cursor, span.end))
    return out


def attribute(spans, wall: float) -> dict:
    """Per-layer busy and covered time, plus the op's overlap and residual.

    ``wall`` is the op's wall time; spans are those recorded during it.
    Returns ``{"layers": {layer: {"busy": s, "covered": s}},
    "overlap": s, "unattributed": s}`` where
    ``sum(covered) - overlap + unattributed == wall``.
    """
    per_layer: dict = {}
    for s in spans:
        own = self_intervals(s, spans)
        entry = per_layer.setdefault(s.layer, {"busy": 0.0, "intervals": []})
        entry["busy"] += sum(e - b for b, e in own)
        entry["intervals"].extend(own)
    layers = {}
    everything = []
    for layer, entry in per_layer.items():
        layers[layer] = {"busy": entry["busy"], "covered": union_length(entry["intervals"])}
        everything.extend(entry["intervals"])
    covered_all = union_length(everything)
    return {
        "layers": layers,
        "overlap": sum(v["covered"] for v in layers.values()) - covered_all,
        "unattributed": wall - covered_all,
    }


@dataclass
class Tracer:
    """Records spans and counts while installed; restores every patched
    attribute on :meth:`uninstall`."""

    spans: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _patched: list = field(default_factory=list)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def span(self, layer: str):
        return _SpanContext(self, layer)

    def wrap(self, module, attr: str, layer: str, after=None) -> None:
        """Replace ``module.attr`` by a spanned call; ``after(args, kwargs,
        result)`` runs outside the span to record counts."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(layer):
                result = original(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        self.patch(module, attr, traced)

    def patch(self, module, attr: str, replacement) -> None:
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def uninstall(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def reset(self) -> None:
        with self._lock:
            self.spans = []
            self.counts = {}


class _SpanContext:
    def __init__(self, tracer: Tracer, layer: str):
        self.tracer = tracer
        self.layer = layer

    def __enter__(self):
        stack = self.tracer._local.__dict__.setdefault("stack", [])
        self.span = Span(
            self.layer, time.perf_counter(), 0.0, parent=stack[-1] if stack else None
        )
        stack.append(self.span)
        return self.span

    def __exit__(self, *exc):
        self.span.end = time.perf_counter()
        self.tracer._local.stack.pop()
        with self.tracer._lock:
            self.tracer.spans.append(self.span)
        return False
