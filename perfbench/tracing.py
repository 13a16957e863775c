"""In-process span tracing for the benchmark's replay and driver-side calls.

Spans are recorded around calls into the engine's layers by swapping the
engine's public functions at their module attributes for timing wrappers.
The swap happens in the benchmark process only and is undone on exit, so
Spark tasks (other processes) never see it.  Every attribute named in a
spec must exist: a renamed function makes ``instrument`` raise instead of
silently dropping a layer from the report.
"""

from __future__ import annotations

import importlib
import math
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; each span records the span open when it began."""

    def __init__(self, clock: Callable[[], float] = time.time) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._children_of: tuple[int, dict[int | None, list[int]]] = (0, {})

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, self.clock(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    def children(self, idx: int) -> list[int]:
        n, index = self._children_of
        if n != len(self.spans):
            index = {}
            for i, s in enumerate(self.spans):
                index.setdefault(s.parent, []).append(i)
            self._children_of = (len(self.spans), index)
        return index.get(idx, [])

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it covered by its child spans."""
        s = self.spans[idx]
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in (self.spans[i] for i in self.children(idx))
        )
        return s.duration - covered


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _resolve(target: str):
    """'pkg.module:attr' -> (module, attr, current value); raises when missing."""
    mod_name, _, attr = target.partition(":")
    module = importlib.import_module(mod_name)
    if not attr or not hasattr(module, attr):
        raise AttributeError(f"trace target {target!r}: {mod_name} has no attribute {attr!r}")
    return module, attr, getattr(module, attr)


@contextmanager
def instrument(tracer: Tracer, targets: dict[str, str], modules: Iterable[str] = ()):
    """Wrap each ``'module:attr'`` target so every call records a span.

    ``targets`` maps a target to its span name.  The wrapper also replaces
    every alias of the same function object found in ``modules`` (names
    bound by ``from x import f``), so calls made through an importing module
    are traced too.  All patched attributes are restored on exit, also when
    the body raises.
    """
    resolved = [(_resolve(t), name) for t, name in targets.items()]
    scan = [importlib.import_module(m) for m in modules]
    patched: list[tuple[object, str, object]] = []
    try:
        for (module, attr, fn), name in resolved:
            wrapper = _wrap(tracer, fn, name)
            for mod in [module, *scan]:
                for key, val in list(vars(mod).items()):
                    if val is fn:
                        patched.append((mod, key, val))
                        setattr(mod, key, wrapper)
        yield tracer
    finally:
        for mod, key, val in reversed(patched):
            setattr(mod, key, val)


def nbytes(x) -> int:
    """Bytes held by an array, buffer or Arrow object; 0 for anything else."""
    if isinstance(x, (bytes, bytearray, memoryview)):
        return len(x)
    return int(getattr(x, "nbytes", 0) or 0)


def _measure(args: tuple, result) -> dict:
    """Small per-call facts kept on the span (never the arrays themselves)."""
    attrs = {"in_bytes": sum(nbytes(a) for a in args), "out_bytes": nbytes(result)}
    if args and isinstance(args[0], str) and len(args[0]) <= 32:
        attrs["arg0"] = args[0]  # e.g. the codec name passed to a decoder
    if isinstance(result, dict) and "codec" in result:
        attrs["codec"] = result["codec"]
        attrs["raw_bytes"] = result.get("raw_bytes", 0)
    elif isinstance(result, tuple) and result and isinstance(result[0], bytes):
        attrs["out_bytes"] = len(result[0])  # codec encode: (payload, meta)
    elif isinstance(result, list) and result and isinstance(result[0], tuple):
        attrs["top"] = result[0][1]  # selector ranking, best first
    return attrs


def _wrap(tracer: Tracer, fn: Callable, name: str) -> Callable:
    def traced(*args, **kwargs):
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
        s.attrs.update(_measure(args, out))
        return out

    traced.__wrapped__ = fn
    traced.__name__ = getattr(fn, "__name__", name)
    return traced
