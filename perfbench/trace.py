"""In-memory span tracer for the benchmark's traced run (``--trace 1``).

The tracer wraps public entry points of each engine layer at the places
the engine looks them up: the defining module, every module that bound
the name with a top-level ``from … import``, and class attributes for
methods. Each call records one span (name, start, end, parent, op id);
spans stay in memory and are written out when the run ends. Closing the
tracer restores every original.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "delta_kernel_rs_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        #: when False, wrapped calls pass straight through (traced-only
        #: bookkeeping queries run with recording paused)
        self.enabled = True
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] += n

    def inside(self, name: str) -> bool:
        """True while a span called ``name`` is open."""
        return any(self.spans[i].name == name for i in self._stack)

    def _wrapper(self, fn, name: str, post, pre=None):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if pre is not None:
                args, kwargs = pre(args, kwargs)
            idx = tracer._open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if post is not None:
                post(args, kwargs, result)
            return result

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    # -- patching ----------------------------------------------------------
    def wrap_function(self, module: str, attr: str, name: str, post=None, pre=None) -> None:
        """Wrap ``module.attr`` and every package module that imported it by
        name. ``pre(args, kwargs)`` may return replacement (args, kwargs)."""
        original = getattr(sys.modules[module], attr)
        wrapped = self._wrapper(original, name, post, pre)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            if getattr(mod, attr, None) is original:
                self._patches.append((mod, attr, original))
                setattr(mod, attr, wrapped)

    def wrap_method(self, cls, attr: str, name: str, post=None, pre=None) -> None:
        raw = cls.__dict__[attr]
        if isinstance(raw, staticmethod):
            wrapped = staticmethod(self._wrapper(raw.__func__, name, post, pre))
        else:
            wrapped = self._wrapper(raw, name, post, pre)
        self._patches.append((cls, attr, raw))
        setattr(cls, attr, wrapped)

    def close(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- reporting ---------------------------------------------------------
    def totals(self) -> dict[str, tuple[int, float]]:
        """name -> (calls, inclusive seconds), counting only outermost spans
        of a name so recursion and re-entry never double-count."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for i, s in enumerate(self.spans):
            if self._has_ancestor_named(i, s.name):
                continue
            out[s.name][0] += 1
            out[s.name][1] += s.end - s.start
        return {k: (v[0], v[1]) for k, v in out.items()}

    def _has_ancestor_named(self, i: int, name: str) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def self_times(self) -> dict[str, float]:
        """layer -> self seconds: a span's duration minus the part of it
        its child spans cover, summed by layer (the name before the dot)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name.split(".", 1)[0]] += max(0.0, (s.end - s.start) - child[i])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {"id": i, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "op": s.op}
                    )
                    + "\n"
                )

    def per_span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of one traced call around a no-op, in seconds."""
        probe = Tracer()
        fn = probe._wrapper(lambda: None, "calibrate", None)
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        traced = time.perf_counter() - t0
        plain = lambda: None  # noqa: E731
        t0 = time.perf_counter()
        for _ in range(n):
            plain()
        return max(0.0, (traced - (time.perf_counter() - t0)) / n)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.idx = -1

    def __enter__(self) -> "_SpanCtx":
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.idx)


class NullTracer:
    """Untraced runs: same surface, records nothing."""

    op = None
    enabled = False

    def span(self, name: str) -> "_NullCtx":
        return _NULL_CTX

    def count(self, name: str, n: float = 1) -> None:
        pass

    def close(self) -> None:
        pass


class _NullCtx:
    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        pass


_NULL_CTX = _NullCtx()
