"""Outside-in layer tracing: spans recorded around the public functions
of each ``ubw_spark`` module, without touching the package's files.

A :class:`Tracer` wraps a function and swaps the wrapper in wherever a
caller looks the function up: the defining module, every loaded module
that imported it by name (``from x import f``), and classes for
methods.  Query modules that import store functions lazily inside a
function body read the defining module's attribute at call time, so
patching that attribute covers them too.

Spans are kept in memory and written once at the end.
A layer's self time is its span's duration minus the part of that
interval covered by its child spans (:func:`self_times`).
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int | None
    t0: float
    t1: float = 0.0
    attrs: dict | None = None


class Tracer:
    """Records spans; single instance per traced window."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_root: Span | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, attrs: dict | None = None) -> Span:
        st = self._stack()
        # a span opened on a worker thread of the product's own pools has
        # no stack of its own: hang it under the op that is running
        parent = st[-1] if st else self._op_root
        with self._lock:
            sp = Span(len(self.spans), parent.id if parent else None, name,
                      self._op_root.op if self._op_root else None,
                      time.perf_counter(), attrs=attrs)
            self.spans.append(sp)
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    def span(self, name: str, attrs: dict | None = None):
        return _SpanCtx(self, name, attrs)

    def op(self, op_id: int, name: str):
        """Top-level span of one request or query."""
        return _OpCtx(self, op_id, name)

    def add(self, name: str, t0: float, t1: float, parent: Span | None,
            attrs: dict | None = None) -> None:
        """Record a span measured elsewhere (streaming listener)."""
        with self._lock:
            self.spans.append(Span(len(self.spans),
                                   parent.id if parent else None, name,
                                   parent.op if parent else None, t0, t1,
                                   attrs))

    def wrap(self, fn, name: str, attr_fn=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.open(name, attr_fn(args, kwargs) if attr_fn else None)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sp)

        return traced

    def patch_function(self, owner, attr: str, name: str, attr_fn=None,
                       module_prefixes: tuple[str, ...] = ("ubw_spark",)) -> None:
        """Replace ``owner.attr`` and every module-level alias of the same
        object in modules under ``module_prefixes``."""
        original = getattr(owner, attr)
        wrapper = self.wrap(original, name, attr_fn)
        places = [(owner, attr)]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or mod is owner or not mod_name.startswith(
                module_prefixes
            ):
                continue
            for k, v in list(vars(mod).items()):
                if v is original:
                    places.append((mod, k))
        for obj, k in places:
            self._patched.append((obj, k, getattr(obj, k)))
            setattr(obj, k, wrapper)

    def unpatch(self) -> None:
        for obj, k, original in reversed(self._patched):
            setattr(obj, k, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name,
                    "op": s.op, "start": s.t0, "end": s.t1,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict | None):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.sp = self.tracer.open(self.name, self.attrs)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.sp)


class _OpCtx:
    def __init__(self, tracer: Tracer, op_id: int, name: str):
        self.tracer, self.op_id, self.name = tracer, op_id, name

    def __enter__(self) -> Span:
        t = self.tracer
        with t._lock:
            sp = Span(len(t.spans), None, "op", self.op_id,
                      time.perf_counter(), attrs={"name": self.name})
            t.spans.append(sp)
        t._op_root = sp
        t._stack().append(sp)
        return sp

    def __exit__(self, *exc) -> None:
        t = self.tracer
        t.close(t._op_root)
        t._op_root = None


class NullTracer:
    """Stands in for :class:`Tracer` in untraced runs: the same calls,
    no recording."""

    def span(self, name: str, attrs: dict | None = None):
        return _NULL_CTX

    def op(self, op_id: int, name: str):
        return _NULL_CTX


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL_CTX = _NullCtx()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    start = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals
    (clipped to the parent), in seconds.  Children on other threads may
    overlap each other; the union counts shared time once."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.t0, s.t0), min(c.t1, s.t1))
            for c in children.get(s.id, ())
            if min(c.t1, s.t1) > max(c.t0, s.t0)
        ]
        out[s.id] = (s.t1 - s.t0) - _union_length(kids)
    return out


class StreamListener:
    """Collects micro-batch progress of every streaming query through
    Spark's public ``StreamingQueryListener``; each event is stamped with
    the local clock when it arrives."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[tuple[str, float, object]] = []
        self.events = events

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                events.append(("started", time.perf_counter(), str(event.id)))

            def onQueryProgress(self, event):
                p = event.progress
                events.append(("progress", time.perf_counter(), {
                    "id": str(p.id),
                    "batch": p.batchId,
                    "durationMs": dict(p.durationMs or {}),
                    "state_commit_ms": sum(
                        (s.commitTimeMs or 0) for s in (p.stateOperators or [])
                    ),
                }))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                events.append(("terminated", time.perf_counter(), str(event.id)))

        self.listener = _L()
