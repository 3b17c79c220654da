"""Spans recorded around calls into the program's modules.

A span is ``(name, start, end, parent, op)``: ``op`` is the id shared
by every span of one benchmark operation, ``parent`` the index of the
enclosing span. Spans stay in memory and are written as JSON when the
run ends. A span's self time is its duration minus the part of its
interval covered by its children.

``instrument(tracer)`` wraps the public functions the per-layer
metrics need (see README.md) for the life of the process; the
program's own files are not changed.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span opened
    on a thread with no open span (the HTTP server's handler thread)
    is parented to the current operation's root span, so one request
    forms one tree across the client and server threads."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        s = Span(name, time.perf_counter(), parent=parent, op=self.op, attrs=attrs)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def operation(self, op: int, name: str, **attrs):
        """Root span of one benchmark operation."""
        self.op = op
        with self.span(name, **attrs) as s:
            self._root = len(self.spans) - 1
            try:
                yield s
            finally:
                self._root = None
                self.op = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "op": s.op,
                        **({"attrs": s.attrs} if s.attrs else {}),
                    }
                    for s in self.spans
                ],
                f,
            )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    clipped to the span."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(i, ())
            if min(b, s.end) > max(a, s.start)
        ]
        out.append(s.dur - _covered(clipped))
    return out


def outermost(spans: list[Span], name: str) -> list[int]:
    """Indexes of spans called ``name`` with no ancestor of the same
    name (recursive calls count once, at their outermost level)."""
    out = []
    for i, s in enumerate(spans):
        if s.name != name:
            continue
        p = s.parent
        while p is not None and spans[p].name != name:
            p = spans[p].parent
        if p is None:
            out.append(i)
    return out


# ------------------------------------------------------ instrumentation


def _wrap(tracer: Tracer, owner, attr: str, name: str, on_result=None, on_call=None):
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as s:
            if on_call is not None:
                on_call(s, args)
            out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(s, out)
            return out

    setattr(owner, attr, wrapper)


def instrument(tracer: Tracer, on_handler) -> None:
    """Wrap the program's layer entry points with spans, once per
    process.

    ``on_handler(span)`` runs at the start of each HTTP handler call,
    on the handler's thread (used to set the Spark job group there).
    """
    from cayley_spark import store as store_mod
    from cayley_spark.plans import compiler, local
    from cayley_spark.query import gizmo, path, safe_eval
    from cayley_spark.server import http

    def hit(s, out):
        s.attrs["hit"] = out is not None

    def cache_state(s, args):
        st, shape = args[0], args[1]
        if getattr(st, "_local_index", None) is not None:
            return
        cache = getattr(st, "_compile_cache", None)
        try:
            s.attrs["cached"] = cache is not None and shape in cache
        except TypeError:
            s.attrs["cached"] = False

    def handler_call(s, args):
        on_handler(s)

    _wrap(tracer, http.CayleyHandler, "_query", "server.query", on_call=handler_call)
    _wrap(tracer, http.CayleyHandler, "_write", "server.write", on_call=handler_call)
    _wrap(tracer, safe_eval, "safe_gizmo_eval", "query.eval")
    finals = {"All": "all", "ToArray": "toArray", "Count": "count",
              "ToValue": "toValue", "TagArray": "tagArray"}
    for final, alias in finals.items():
        _wrap(tracer, gizmo.GizmoPath, final, "query.final")
        setattr(gizmo.GizmoPath, alias, getattr(gizmo.GizmoPath, final))
    _wrap(tracer, path.Path, "all", "query.collect")
    for fn in ("try_local", "try_local_rows", "try_local_values"):
        _wrap(tracer, local, fn, "local.eval", on_result=hit)
    _wrap(tracer, compiler, "compile_nodes", "compile.build", on_call=cache_state)
    path.compile_nodes = compiler.compile_nodes
    _wrap(tracer, store_mod.GraphStore, "apply_deltas", "store.apply")
    _wrap(tracer, store_mod.GraphStore, "resolve", "store.resolve")
