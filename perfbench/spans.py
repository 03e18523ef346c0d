"""Span recorder for the traced run.

The engine is instrumented from outside: ``install`` replaces the
public functions and methods of each layer module with wrappers, at
every place the package binds them (module attributes, names imported
into other package modules, class attributes).  A wrapper records a
span only while an op is open, so setup and correctness checks leave
no trace.  Spans live in memory and are written out when the run ends.

Layers are named after the engine's modules; see ``LAYERS``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "mirror_lake_kusto_spark"

#: layer -> (module, class or None, member names or None for every
#: public function the module defines)
LAYERS: dict[str, list[tuple[str, str | None, tuple[str, ...] | None]]] = {
    "delta_log": [("sources.delta_log", None, None)],
    # ``_commit`` is the sink's single commit point: its span carries
    # the commit's added files and bytes
    "delta_sink": [
        ("sources.delta_sink", "DeltaSink", None),
        ("sources.delta_sink", "DeltaSink", ("_commit",)),
    ],
    "state": [
        ("pipeline.delta_state", "DeltaStateStore", None),
        ("pipeline.state", "StateStore", None),
    ],
    "orchestrate": [("pipeline.orchestrate", "MirrorPipeline", ("run_once",))],
    "kql_parse": [("functions.kql_parse", None, ("kql", "kql_multi"))],
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    op: int
    thread: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans.  Parents follow the calling thread's stack; a
    span opened on a thread with an empty stack (a staging pool worker)
    hangs off the open op."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._root: int | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin(self, name: str, layer: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self._root
        span = Span(name, layer, time.time(), None, parent, self.op, threading.get_ident())
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @contextmanager
    def span(self, name: str, layer: str):
        idx = self.begin(name, layer)
        try:
            yield idx
        finally:
            self.end(idx)

    @contextmanager
    def op_span(self, op_id: int, name: str):
        self.op = op_id
        self._root = self.begin(name, "op")
        try:
            yield self._root
        finally:
            self.end(self._root)
            self.op = None
            self._root = None

    def wrap(self, fn, name: str, layer: str):
        tracer = self
        is_commit = name.endswith("._commit")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.op is None:
                return fn(*args, **kwargs)
            idx = tracer.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)
                if is_commit:
                    actions = args[1] if len(args) > 1 else kwargs.get("actions", [])
                    adds = [a["add"] for a in actions if "add" in a]
                    tracer.spans[idx].attrs = {
                        "files_added": len(adds),
                        "bytes_added": sum(a.get("size") or 0 for a in adds),
                    }

        return traced


def _public_functions(mod) -> dict[str, object]:
    return {
        n: f
        for n, f in vars(mod).items()
        if not n.startswith("_")
        and inspect.isfunction(f)
        and f.__module__ == mod.__name__
    }


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point for the life of the process."""
    package_mods = [
        m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m is not None
    ]
    for layer, targets in LAYERS.items():
        for mod_name, cls_name, members in targets:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            if cls_name is None:
                funcs = _public_functions(mod)
                if members is not None:
                    funcs = {n: funcs[n] for n in members}
                for n, f in funcs.items():
                    wrapped = tracer.wrap(f, f"{layer}.{n}", layer)
                    # every binding of the same function object in the
                    # package: the module itself (caught by attribute
                    # lookups and function-local imports) and names
                    # imported at module level elsewhere
                    for m in package_mods:
                        for attr, val in list(vars(m).items()):
                            if val is f:
                                setattr(m, attr, wrapped)
            else:
                cls = getattr(mod, cls_name)
                names = members or [
                    n
                    for n, f in vars(cls).items()
                    if not n.startswith("_") and inspect.isfunction(f)
                ]
                for n in names:
                    setattr(cls, n, tracer.wrap(vars(cls)[n], f"{layer}.{n}", layer))


# -- interval arithmetic ------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
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


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover;
    children are clipped to the span, overlaps counted once."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def ancestors(spans: list[Span], idx: int):
    """Indices of ``idx``'s ancestors, innermost first."""
    p = spans[idx].parent
    while p is not None:
        yield p
        p = spans[p].parent


def outermost_in_layer(spans: list[Span], layer: str) -> list[int]:
    """Spans of ``layer`` not nested in another span of the same layer:
    one per call into the layer from outside it."""
    return [
        i
        for i, sp in enumerate(spans)
        if sp.layer == layer
        and sp.end is not None
        and not any(spans[a].layer == layer for a in ancestors(spans, i))
    ]


def children_of(spans: list[Span]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for i, sp in enumerate(spans):
        if sp.parent is not None:
            out.setdefault(sp.parent, []).append(i)
    return out
