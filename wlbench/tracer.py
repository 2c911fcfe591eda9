"""Per-layer spans, recorded from outside the program.

The tracer replaces the public callables of each layer's modules with
thin wrappers for the length of one traced pass, and puts the originals
back afterwards. A layer is a group of ``tada_spark`` modules:

    session    tada_spark.session
    queries    tada_spark.queries (``load``; catalog builds are spanned
               by the benchmark itself)
    frame      tada_spark.frame
    operators  tada_spark.operators.*
    functions  tada_spark.functions.*
    sources    tada_spark.sources.*
    testing    tada_spark.testing.*

A wrapper is installed wherever a module-level name or a class attribute
refers to the original function object, so names bound by ``from x
import f`` are traced as well. Each span keeps its layer, its start and
end (epoch seconds), and the time its child spans covered; a layer's
self time is the sum of its spans' durations minus their children's.

The tracer also times every py4j round trip the main thread makes and
charges it to the innermost open span's layer as that layer's wait: time
spent waiting on the JVM, including jobs an action runs synchronously.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict

from py4j.java_gateway import GatewayClient

LAYERS = {
    "tada_spark.session": "session",
    "tada_spark.queries": "queries",
    "tada_spark.frame": "frame",
    "tada_spark.operators": "operators",
    "tada_spark.functions": "functions",
    "tada_spark.sources": "sources",
    "tada_spark.testing": "testing",
}
#: Only these names of ``tada_spark.queries`` are wrapped: the rest of the
#: module is the catalog, whose builds the benchmark spans itself.
QUERIES_WRAPPED = ("load",)
_MARK = "__wlbench_traced__"


def layer_of(module: str) -> str | None:
    for prefix, layer in LAYERS.items():
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


def _scan_cache_size(args: tuple) -> int:
    """Scan plans ``queries.load`` holds for the session in ``args[0]``; a
    call that leaves the count unchanged was served from the cache."""
    from tada_spark import queries

    app = args[0].sparkContext.applicationId
    return len(queries._SCAN_CACHE.get(app, (None, {}))[1])


class Span:
    __slots__ = ("layer", "name", "start", "end", "child_s", "parent")

    def __init__(self, layer: str, name: str, parent: Span | None) -> None:
        self.layer, self.name, self.parent = layer, name, parent
        self.start = time.time()
        self.end = self.start
        self.child_s = 0.0


class Tracer:
    """Collects spans; ``install``/``remove`` put the wrappers in place."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.wait_s: dict[str, float] = defaultdict(float)

    # -- spans ------------------------------------------------------------
    def open(self, layer: str, name: str) -> Span:
        span = Span(layer, name, self._stack[-1] if self._stack else None)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        popped = self._stack.pop()
        assert popped is span, f"span {span.name} closed out of order"
        if span.parent is not None:
            span.parent.child_s += span.end - span.start
        self.spans.append(span)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            cached = _scan_cache_size(args) if name == "queries.load" else None
            span = tracer.open(layer, name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            tracer._count(layer, name, args, out)
            if cached is not None:
                tracer.counts["queries.load.hits"] += _scan_cache_size(args) == cached
            return out

        setattr(traced, _MARK, fn)
        return traced

    def _wrap_member(self, obj, layer: str, name: str):
        if isinstance(obj, (staticmethod, classmethod)):
            return type(obj)(self._wrap(obj.__func__, layer, name))
        return self._wrap(obj, layer, name)

    def _count(self, layer: str, name: str, args: tuple, out) -> None:
        if layer == "sources" and isinstance(out, list):
            # writers return [header, *rows]
            self.counts["sources.rows_out"] += max(len(out) - 1, 0)
        elif layer == "testing" and name.endswith("equal_records") and len(args) > 1:
            self.counts["testing.rows_compared"] += max(len(args[1]) - 1, 0)

    # -- installation -------------------------------------------------------
    def _targets(self) -> dict[int, tuple[object, str, str]]:
        """id(original) -> (original, layer, qualified name) for every
        public function and public method defined in a layer module."""
        out: dict[int, tuple[object, str, str]] = {}
        for modname, mod in list(sys.modules.items()):
            layer = layer_of(modname)
            if layer is None or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if layer == "queries" and attr not in QUERIES_WRAPPED:
                    continue
                if isinstance(obj, type):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and callable(meth) and not isinstance(meth, type):
                            out[id(meth)] = (meth, layer, f"{obj.__name__}.{mname}")
                elif callable(obj) and hasattr(obj, "__code__"):
                    out[id(obj)] = (obj, layer, f"{modname.rsplit('.', 1)[-1]}.{attr}")
        return out

    def _wrap_py4j(self):
        tracer, main = self, threading.get_ident()
        send = GatewayClient.send_command

        @functools.wraps(send)
        def timed(client, *args, **kwargs):
            if not tracer._stack or threading.get_ident() != main:
                return send(client, *args, **kwargs)
            t = time.perf_counter()
            try:
                return send(client, *args, **kwargs)
            finally:
                tracer.wait_s[tracer._stack[-1].layer] += time.perf_counter() - t

        setattr(timed, _MARK, send)
        self._patched.append((GatewayClient, "send_command", send))
        GatewayClient.send_command = timed

    def install(self) -> int:
        """Wrap every target wherever a module or class refers to it, and
        py4j's round trip. Returns the number of references replaced."""
        self._wrap_py4j()
        targets = self._targets()
        wrapped: dict[int, object] = {}
        owners: list[object] = [m for n, m in list(sys.modules.items()) if m is not None and n.startswith("tada_spark")]
        owners += [o for m in list(owners) for o in vars(m).values() if isinstance(o, type) and o.__module__.startswith("tada_spark")]
        for owner in owners:
            for attr, obj in list(vars(owner).items()):
                hit = targets.get(id(obj))
                if hit is None or hit[0] is not obj:
                    continue
                if id(obj) not in wrapped:
                    wrapped[id(obj)] = self._wrap_member(obj, hit[1], hit[2])
                self._patched.append((owner, attr, obj))
                setattr(owner, attr, wrapped[id(obj)])
        return len(self._patched)

    def remove(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def leftover_wrappers() -> list[str]:
    """Names in ``tada_spark`` modules and classes, and py4j's round trip,
    that still hold a tracer wrapper (empty after :meth:`Tracer.remove`)."""
    left = ["GatewayClient.send_command"] if hasattr(GatewayClient.send_command, _MARK) else []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith("tada_spark"):
            continue
        for attr, obj in list(vars(mod).items()):
            if hasattr(obj, _MARK):
                left.append(f"{modname}.{attr}")
            if isinstance(obj, type):
                left += [
                    f"{modname}.{attr}.{m}"
                    for m, v in vars(obj).items()
                    if hasattr(getattr(v, "__func__", v), _MARK)
                ]
    return left


def self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += (s.end - s.start) - s.child_s
    return out


def call_counts(spans: list[Span]) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for s in spans:
        out[s.layer] += 1
    return out


def outermost(spans: list[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` with no ancestor of the same layer."""
    out = []
    for s in spans:
        p = s.parent
        while p is not None and p.layer != layer:
            p = p.parent
        if s.layer == layer and p is None:
            out.append(s)
    return out
