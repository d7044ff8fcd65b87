"""Spans and counts recorded around the benchmark's calls into each layer.

The tracer wraps public functions of the engine's modules from outside:
nothing in the engine is edited. Wrappers are installed before the query
modules are imported, and every module that already holds a reference to
a wrapped function is rebound, so ``from x import f`` call sites are
traced too.

A span is (name, start, end, parent, op). Spans stay in memory and are
written out once, when the run ends. A layer's self time is its spans'
durations minus the parts covered by their child spans.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import Counter
from pathlib import Path

#: public functions of these modules are traced as ``pipeline.<module>``
PIPELINE_MODULES = ("graph", "dedup", "text")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str, float, float, int, str]] = []
        self.counts: Counter = Counter()
        self.op = ""
        self._stack: list[int] = []
        self.in_build = False
        #: original function -> its traced wrapper, filled by install()
        self.replaced: dict = {}

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        name, start, _, parent, op = self.spans[idx]
        self.spans[idx] = (name, start, time.perf_counter(), parent, op)
        self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, fn, name: str, count: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if count:
                tracer.counts[count] += 1
            return tracer.call(name, fn, *args, **kwargs)

        return traced

    def self_times(self, first_span: int = 0) -> Counter:
        """Seconds of self time per span name, over spans from
        ``first_span`` on (children are always later than parents)."""
        child = Counter()
        for name, start, end, parent, _ in self.spans[first_span:]:
            if parent >= first_span:
                child[parent] += end - start
        out: Counter = Counter()
        for i, (name, start, end, _, _) in enumerate(
            self.spans[first_span:], first_span
        ):
            out[name] += (end - start) - child[i]
        return out

    def totals(self, first_span: int = 0) -> Counter:
        out: Counter = Counter()
        for name, start, end, _, _ in self.spans[first_span:]:
            out[name] += end - start
        return out

    def dump(self, path: Path) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        rows = [
            {
                "name": n,
                "start": round(s - t0, 6),
                "end": round(e - t0, 6),
                "parent": p,
                "op": op,
            }
            for n, s, e, p, op in self.spans
        ]
        path.write_text(json.dumps({"spans": rows, "counts": dict(self.counts)}))


def _store_span_name(stmt: str) -> str:
    return "sources.store" if stmt.lstrip()[:5].upper() == "STORE" else "latin.compile"


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries. Must run before ``pigout_spark.queries``
    is imported; call :func:`rebind` again after importing it."""
    import py4j.java_gateway as jg

    from pigout_spark import catalog, latin
    from pigout_spark.pipeline import dedup, graph, text
    from pigout_spark.plans import multiquery
    from pigout_spark.sources import io, shards

    send = jg.GatewayClient.send_command

    def counted_send(self, *args, **kwargs):
        if tracer.enabled and tracer.in_build:
            tracer.counts["py4j.calls"] += 1
        return send(self, *args, **kwargs)

    jg.GatewayClient.send_command = counted_send

    catalog.Catalog.load = tracer.wrap(
        catalog.Catalog.load, "catalog.load", count="catalog.loads"
    )
    run = latin.PigSession._run

    @functools.wraps(run)
    def traced_run(self, stmt):
        if not tracer.enabled:
            return run(self, stmt)
        name = _store_span_name(stmt)
        if name == "latin.compile":
            tracer.counts["latin.statements"] += 1
        return tracer.call(name, run, self, stmt)

    latin.PigSession._run = traced_run

    replaced = tracer.replaced
    for mod, attr, name in (
        (io, "store", "sources.store"),
        (shards, "write_shards", "sources.store"),
        (multiquery, "store_many", "plans.store_many"),
    ):
        orig = getattr(mod, attr)
        replaced[orig] = tracer.wrap(orig, name)
    for mod, short in zip((graph, dedup, text), PIPELINE_MODULES):
        for attr, fn in vars(mod).items():
            if (
                inspect.isfunction(fn)
                and not attr.startswith("_")
                and fn.__module__ == mod.__name__
            ):
                replaced[fn] = tracer.wrap(fn, f"pipeline.{short}")
    rebind(tracer)


def rebind(tracer: Tracer) -> None:
    """Point every loaded engine module's references at the wrappers."""
    replaced = tracer.replaced
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("pigout_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            try:
                wrapper = replaced.get(val)
            except TypeError:  # unhashable module attribute
                continue
            if wrapper is not None:
                setattr(mod, attr, wrapper)
