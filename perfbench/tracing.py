"""Benchmark-side spans around calls into the engine's layers.

``Tracer.install()`` replaces the public entry points of the ``io`` and
``sources.snaptable`` modules with timing wrappers. It must run before
``hadoop_2_7_1_spark.queries`` is imported, because the query modules bind
``load_table`` at import time. While ``tracer.enabled`` is false a wrapper
only adds one attribute check per call.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

# (module, function, layer) for every wrapped entry point.
WRAPPED = (
    ("hadoop_2_7_1_spark.io", "load_table", "io.load_table"),
    ("hadoop_2_7_1_spark.io", "write_partitioned", "io.write"),
    ("hadoop_2_7_1_spark.sources.snaptable", "snap_commit", "sources.write"),
    ("hadoop_2_7_1_spark.sources.snaptable", "snap_compact", "sources.write"),
)


class Tracer:
    """Collects spans ``{trace, id, parent, name, layer, start, end}`` in
    memory (times in seconds since the epoch). Spans of one step share a
    trace id; a wrapped call nested in another of the same layer (such as
    ``snap_compact`` calling ``snap_commit``) is not recorded twice."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._trace = ""
        self._next_id = 0

    @contextmanager
    def span(self, name: str, layer: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        if trace is not None:
            self._trace = trace
        parent = self._stack[-1]["id"] if self._stack else None
        self._next_id += 1
        rec = {"trace": self._trace, "id": self._next_id, "parent": parent,
               "name": name, "layer": layer, "start": time.time(), "end": None}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    def _inside(self, layer: str) -> bool:
        return any(s["layer"] == layer for s in self._stack)

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not self.enabled or self._inside(layer):
                return fn(*args, **kwargs)
            with self.span(fn.__name__, layer):
                return fn(*args, **kwargs)

        return timed

    def install(self) -> None:
        import importlib

        for module, name, layer in WRAPPED:
            mod = importlib.import_module(module)
            setattr(mod, name, self.wrap(getattr(mod, name), layer))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it that
    its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out
