"""Spans around the program's layer functions, measured from outside.

``Tracer.bind()`` replaces each layer function named in ``LAYER_FUNCTIONS``
with a wrapper that records a span, at every module attribute in the
package that holds the function (plan modules import ``materialize`` and
``memo_substrate`` by name, so patching only the defining module would
miss them).  It also wraps the ``StreamingQuery`` drain methods and adds a
``StreamingQueryListener`` that keeps each micro-batch's progress.
``unbind()`` restores every binding, so untraced passes run the
unmodified program.

Spans stay in memory (``Tracer.spans``) and the benchmark writes them out
when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "data_engineering_examples_spark"

#: (module, attribute, span name) for each wrapped public layer function
LAYER_FUNCTIONS = [
    (f"{PACKAGE}.scratch", "materialize", "scratch.materialize"),
    (f"{PACKAGE}.scratch", "memo_substrate", "scratch.memo_substrate"),
    (f"{PACKAGE}.operators.graph", "connected_components", "operators.graph.cc"),
    (f"{PACKAGE}.operators.graph", "k_core", "operators.graph.kcore"),
    (f"{PACKAGE}.sources.layout", "swap_write", "sources.layout.swap_write"),
    (f"{PACKAGE}.sources.versioned", "write_version", "sources.versioned.write_version"),
]
#: (module, class, method, span name) for wrapped methods
LAYER_METHODS = [
    (f"{PACKAGE}.sinks.merge_writer", "ParquetSwapMergeWriter", "merge",
     "sinks.merge_writer.merge"),
    (f"{PACKAGE}.sinks.merge_writer", "ParquetSwapMergeWriter", "merge_incoming",
     "sinks.merge_writer.merge"),
    ("pyspark.sql.streaming.query", "StreamingQuery", "awaitTermination",
     "streaming.drain"),
    ("pyspark.sql.streaming.query", "StreamingQuery", "processAllAvailable",
     "streaming.drain"),
]


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "run", "pass_id",
                 "query", "info")

    def __init__(self, id, name, start, parent, run, pass_id, query):
        self.id, self.name, self.start, self.parent = id, name, start, parent
        self.run, self.pass_id, self.query = run, pass_id, query
        self.end = None
        self.info = {}

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Collects spans; ``query_start()`` opens the root span of one query and
    the wrappers open child spans inside it, on any thread."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.pass_id: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: Span | None = None
        self._undo: list[tuple[object, str, object]] = []
        self.listener: ProgressListener | None = None

    # -- spans -----------------------------------------------------------
    def open(self, name: str, query: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        s = Span(next(self._ids), name, time.time(),
                 parent.id if parent else None, self.run_id, self.pass_id,
                 query or (parent.query if parent else None))
        self.spans.append(s)
        stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def query_start(self, name: str) -> Span:
        self._root = self.open("query", query=name)
        return self._root

    def query_end(self) -> None:
        self.close(self._root)
        self._root = None

    def wrap(self, fn, name: str, memo: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.open(name)
            if memo:
                # a call that adds a memo entry built the substrate (a miss)
                from data_engineering_examples_spark import scratch

                before = len(scratch._SUBSTRATE_MEMO)
            try:
                return fn(*args, **kwargs)
            finally:
                if memo:
                    s.info["miss"] = len(scratch._SUBSTRATE_MEMO) > before
                tracer.close(s)

        return wrapper

    # -- binding ---------------------------------------------------------
    def bind(self, spark) -> None:
        for mod_name, attr, name in LAYER_FUNCTIONS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(orig, name, memo=attr == "memo_substrate")
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PACKAGE):
                    for key, val in list(vars(mod).items()):
                        if val is orig:
                            self._undo.append((mod, key, orig))
                            setattr(mod, key, wrapped)
        for mod_name, cls_name, meth, name in LAYER_METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__[meth]
            self._undo.append((cls, meth, orig))
            setattr(cls, meth, self.wrap(orig, name))
        if self.listener is None:
            self.listener = ProgressListener(self)
        spark.streams.addListener(self.listener)

    def unbind(self, spark) -> None:
        while self._undo:
            obj, key, orig = self._undo.pop()
            setattr(obj, key, orig)
        if self.listener is not None:
            spark.streams.removeListener(self.listener)


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress, tagged with the pass it ran in."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.started: list[dict] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append({"pass": self.tracer.pass_id, "id": str(event.id)})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "pass": self.tracer.pass_id,
            "id": str(p.id),
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "batch_ms": p.durationMs.get("triggerExecution", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_s([(c.start, c.end) for c in kids.get(s.id, ())
                           if c.end is not None])
        out[s.id] = (s.end - s.start) - covered
    return out


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
