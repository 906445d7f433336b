"""Spans around calls into the program's layers, recorded from the
benchmark's own files.

``Tracer.patch`` replaces a module attribute with a wrapper that records a
``call`` span (the time the layer's function itself takes: plan building
plus any job it runs eagerly) and, for functions that return DataFrames,
an ``exec`` span that persists and counts every returned frame.  Because
each layer's output is materialised as soon as it is returned, a
downstream layer reads its input from the cache, so each ``exec`` span is
that layer's own execution time.  ``action`` spans wrap functions whose
purpose is to run jobs (writes, commits); jobs inside a ``call`` span are
plan-time jobs.  With ``inputs=True`` the frames a call is passed are
materialised first, in an ``input`` span under the caller's span, so work
the caller composed (a join feeding the call) is not counted in the
callee's ``exec`` span.  ``probe`` spans time the benchmark's own extra
measurements; they are tracing overhead, not the program's work.

Every span carries the run id, its parent span and the Spark job
description it set, so event-log jobs attribute to the span that ran them.
Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame


@dataclass
class Span:
    span_id: int
    parent: int | None
    run_id: str
    name: str
    kind: str  # call | action | exec | input | probe | phase
    start: float  # epoch seconds
    end: float = 0.0
    rows: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self._persisted: list[DataFrame] = []
        self.last_args: dict[str, tuple[tuple, dict]] = {}

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, kind: str = "phase"):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.span_id if parent else None, self.run_id, name, kind, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{kind}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            sc.setJobDescription(f"{parent.kind}:{parent.name}" if parent else None)

    def materialize(self, name: str, out, kind: str = "exec") -> None:
        """Persist and count every DataFrame in ``out`` inside a ``kind``
        span (a FlattenResult counts each of its tables)."""
        frames = _frames(out)
        if not frames:
            return
        with self.span(name, kind) as sp:
            rows = 0
            for df in frames:
                if not df.is_cached:
                    df.persist()
                    self._persisted.append(df)
                rows += df.count()
            sp.rows = rows

    def patch(
        self, owner, attr: str, layer: str, materialize: bool = True, kind: str = "call", inputs: bool = False
    ) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) in a
        ``kind`` span named ``<layer>.<attr>``, materialising what it
        returns when ``materialize`` and the frames passed positionally
        when ``inputs``.  The last call's arguments stay in ``last_args``."""
        orig = getattr(owner, attr)
        name = f"{layer}.{attr}"
        tracer = self

        def traced(*args, **kwargs):
            tracer.last_args[name] = (args, kwargs)
            if inputs:
                tracer.materialize(name, [a for a in args if isinstance(a, DataFrame)], "input")
            with tracer.span(name, kind):
                out = orig(*args, **kwargs)
            if materialize:
                tracer.materialize(name, out)
            return out

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def close(self) -> None:
        """Undo every patch and release what the tracer persisted."""
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # ----------------------------------------------------------- queries
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        return length(self.self_intervals(sp))

    def self_intervals(self, sp: Span) -> list[tuple[float, float]]:
        """The stretches of ``sp`` that none of its children cover."""
        return subtract([(sp.start, sp.end)], [(c.start, c.end) for c in self.children(sp)])

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def find(self, name: str, kind: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.kind == kind]

    def total(self, name: str, kind: str) -> float:
        return sum(s.dur for s in self.find(name, kind))

    def rows(self, name: str) -> int:
        return sum(s.rows or 0 for s in self.find(name, "exec"))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([{**asdict(s), "self_s": self.self_time(s)} for s in self.spans], fh, indent=1)


def _frames(out) -> list[DataFrame]:
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, (tuple, list)):
        return [x for x in out if isinstance(x, DataFrame)]
    tables = getattr(out, "all_tables", None)  # FlattenResult
    if isinstance(tables, dict):
        return list(tables.values())
    return []


def subtract(base: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """The parts of the intervals ``base`` that no interval of ``cut``
    covers."""
    out = []
    for s, e in base:
        for cs, ce in sorted(cut):
            if ce <= s or cs >= e:
                continue
            if cs > s:
                out.append((s, cs))
            s = max(s, ce)
            if s >= e:
                break
        if s < e:
            out.append((s, e))
    return out


def length(intervals: list[tuple[float, float]]) -> float:
    return sum(e - s for s, e in intervals)
