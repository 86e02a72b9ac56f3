"""In-memory span tracer that wraps a declared list of entry points.

The benchmark measures the program from outside: it replaces each
declared ``(module, attribute)`` with a wrapper that records a span and
tags the Spark jobs submitted under it, and puts the original back when
the traced repetition ends. A declared name that no longer exists is
reported missing with the reason, and the run goes on, so a refactor that moves work
shows up as gaps in the trace rather than as a broken benchmark.

Spark jobs are tagged through the submitting thread's job group (a
per-thread local property), so jobs started from the program's own
driver thread pools land under the span open in that thread. A thread
with no open span (a pool worker) takes the innermost open span of the
thread that started the trace as its parent.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import threading
import time
from dataclasses import dataclass
from typing import Any, Callable

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    thread: int = 0
    run_id: str = ""

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


@dataclass(frozen=True)
class EntryPoint:
    """``attr`` may be dotted (``Class.method``). ``name`` is the span
    name, or a callable ``(args, kwargs) -> name`` for entry points whose
    role depends on the call (a parquet write of the stage-0 staging
    table versus any other). ``materialize`` checkpoints a returned
    DataFrame (or each DataFrame of a returned dict) inside the span, so
    the span holds the work of a lazily built result instead of only
    its plan construction; it changes the traced plan, which is why the
    traced run reports its own overhead."""

    module: str
    attr: str
    name: str | Callable[[tuple, dict], str]
    materialize: bool = False


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the span). Children may overlap each other when they run
    in pool threads, so their durations are not simply subtracted."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        clipped = [
            (max(c.start, s.start), min(c.end, end))
            for c in kids.get(s.id, [])
            if c.end is not None and min(c.end, end) > max(c.start, s.start)
        ]
        out[s.id] = (end - s.start) - union_length(clipped)
    return out


def _materialize(value: Any) -> Any:
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=True)
    if isinstance(value, dict) and value and all(isinstance(v, DataFrame) for v in value.values()):
        return {k: v.localCheckpoint(eager=True) for k, v in value.items()}
    return value


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.missing: dict[str, str] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root_thread = threading.get_ident()
        self._root_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []
        self._results: dict[int, Any] = {}

    # -- span bookkeeping -------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._root_thread:
            return self._root_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def tag(self, span_id: int) -> str:
        return f"pb-{self.run_id}-{span_id}"

    def _set_props(self, span: Span | None) -> None:
        self.sc.setLocalProperty(_GROUP, self.tag(span.id) if span else None)
        self.sc.setLocalProperty(_DESC, span.name if span else None)

    def open(self, name: str) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._root_stack[-1] if self._root_stack else None
        span = Span(
            next(self._ids), name, parent.id if parent else None, time.perf_counter(),
            thread=threading.get_ident(), run_id=self.run_id,
        )
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        self._set_props(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        # a pool thread falls back to its parent's tag, so jobs it
        # submits between wrapped calls still land under that parent
        if stack:
            self._set_props(stack[-1])
        else:
            parent = next((s for s in self.spans if s.id == span.parent), None)
            self._set_props(parent if threading.get_ident() != self._root_thread else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # -- entry-point patching ---------------------------------------------
    def _wrapper(self, ep: EntryPoint, original):
        tracer = self

        def wrapped(*args, **kwargs):
            name = ep.name(args, kwargs) if callable(ep.name) else ep.name
            s = tracer.open(name)
            try:
                result = original(*args, **kwargs)
                if ep.materialize:
                    result = tracer._results[s.id] = _materialize(result)
                return result
            finally:
                tracer.close(s)

        wrapped.__wrapped__ = original
        return wrapped

    def install(self, entry_points: list[EntryPoint]) -> None:
        for ep in entry_points:
            key = f"{ep.module}:{ep.attr}"
            try:
                owner = importlib.import_module(ep.module)
            except Exception as exc:  # noqa: BLE001 - reported, never fatal
                self.missing[key] = f"module not importable: {type(exc).__name__}: {exc}"
                continue
            *path, leaf = ep.attr.split(".")
            try:
                for p in path:
                    owner = getattr(owner, p)
                original = getattr(owner, leaf)
            except AttributeError as exc:
                self.missing[key] = f"entry point gone: {exc}"
                continue
            if not callable(original):
                self.missing[key] = "entry point is not callable"
                continue
            self._patched.append((owner, leaf, original))
            setattr(owner, leaf, self._wrapper(ep, original))

    def uninstall(self) -> None:
        for owner, leaf, original in reversed(self._patched):
            setattr(owner, leaf, original)
        self._patched.clear()
        self._set_props(None)

    # -- reporting ----------------------------------------------------------
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.by_name(name))

    def self_time(self, name: str) -> float:
        st = self_times(self.spans)
        return sum(st[s.id] for s in self.by_name(name))

    def results_of(self, name: str) -> list:
        """The materialized results of the spans called ``name``."""
        return [self._results[s.id] for s in self.by_name(name) if s.id in self._results]

    def descendants(self, span_id: int) -> set[int]:
        out, frontier = {span_id}, [span_id]
        while frontier:
            nxt = [s.id for s in self.spans if s.parent in frontier]
            out.update(nxt)
            frontier = nxt
        return out

    def report(self) -> dict:
        st = self_times(self.spans)
        return {
            "run_id": self.run_id,
            "missing": dict(self.missing),
            "spans": [
                {
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": round(s.start, 6), "end": round(s.end or s.start, 6),
                    "self_s": round(st[s.id], 6), "thread": s.thread,
                }
                for s in self.spans
            ],
        }
