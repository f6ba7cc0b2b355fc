"""Spans around calls into the engine's public functions, recorded from
outside the engine.

``Tracer.instrument`` replaces module attributes (or class methods) by
wrappers for as long as its block runs. A wrapper opens a span, runs
the call inside a Spark job group named after the span, and, when the
call returns a DataFrame, materialises it (``localCheckpoint``) before
the span closes, so the lazy work a layer defines is paid inside that
layer. Row counts of the materialised outputs are taken after the run
(``count_rows``), outside its wall time. Spans are held in memory.

Time is attributed by a sweep over span boundaries that gives each
instant of a run to exactly one span, so self times add up to the
run's wall time. The main thread is the critical path: an instant
belongs to its innermost active span, unless that span is the one a
helper-thread span hangs from (the pipeline's prep threads), in which
case the main thread is waiting and the helper span owns the instant.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame

from . import proctree, sparkstats

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    run: int
    name: str
    layer: str
    parent: int | None
    main: bool                 # opened on the main thread
    start: float
    cpu_start: float
    end: float = 0.0
    cpu_end: float = 0.0
    group: str | None = None
    rows: int | None = None
    udf_s: float = 0.0
    notes: dict = field(default_factory=dict)
    # DataFrames to count after the run: "rows" or a notes key -> frame
    pending: dict = field(default_factory=dict)


@dataclass
class Hook:
    owner: Any                 # module or class whose attribute is replaced
    attr: str
    layer: str
    materialize: bool = True   # checkpoint and count a DataFrame result
    udf: bool = False          # record Python-UDF profiler time of the call
    # (span, args, result) -> None: extra facts for the layer report
    note: Callable[[Span, tuple, Any], None] | None = None

    @property
    def name(self) -> str:
        return f"{self.owner.__name__.rsplit('.', 1)[-1]}.{self.attr}"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.marks: list[tuple[float, float]] = []  # (time, tree CPU) outside spans
        self.run = 0
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None

    # -- spans ------------------------------------------------------------
    def mark(self) -> float:
        """Record a (time, CPU) boundary outside any span; returns the time."""
        t = time.perf_counter()
        self.marks.append((t, proctree.cpu_seconds()))
        return t

    def new_run(self) -> int:
        self.run += 1
        self._root = None
        return self.run

    @contextmanager
    def span(self, name: str, layer: str, udf: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._root
        sp = Span(
            id=next(self._ids),
            run=self.run,
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            main=threading.current_thread() is threading.main_thread(),
            start=time.perf_counter(),
            cpu_start=proctree.cpu_seconds(),
        )
        if self._root is None:
            self._root = sp
        sc = SparkContext._active_spark_context
        prev = None
        if sc is not None:
            sp.group = f"{layer}:{sp.id}"
            prev = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
            sc.setJobGroup(sp.group, name)
        udf0 = sparkstats.udf_seconds(_session()) if udf else 0.0
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            if udf:
                sp.udf_s = sparkstats.udf_seconds(_session()) - udf0
            if sc is not None:
                sc.setLocalProperty(_GROUP, prev[0])
                sc.setLocalProperty(_DESC, prev[1])
            sp.end = time.perf_counter()
            sp.cpu_end = proctree.cpu_seconds()
            with self._lock:
                self.spans.append(sp)

    # -- hooks ------------------------------------------------------------
    def _wrap(self, hook: Hook, fn):
        def traced(*args, **kwargs):
            with self.span(hook.name, hook.layer, hook.udf) as sp:
                out = fn(*args, **kwargs)
                if hook.materialize and isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
                    sp.pending["rows"] = out
                if hook.note is not None:
                    hook.note(sp, args, out)
                return out

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def instrument(self, hooks: list[Hook]):
        saved = [(h.owner, h.attr, h.owner.__dict__[h.attr]) for h in hooks]
        try:
            for h, (_, _, fn) in zip(hooks, saved):
                setattr(h.owner, h.attr, self._wrap(h, fn))
            yield self
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    # -- attribution ------------------------------------------------------
    def run_spans(self, run: int) -> list[Span]:
        return [s for s in self.spans if s.run == run]

    def count_rows(self, run: int) -> None:
        """Count the run's materialised outputs (while their blocks live)."""
        for sp in self.run_spans(run):
            for key, df in sp.pending.items():
                if key == "rows":
                    sp.rows = df.count()
                else:
                    sp.notes[key] = df.count()
            sp.pending.clear()

    def self_times(self, spans: list[Span], t0: float, t1: float):
        """Per span id: (self seconds, self CPU seconds) over [t0, t1],
        by the sweep the module docstring describes. Time no span covers is returned under
        the id None."""
        samples = sorted(
            [(s.start, s.cpu_start) for s in spans]
            + [(s.end, s.cpu_end) for s in spans]
            + [m for m in self.marks if t0 <= m[0] <= t1]
        )
        wall: dict[int | None, float] = {}
        cpu: dict[int | None, float] = {}
        for (a, ca), (b, cb) in zip(samples, samples[1:]):
            if b <= a or a < t0 or b > t1:
                continue
            active = [s for s in spans if s.start <= a and s.end >= b]
            owner = _owner(active)
            wall[owner] = wall.get(owner, 0.0) + (b - a)
            cpu[owner] = cpu.get(owner, 0.0) + max(cb - ca, 0.0)
        return wall, cpu


def _owner(active: list[Span]) -> int | None:
    key = lambda s: (s.start, s.id)  # noqa: E731  (innermost = latest opened)
    main = max((s for s in active if s.main), key=key, default=None)
    helper = max((s for s in active if not s.main), key=key, default=None)
    if helper is not None and (main is None or main.id == helper.parent):
        return helper.id
    return main.id if main is not None else None


def _session():
    from pyspark.sql import SparkSession

    return SparkSession._instantiatedSession
