"""Outside-in tracing for the traced benchmark run.

Spans are recorded around calls into the engine's public functions by
replacing module and class attributes from here; no engine file changes.
Each span keeps its name, thread, start, end and parent (the innermost open
span on the same thread). Spans stay in memory and are written out as JSON
lines when the run ends.

DataFrame actions are wrapped too and named after the engine module that
called them (``action.count@operators.frontier``), so a ``count`` issued by
the crawl loop is told apart from one issued by the seen set.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

ENGINE_PKG = "eget_crawler_for_overflow_spark"

# DataFrame / writer methods that run Spark jobs
_DF_ACTIONS = ("count", "collect", "localCheckpoint")
_WRITER_ACTIONS = ("parquet", "saveAsTable")


@dataclass
class Span:
    id: int
    name: str
    thread: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            s = Span(
                id=len(self.spans),
                name=name,
                thread=threading.current_thread().name,
                start=time.perf_counter(),
                parent=stack[-1].id if stack else None,
                attrs=attrs,
            )
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    # -- attribute wrapping ------------------------------------------------
    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``attrs_of(args,
        kwargs)`` may add span attributes computed from the arguments."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            extra = attrs_of(args, kwargs) if attrs_of is not None else {}
            with tracer.span(name, **extra):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def wrap_actions(self) -> None:
        """Span every DataFrame action, named after the engine module that
        issued it; actions issued outside the engine are not recorded."""
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for owner, names in ((DataFrame, _DF_ACTIONS), (DataFrameWriter, _WRITER_ACTIONS)):
            for attr in names:
                original = getattr(owner, attr)

                def traced(*args, __orig=original, __attr=attr, **kwargs):
                    module = _engine_caller()
                    if module is None or getattr(tracer._local, "in_action", False):
                        return __orig(*args, **kwargs)
                    attrs = {"module": module}
                    if __attr in ("count", "localCheckpoint"):
                        attrs["cols"] = list(args[0].columns)
                    tracer._local.in_action = True
                    try:
                        with tracer.span(f"action.{__attr}@{module}", **attrs):
                            return __orig(*args, **kwargs)
                    finally:
                        tracer._local.in_action = False

                setattr(owner, attr, traced)
                self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    # -- queries -----------------------------------------------------------
    def named(self, prefix: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans if s.name.startswith(prefix)]
        if within is not None:
            out = [s for s in out if self.is_inside(s, within)]
        return out

    def is_inside(self, s: Span, outer: Span) -> bool:
        p = s.parent
        while p is not None:
            if p == outer.id:
                return True
            p = self.spans[p].parent
        return False

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        """Duration of ``s`` minus the part its direct children cover."""
        return s.dur - _covered([(c.start, c.end) for c in self.children(s)])


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _engine_caller() -> str | None:
    """Engine module (``operators.frontier``) of the nearest engine frame on
    the call stack, or None when no engine code is on it."""
    f = sys._getframe(2)
    while f is not None:
        mod = f.f_globals.get("__name__", "")
        if mod.startswith(ENGINE_PKG + "."):
            return mod[len(ENGINE_PKG) + 1 :]
        f = f.f_back
    return None


def sum_dur(spans: list[Span]) -> float:
    return sum(s.dur for s in spans)
