"""In-memory spans around the calls the benchmark makes into the package.

A :class:`Tracer` records one span per call of each wrapped function:
the package's public entry points and every Spark action they trigger.
Wrappers are installed from here, on the module and class attributes the
package looks up at call time, and removed again by :meth:`Tracer.close`;
no package file is touched.  Spans are kept in memory and written out
once, at the end of a run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

#: Spark actions, and the eager materializations package code calls,
#: whose SQL executions the trace attributes to a span
ACTIONS = {"DataFrameWriter": ("parquet", "save"),
           "DataFrame": ("count", "collect", "first", "localCheckpoint",
                         "checkpoint")}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), name,
                 self._stack[-1] if self._stack else None, time.time(),
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name``; ``attrs_of(args, kwargs)`` may add span attributes."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_actions(self, spark) -> None:
        """Wrap the DataFrame actions and writer calls on the classes this
        session actually hands out."""
        df = spark.range(1)
        for cls in (type(df), type(df.write)):
            for attr in ACTIONS[cls.__name__]:
                self.wrap(cls, attr, f"action.{attr}", _path_attr
                          if cls.__name__ == "DataFrameWriter" else None)

    def take(self) -> list[Span]:
        """Hand over the finished spans and start afresh."""
        done, self.spans = self.spans, []
        return done

    def close(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def innermost(self, t: float) -> Span | None:
        """The deepest span open at time ``t`` (spans nest, so the latest
        started one that covers ``t`` is the deepest)."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                best = s
        return best

    def ancestors(self, s: Span):
        while s is not None:
            yield s
            s = self.spans[s.parent] if s.parent is not None else None

    def under(self, s: Span, name: str) -> bool:
        return any(a.name == name for a in self.ancestors(s))


def dump(path: Path, spans: list[Span], extra: dict) -> None:
    path.write_text(json.dumps(
        {**extra, "spans": [asdict(s) for s in spans]}, indent=1))


def _path_attr(args, kwargs) -> dict:
    path = args[1] if len(args) > 1 else kwargs.get("path")
    return {"path": str(path)} if path is not None else {}
