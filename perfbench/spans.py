"""In-memory spans around calls into sparklog's layers.

A span has a name, start, end (epoch seconds), its parent span and the
run id.  Entering a span also sets Spark's job description to
``<run id>/<span id>/<name>``, so every SQL execution an action starts
until the next span opens can be joined back to the layer whose call
built its plan (layer functions that return lazy DataFrames run their
work after they return).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time


class Tracer:
    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    def tag(self, span_id: int, name: str) -> None:
        self._sc.setJobDescription(f"{self.run_id}/{span_id}/{name}")

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"run_id": self.run_id, "span_id": next(self._ids),
               "parent_id": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), **attrs}
        self._stack.append(rec["span_id"])
        self.tag(rec["span_id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def add_executions(self, executions: list[dict]) -> None:
        """Record Spark SQL executions as child spans of the span named in
        their job description."""
        for e in executions:
            parts = (e["description"] or "").split("/", 2)
            parent = (int(parts[1]) if len(parts) == 3
                      and parts[0] == self.run_id else None)
            self.spans.append({"run_id": self.run_id,
                               "span_id": f"sql-{e['execution_id']}",
                               "parent_id": parent,
                               "name": "spark.sql_execution", **e})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.get("start") or 0):
                f.write(json.dumps(s, default=str) + "\n")


def leg(tracer: Tracer | None, name: str):
    """A span when tracing, else nothing."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def layer_of(description: str | None) -> str | None:
    """The span name inside a ``<run id>/<span id>/<name>`` description."""
    parts = (description or "").split("/", 2)
    return parts[2] if len(parts) == 3 else None


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace attributes: ``targets`` is a list of
    (object, attribute name, replacement)."""
    saved = []
    try:
        for obj, attr, new in targets:
            saved.append((obj, attr, getattr(obj, attr)))
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in reversed(saved):
            setattr(obj, attr, old)
