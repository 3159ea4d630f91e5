"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, trace id); the spans of one
operation (a drain, a query pass) share a trace id.  They are kept in a
list and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections.abc import Iterator


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else None,
            "start": time.perf_counter(),
            **attrs,
        }
        if rec["trace"] is None:
            rec["trace"] = rec["id"]
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NoTracer:
    """Stands in for ``Tracer`` in untraced runs."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        yield {}
