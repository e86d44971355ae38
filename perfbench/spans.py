"""In-memory spans for the traced run.

A span holds name, start, end (seconds of the epoch, so that they line
up with Spark's job times), parent span id and op id. Spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self):
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer:
    """Stands in for Tracer in untraced runs: records nothing."""

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        yield None
