"""In-memory spans around the calls into each layer, written out at the end.

A span has a name, a start and end (seconds on the monotonic clock, from
the tracer's origin), the id of its parent span and the id of the op it
belongs to. The untraced runs use ``NullTracer``, which records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    enabled = True

    def __init__(self):
        self.origin = time.monotonic()
        self.origin_epoch = time.time()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic() - self.origin, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self.origin

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs):
        """Records a span measured elsewhere (a Spark SQL execution)."""
        self.spans.append({"id": len(self.spans), "name": name, "op": self.op_id,
                           "parent": parent, "start": start, "end": end, **attrs})

    def of_op(self, op_id: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id and s["name"] == name]

    def write(self, path: Path, metrics: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"metrics": metrics, "spans": self.spans}, indent=1))


class NullTracer:
    enabled = False
    op_id = None

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def add(self, *a, **k):
        pass
