"""In-memory span recorder for the traced run.

Spans are opened only by the benchmark's own code, around each call it
makes into a layer of the engine (``session``, ``io``, ``operators``,
Spark's action). Each span has a name, start, end, parent and the request
it belongs to; nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "request": self.request,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, since: float = float("-inf")) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans
        (children of one span never overlap: the client is one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["start"] >= since:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NoTracer:
    """Stand-in for untraced runs: spans cost one context-manager call."""

    request = None
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null
