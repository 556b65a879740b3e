"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start and end (``perf_counter`` seconds), the id of
the span that caused it, and a group id shared by every span of one
query or one relay round.  Spans stay in memory until :meth:`Tracer.write`
dumps them as JSON lines at the end of the run.  A disabled tracer
records nothing.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "group": group,
               "start": time.perf_counter(), "end": None, **attrs}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def spans_if(self, on: bool):
        """``self.span`` when ``on``, else a no-op of the same signature."""
        return self.span if on else _no_span

    def durations(self, name: str, **attrs) -> list[float]:
        """Durations of the ``name`` spans whose attributes match."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name
                and all(s.get(k) == v for k, v in attrs.items())]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, sort_keys=True) + "\n")


def _no_span(*_args, **_kw):
    return nullcontext()
