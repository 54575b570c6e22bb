"""In-memory spans: run -> pass -> op -> phase, each with its parent's id.

When the tracer is given a SparkContext, entering a span also sets the
``perfbench.span`` local property, so every job the span causes carries the
span id into Spark's event log (see ``eventlog.py``). Without one, spans only
time the calls, which is how the untraced end-to-end runs measure.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from eventlog import SPAN_PROPERTY


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, kind: str, name: str, **attrs):
        """Time one call; the yielded record gains ``wall_s`` on exit."""
        sid = str(len(self.spans))
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "kind": kind,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, sid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROPERTY, self._stack[-1] if self._stack else None
                )

    def descendants(self, root_id: str, kind: str) -> list[dict]:
        """Spans of ``kind`` anywhere below span ``root_id``."""
        parent = {s["id"]: s["parent"] for s in self.spans}
        out = []
        for s in self.spans:
            if s["kind"] != kind:
                continue
            p = s["parent"]
            while p is not None and p != root_id:
                p = parent[p]
            if p == root_id:
                out.append(s)
        return out
