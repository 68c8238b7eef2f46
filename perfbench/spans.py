"""In-memory spans recorded from the benchmark's own files, around its
calls into the program's modules.

A disabled tracer records nothing and costs one attribute check per
call, so the untraced end-to-end runs and the traced per-layer runs
execute the same code.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

from stats import self_times


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping

    def new_trace(self) -> int:
        return next(self._traces)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, trace: int | None = None, parent: int | None = None, **attrs):
        """Record ``name`` around the body. The parent defaults to the
        innermost open span on this thread; pass ``parent`` to link a span
        opened on another thread (a pipeline's collector or processor)."""
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]["id"]
        if trace is None:
            trace = stack[-1]["trace"] if stack else 0
        rec = {"id": next(self._ids), "name": name, "parent": parent, "trace": trace,
               "start": time.perf_counter(), "end": None, **attrs}
        stack.append(rec)
        c1 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = c2 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.cost_s += (c1 - c0) + (time.perf_counter() - c2)

    def summary(self, first: int = 0) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds, over the
        spans recorded from index ``first`` on."""
        spans = self.spans[first:]
        selfs = self_times(spans)
        out: dict[str, dict] = {}
        for s in spans:
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += selfs[s["id"]]
        return out

    def dump(self) -> dict:
        selfs = self_times(self.spans)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": selfs[s["id"]]}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        return {"spans": spans, "summary": self.summary()}
