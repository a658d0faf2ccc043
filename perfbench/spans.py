"""In-memory spans recorded around calls into the program's layers.

A span has a name, start, end, parent span and trace id (the workload,
the run, or one image).  Counts are recorded at the same boundaries by
the ``on_call`` hooks.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.trace_id = ""
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": self.trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Replace ``module.attr`` (the binding the caller looks up) by
        a spanning wrapper; ``on_call(tracer, args, result)`` records
        counts.  ``restore`` undoes every wrap."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_call is not None:
                on_call(self, args, out)
            return out

        self._undo.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        while self._undo:
            module, attr, fn = self._undo.pop()
            setattr(module, attr, fn)

    def durations(self, name: str, trace_prefix: str = "") -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["trace"].startswith(trace_prefix)]

    def self_times(self, trace_prefix: str = "") -> dict[str, float]:
        """name -> summed self time: a span's duration minus its
        children's (children run inside the parent, one at a time)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["trace"].startswith(trace_prefix):
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)
