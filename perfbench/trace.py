"""In-memory span recorder for the traced run.

A span is ``{name, start, end, parent, run_id}`` (times from
``time.perf_counter``). Spans are recorded around the benchmark's calls
into each layer and, by :meth:`Tracer.wrap`, around public entry points
the program calls internally (``SnapshotTable.append``,
``ExtractionJob.done_buckets``, ``tune_arrow_batch``). Wrapping patches an
attribute for the duration of a ``with`` block and restores it after; no
program file changes. The untraced run never creates a tracer.
"""
from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Record a span around every call of ``owner.attr`` inside the
        block; ``on_result(value)`` sees each return value."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: Σ (duration − the part of it its children cover)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(i, ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
