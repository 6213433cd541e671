"""In-memory spans recorded around calls into the program's layers.

A span has a name, start, end, parent span and op id. Spans stay in
memory while the benchmark runs and are written out once at the end;
self time is a span's duration minus the part of it that its children
cover. With tracing off, ``span`` records nothing and costs one
attribute check.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {
            "id": None,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in with_self_times(self.spans):
                f.write(json.dumps(rec) + "\n")


def with_self_times(spans: list[dict]) -> list[dict]:
    """Copies of ``spans`` with ``dur`` and ``self`` (seconds) added.

    Children of one span run on the parent's thread, one after another,
    so the covered part is the union of the child intervals clipped to
    the parent; overlapping children are merged rather than summed."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        dur = s["end"] - s["start"]
        out.append({**s, "dur": dur, "self": dur - covered})
    return out
