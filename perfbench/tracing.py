"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, parent span, op id and counts (docs in and
out, plan bytes, ...). Spans stay in memory and are written as JSON lines
when the run ends. A layer's self time is its span's duration minus the
part its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0

    @contextmanager
    def span(self, name: str, **counts):
        """Record ``name`` around the body; the body may add counts to the
        yielded dict. Disabled tracers record nothing."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` by a function that records span ``name``
        around each call; ``after(result, counts)`` may materialise the
        result inside the span and return a replacement. Returns an undo
        callable."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as counts:
                out = original(*args, **kwargs)
                if after is not None:
                    out = after(out, counts)
                return out

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)

    def self_times(self, op: int | None = None) -> dict[str, float]:
        """Summed self time per span name (optionally for one op id)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if op is not None and s["op"] != op:
                continue
            own = (s["end"] - s["start"]) - child[i]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def counts(self, name: str, key: str) -> float:
        return sum(
            s["counts"].get(key, 0) for s in self.spans if s["name"] == name
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=vars) + "\n")
