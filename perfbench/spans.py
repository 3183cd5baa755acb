"""In-memory spans with parent links, written out when the run ends.

The benchmark wraps each call into a layer of the engine in a span;
a layer's self time is its span's duration minus the part of that
interval its child spans cover. ``Tracer(enabled=False)`` records
nothing, so untraced runs pay one attribute check per call.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import clip, union_length


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the body as span ``name``. Its parent is ``parent`` when
        given (work running on another thread, such as a foreachBatch
        callback), else the innermost open span of this thread. Yields
        the span record; callers may add attributes to it."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name, **attrs}
        rec["parent"] = parent if parent is not None else (stack[-1] if stack else None)
        stack.append(rec["id"])
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its children's
    intervals, clipped to the span itself."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - union_length(clip(children[s["id"]], s["t0"], s["t1"]))
        for s in spans
    }


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += st[s["id"]]
    return dict(out)
