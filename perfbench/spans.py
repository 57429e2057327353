"""In-memory span recorder for the benchmark's traced mode.

A span is ``(id, name, start, end, parent, run_id, thread)``; the parent is
the innermost open span on the same thread. Spans wrap the benchmark's own
calls into each layer's public functions, named ``<layer>.<call>``, where
the layer is the package module (``operators.mutate``,
``streaming.bm25_index``...) or ``spark`` for work Spark runs on the
benchmark's behalf (collects, noop writes). Nothing is written until
:meth:`Tracer.write` at exit.

No span wraps a wait on a stream (``processAllAvailable``): the stream's
``foreachBatch`` runs on Spark's callback thread, where its spans are roots,
so a waiting span on the main thread would count that time twice. A
stream's own trigger time is split between source and Spark from its
progress records instead (``common.stream_self_s``).

With ``enabled=False`` every call is a no-op, so the untraced run pays one
attribute check per boundary.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: span-name prefix -> layer; the longest matching prefix wins
LAYERS = (
    "session",
    "sources.polling",
    "sources.envelope",
    "operators.flatten",
    "operators.mutate",
    "operators.history",
    "streaming.mor",
    "streaming.windows",
    "streaming.bm25_index",
    "functions",
    "plans",
    "util",
    "spark",
    "bench",
)


def layer_of(name: str) -> str:
    best = None
    for layer in LAYERS:
        if (name == layer or name.startswith(layer + ".")) and (best is None or len(layer) > len(best)):
            best = layer
    return best or "bench"


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "name": name,
                        "start": start,
                        "end": end,
                        "parent": parent,
                        "run_id": self.run_id,
                        "thread": threading.get_ident(),
                    }
                )

    def durations(self, name: str) -> list[float]:
        """Durations in seconds of every span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[layer_of(s["name"])] += (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
