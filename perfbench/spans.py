"""In-memory spans and counters recorded around the benchmark's calls into
the engine's layers.

A span is ``(id, name, layer, parent, start, end)``. Spans nest by call
order: a span opened while another is open (on any thread, e.g. a merge
inside the stream's ``foreachBatch``) is its child. Each span also tags
the Spark jobs it launches with a unique job tag, so per-call job counts
stay exact even when the program sets its own job groups or descriptions.

With ``enabled=False`` every call is a no-op, so the untraced run times
the engine alone.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

# span-name prefix -> layer; the first matching prefix wins
LAYERS = (
    ("sources.", "sources"),
    ("lake.merge", "lake.merge"),
    ("lake.manifest", "lake.manifest"),
    ("lake.read", "lake.read"),
    ("lake.compact", "lake.maintenance"),
    ("lake.expire", "lake.maintenance"),
    ("streaming.", "streaming"),
    ("plans.", "plans"),
)


def layer_of(name: str) -> str:
    for prefix, layer in LAYERS:
        if name.startswith(prefix):
            return layer
    raise ValueError(f"span {name!r} maps to no layer")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._lock = threading.Lock()
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True):
        """Record a span around the block. ``tag_jobs=False`` leaves the
        block's Spark jobs untagged (for blocks that start a streaming
        query, whose start event cannot carry job tags to Python)."""
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "layer": layer_of(name),
                "parent": self._open[-1] if self._open else None,
                "start": time.perf_counter(),
                "end": None,
                "jobs": None,
            }
            self.spans.append(rec)
            self._open.append(sid)
        tag = f"perfbench-{sid}"
        if tag_jobs:
            self._sc.addJobTag(tag)
        else:
            rec["jobs"] = 0
        try:
            yield
        finally:
            if tag_jobs:
                self._sc.removeJobTag(tag)
            rec["end"] = time.perf_counter()
            with self._lock:
                self._open.remove(sid)

    def count_jobs(self) -> None:
        """Fill ``jobs`` of every closed span from Spark's status store."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        tracker = jsc.statusTracker()
        for rec in self.spans:
            if rec["jobs"] is None and rec["end"] is not None:
                rec["jobs"] = len(tracker.getJobIdsForTag(f"perfbench-{rec['id']}"))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {layer: 0.0 for _, layer in LAYERS}
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return out

    def coverage(self, t0: float, t1: float) -> float:
        """Share of the wall [t0, t1] covered by the union of spans."""
        iv = sorted(
            (max(s["start"], t0), min(s["end"], t1))
            for s in self.spans
            if s["end"] > t0 and s["start"] < t1
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered / (t1 - t0)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
