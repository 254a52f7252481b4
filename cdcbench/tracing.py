"""Span tracer for the traced run: wraps the engine's public functions.

Spans are kept in memory (name, start, end, parent, thread) and written
out once at the end. A span's self time is its duration minus the part
its child spans cover. The stream's foreachBatch callbacks run on a
py4j callback thread, so each thread keeps its own span stack.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.paused = False  # set while the benchmark checks outputs

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version (undone by
        :meth:`unwrap_all`)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.paused:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def totals(self, since: float = 0.0) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds, self seconds, over the
        spans that started at or after ``since``."""
        spans = [s for s in self.spans if s["start"] >= since]
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s in spans:
            dur = s["end"] - s["start"]
            covered = _union_length(
                [(c["start"], c["end"]) for c in kids[s["id"]]]
            )
            t = out[s["name"]]
            t["calls"] += 1
            t["total_s"] += dur
            t["self_s"] += dur - covered
        return dict(out)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "totals": self.totals(),
                       **(extra or {})}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        st = self.tracer._stack()
        with self.tracer._lock:
            sid = len(self.tracer.spans)
            self.rec = {
                "id": sid,
                "name": self.name,
                "parent": st[-1]["id"] if st else None,
                "thread": threading.get_ident(),
                "start": time.perf_counter(),
                "end": None,
            }
            self.tracer.spans.append(self.rec)
        st.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.tracer._stack().pop()
        return False


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public layer boundaries. Callers reach these
    through module attributes (``pipeline.apply_batch``,
    ``metrics_mod.record_commit``, ...), so patching the attribute the
    caller looks up is enough."""
    from data_pipeline_spark import metrics, pipeline, session
    from data_pipeline_spark.lake.table import LakeTable
    from data_pipeline_spark.streaming import pipeline as stream

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(pipeline, "apply_batch", "pipeline.apply_batch")
    tracer.wrap(stream, "apply_batch", "pipeline.apply_batch")
    tracer.wrap(pipeline, "merge_into", "lake.merge.merge_into")
    tracer.wrap(stream, "reread_wal_paths", "streaming.reread_wal_paths")
    tracer.wrap(metrics, "record_commit", "metrics.record_commit")
    for meth in ("commit_delta", "current", "read", "lookup", "read_since",
                 "compact"):
        tracer.wrap(LakeTable, meth, f"lake.table.{meth}")
