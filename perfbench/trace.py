"""Span recording for the traced run.

A span is recorded at each call into a module's public function from
the benchmark: name, module, start, end, parent span, thread. The
benchmark wraps methods on its OWN instances (the CrawlDriver, its
TableStore, the SearchService and its TableStore), so calls the engine
makes internally through those instances (run_round -> store.commit on
a pool thread) are captured too; nothing in the engine is edited.

Each wrapper sets a Spark job group in the calling thread (job groups
are per thread in PySpark's pinned-thread mode, and run_round commits
on pool threads), so each span's own jobs are read back afterwards
through statusTracker().getJobIdsForGroup. Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self.main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, module: str, **attrs):
        sid = next(self._ids)
        stack = self._stack()
        # a span opened on an engine pool thread belongs to whatever the
        # benchmark's (main) thread is inside at that moment
        owner = stack or self._main_stack
        parent = owner[-1] if owner else None
        group = f"perfbench-{sid}"
        prev = (
            self.sc.getLocalProperty("spark.jobGroup.id"),
            self.sc.getLocalProperty("spark.job.description"),
        )
        self.sc.setJobGroup(group, name)
        stack.append(sid)
        rec = {
            "id": sid, "name": name, "module": module, "parent": parent,
            "thread": threading.current_thread().name, "group": group, **attrs,
        }
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(rec)

    def wrap(self, obj, methods: list[str], module: str, prefix: str) -> None:
        """Replace obj.<m> for each m with a span-recording wrapper."""
        for m in methods:
            fn = getattr(obj, m)

            def make(fn=fn, m=m):
                @functools.wraps(fn)
                def wrapper(*a, **kw):
                    detail = a[0] if a and isinstance(a[0], (str, int)) else None
                    with self.span(f"{prefix}.{m}", module, arg=detail):
                        return fn(*a, **kw)

                return wrapper

            setattr(obj, m, make())

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part covered by its child spans (in
        any thread)."""
        from perfbench.sparkstats import union_length

        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            cover = [
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in kids.get(s["id"], [])
                if b > s["start"] and a < s["end"]
            ]
            out[s["id"]] = (s["end"] - s["start"]) - union_length(cover)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["id"]), **extra}, f, indent=1)
