"""In-memory spans and counts for the traced run.

A span records name, start, end, its parent span and the trace (one
micro-batch, curation pass or query) it belongs to. Spans are kept in
memory and written once, when the run ends. With tracing off every
call is a no-op, so the measured run pays nothing.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()  # per-thread stack of open spans

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else f"t{sid}"),
            "start": time.time(),
        }
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def value(self, name: str, v: float) -> None:
        """One sample of a count or quantity, taken at a layer boundary."""
        if self.enabled:
            with self._lock:
                self.values[name].append(float(v))

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "values": self.values},
                fh,
            )


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def jobs_and_tasks(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for st in info.stageIds if info else ():
            sinfo = tracker.getStageInfo(st)
            tasks += sinfo.numTasks if sinfo else 0
    return len(jobs), tasks
