"""Spans for the traced run.

A span has a name, a start, an end, a parent and the run id.  Spans stay in
memory and are written out once, when the run ends.  A layer's self time is
its span's duration minus the part of that interval its child spans cover.

``Tracer(enabled=False)`` records nothing, so the untraced run pays only a
branch per span.  The time the tracer spends in its own bookkeeping and in
the Spark UI REST calls is accumulated in ``overhead_s``.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. from a progress report)."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id))
        return sid

    @contextmanager
    def span(self, name: str):
        """Time the body as a child of the innermost open span."""
        if not self.enabled:
            yield -1
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    @contextmanager
    def overhead(self):
        """Account the body as tracing cost."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += self_time(s, kids[s.id])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part its children cover."""
    return max(0.0, (span.end - span.start) - covered(span, children))


def covered(span: Span, children: list[Span]) -> float:
    """Length of the part of ``span`` covered by the union of ``children``."""
    total, cursor = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, cursor), min(c.end, span.end)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total


def rest(spark, path: str):
    """GET a Spark UI REST endpoint of the running application."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def job_group_totals(spark, groups: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, shuffle-write bytes, output bytes and
    executor run time of its completed stages, from the UI REST store."""
    totals = {g: {"jobs": 0.0, "tasks": 0.0, "shuffle_write_bytes": 0.0,
                  "output_bytes": 0.0, "executor_run_s": 0.0} for g in groups}
    group_of_stage = {}
    for job in rest(spark, "jobs"):
        group = job.get("jobGroup")
        if group in totals:
            totals[group]["jobs"] += 1
            group_of_stage.update((s, group) for s in job["stageIds"])
    for st in rest(spark, "stages"):
        group = group_of_stage.get(st["stageId"])
        if group is not None and st["status"] == "COMPLETE":
            t = totals[group]
            t["tasks"] += st["numCompleteTasks"]
            t["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            t["output_bytes"] += st["outputBytes"]
            t["executor_run_s"] += st["executorRunTime"] / 1000
    return totals
