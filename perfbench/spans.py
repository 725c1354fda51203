"""Spans and Spark job counts at the layer boundaries the benchmark calls.

A span records name, start, end, parent and run id. Each span runs its
Spark work under its own job group, so when it ends the tracer reads how
many jobs and stages the layer launched from ``statusTracker``. Spans
stay in memory; :meth:`Tracer.dump` writes them out once, at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Any, Iterator


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        idx = len(self.spans)
        group = f"{self.run_id}-{idx}"
        rec: dict[str, Any] = {
            "name": name, "run": self.run_id, "id": idx,
            "parent": self._stack[-1] if self._stack else None,
            "start": 0.0, "end": 0.0, "jobs": 0, "stages": 0,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"{self.run_id}-{self._stack[-1]}",
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            for job in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job)
                rec["jobs"] += 1
                rec["stages"] += len(info.stageIds) if info else 0

    def tree(self, root: dict[str, Any]) -> list[dict[str, Any]]:
        """``root`` and every span below it, each with its self time: its
        duration minus the part its children cover."""
        out = [root]
        i = 0
        while i < len(out):
            out.extend(s for s in self.spans if s["parent"] == out[i]["id"])
            i += 1
        for s in out:
            kids = sum(c["end"] - c["start"] for c in out if c["parent"] == s["id"])
            s["self"] = (s["end"] - s["start"]) - kids
        return out

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh, indent=1)


def self_time_table(spans: list[dict[str, Any]]) -> str:
    """Per-layer self time, jobs and stages, summed over spans of one name."""
    rows: dict[str, list[float]] = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0.0, 0, 0])
        r[0] += s["self"]
        r[1] += s["jobs"]
        r[2] += s["stages"]
    total = sum(r[0] for r in rows.values()) or 1.0
    lines = [f"{'span':<40} {'self_s':>9} {'share':>6} {'jobs':>5} {'stages':>6}"]
    for name, (self_s, jobs, stages) in sorted(rows.items(), key=lambda kv: -kv[1][0]):
        lines.append(f"{name:<40} {self_s:9.3f} {self_s / total:6.1%} {jobs:5d} {stages:6d}")
    return "\n".join(lines)
