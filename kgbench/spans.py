"""Spans around layer calls, with Spark job and stage counts per span.

A span records name, start, end, parent and run id.  While a span is
open its Spark jobs run under a job group of their own, so the status
tracker can say which jobs (and how many stages) the span caused; jobs
of a nested span count toward the nested span only.  Spans stay in
memory until `write` at the end of the run.  With `enabled=False`
every span is a no-op, which is how end-to-end numbers are measured.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's record (or an unused dict when disabled);
        callers may add counts to it."""
        if not self.enabled:
            yield {}
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        group = f"{self.run_id}/{rec['id']}"
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if parent:
                self.sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            tracker = self.sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            rec["jobs"] = len(job_ids)
            rec["stages"] = sum(
                len(info.stageIds) for info in map(tracker.getJobInfo, job_ids) if info
            )

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its child spans cover
        (children of one span run one after another, never overlap)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")
