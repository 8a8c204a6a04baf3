"""Spans recorded from the benchmark side of each engine call.

A traced run wraps every call into an engine module's public function
in a span (name, start, end, parent, request id) and runs the call
under a Spark job group named after the span, so the event log can
attribute jobs, stages, tasks, bytes and GC time to the span that
caused them. Spans stay in memory and are written out once, at the
end. With tracing off, :meth:`Tracer.span` only yields.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s['id']}", name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_ms(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        out = {s["id"]: (s["end"] - s["start"]) * 1e3 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= (s["end"] - s["start"]) * 1e3
        return out

    def write(self, path: str) -> None:
        selfs = self.self_ms()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_ms": round(selfs[s["id"]], 3)}) + "\n")


def span_work(event_log_dir: str) -> dict[int, dict[str, float]]:
    """Per-span Spark work from the event log: jobs, stages, tasks,
    task run time, GC time, input bytes and shuffle bytes (read plus
    written), keyed by the span id carried in the job group."""
    paths = sorted(p for p in glob.glob(os.path.join(event_log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    stage_span: dict[int, int] = {}
    work: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith("span-"):
                        continue
                    sid = int(group[5:])
                    work[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerStageCompleted":
                    sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                    if sid is not None:
                        work[sid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    w = work[sid]
                    w["tasks"] += 1
                    w["run_ms"] += m.get("Executor Run Time", 0)
                    w["gc_ms"] += m.get("JVM GC Time", 0)
                    w["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    w["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
    return work
