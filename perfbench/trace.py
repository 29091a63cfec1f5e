"""Spans around the benchmark's calls into each layer, joined to the
per-job, per-stage and per-task records of Spark's event log.

Every span sets the Spark local property ``perfbench.span`` to its id
while it is open. Spark copies local properties into each job's and
each stage's event, so a job is attributed to the innermost span that
was open when the job was submitted, with no clock matching.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    layer: str  # call | build | ingest | plan | exec
    label: str  # <workload>/<query or batch>/<pass>, also the job group
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; a disabled tracer records nothing and
    touches no Spark property."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, label: str, parent: Span | None = None):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), layer, label, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc.setLocalProperty(SPAN_PROPERTY, str(parent.id) if parent else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application: a rolling log directory
    (``eventlog_v2_<app>/events_<n>_<app>``) or a single file."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    paths = sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1])) or [
        os.path.join(log_dir, app_id)
    ]
    events = []
    for path in paths:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def span_counters(events: list[dict]) -> dict[int, Counter]:
    """Per span id: jobs, stages, tasks, executor run ms, shuffle bytes
    written, bytes spilled to disk and output bytes written. Records
    submitted outside any span land under id -1."""
    out: dict[int, Counter] = defaultdict(Counter)
    stage_span: dict[tuple[int, int], int] = {}

    def span_of(props: dict | None) -> int:
        sid = (props or {}).get(SPAN_PROPERTY)
        return int(sid) if sid else -1

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            out[span_of(e.get("Properties"))]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = span_of(e.get("Properties"))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            out[stage_span.get((info["Stage ID"], info["Stage Attempt ID"]), -1)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_span.get((e["Stage ID"], e["Stage Attempt ID"]), -1)]
            m = e.get("Task Metrics") or {}
            c["tasks"] += 1
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out
