"""Spans, self time and Spark event-log attribution for the traced run.

Spans are recorded in memory by the benchmark around its calls into each
package module (nothing is traced inside the package). When a span opens
its id becomes the Spark job group (``setJobGroup``), so every job an
action launches inside the span carries the span id in the event log;
``parse_event_log`` folds task metrics back onto those ids.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "executor_run_s", "gc_s",
)


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op.

    Spans nest as a stack: ``open`` pushes, ``close`` pops the innermost.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # SparkContext whose job group follows the open span
        self._stack: list[Span] = []
        self._next_id = 1

    def open(self, name: str, **attrs) -> None:
        if not self.enabled:
            return
        parent = self._stack[-1].span_id if self._stack else None
        self._stack.append(Span(self._next_id, parent, name, time.perf_counter(), 0.0, attrs))
        self._next_id += 1
        self._tag()

    def close(self) -> None:
        if not self.enabled:
            return
        s = self._stack.pop()
        s.end = time.perf_counter()
        self.spans.append(s)
        self._tag()

    def depth(self) -> int:
        return len(self._stack)

    @contextmanager
    def span(self, name: str, **attrs):
        self.open(name, **attrs)
        try:
            yield
        finally:
            self.close()

    def _tag(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(str(top.span_id), top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children[s.span_id], key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.duration - covered
    return out


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Spark event-log JSON lines → counters per job group id.

    Jobs without a group land under ``""``. Stages count once per
    completed stage attempt; skipped stages are not counted."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev["Stage ID"], "")]
            c["tasks"] += 1
            if (ev.get("Task Info", {}).get("Failed")
                    or ev.get("Task End Reason", {}).get("Reason") != "Success"):
                c["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return dict(out)


def read_event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    """Merge every application's event log under ``log_dir``."""
    merged: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for group, counters in parse_event_log(f).items():
                for k, v in counters.items():
                    merged[group][k] += v
    return dict(merged)
