"""Traced-run tooling: an in-memory span recorder for the benchmark's
calls into each layer, and a parser for Spark's JSON event log.

Spans are kept in memory and written out once, when the run ends. A
disabled recorder costs one attribute check per call, so the untraced
run shares the same code path.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """Span recorder. Each span: name, start, end, parent index, run id."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time covered by
        direct children (children of one span never overlap here, since
        the benchmark is a single closed-loop client)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _task_bytes(metrics: dict) -> dict[str, float]:
    read = metrics.get("Shuffle Read Metrics", {})
    write = metrics.get("Shuffle Write Metrics", {})
    return {
        "run_s": metrics.get("Executor Run Time", 0) / 1000.0,
        "gc_s": metrics.get("JVM GC Time", 0) / 1000.0,
        "shuffle_read_bytes": read.get("Remote Bytes Read", 0)
        + read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": write.get("Shuffle Bytes Written", 0),
        "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
        + metrics.get("Disk Bytes Spilled", 0),
        "input_bytes": metrics.get("Input Metrics", {}).get("Bytes Read", 0),
    }


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and summed task metrics
    (run_s, gc_s, shuffle read/write bytes, spill bytes, input bytes)
    from SparkListenerJobStart/StageSubmitted/TaskEnd events. Jobs with
    no group are reported under the empty string."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                out[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "")
                out[group]["tasks"] += 1
                for k, v in _task_bytes(ev.get("Task Metrics") or {}).items():
                    out[group][k] += v
    return {g: dict(m) for g, m in out.items()}

