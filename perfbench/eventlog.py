"""Turn a Spark event log into per-window counters.

The traced run gives every window its own job group. Jobs and stages carry
the group in their ``Properties``, and tasks are attributed through their
stage. The log is read once, after the session has stopped.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "task_run_s",
    "task_wait_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "failed_tasks",
    "driver_idle_s",
)

_MB = 1024 * 1024


@dataclass(frozen=True)
class Span:
    """One timed window of the traced run, in epoch milliseconds."""

    name: str
    group: str
    start_ms: float
    end_ms: float

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "group": self.group,
            "start_ms": self.start_ms,
            "end_ms": self.end_ms,
        }


def read_events(log_dir: Path):
    """Yield the events of every log under ``log_dir``. Handles both the
    single-file layout and the rolling layout, a directory per application
    holding ``events_<n>_<app>`` files."""
    files = []
    for p in sorted(log_dir.iterdir()):
        if p.is_dir():
            parts = sorted(
                (f for f in p.iterdir() if f.name.startswith("events_")),
                key=lambda f: int(f.name.split("_")[1]),
            )
            files.extend(parts)
        elif not p.name.startswith("."):
            files.append(p)
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def window_counters(events, spans: list[Span]) -> dict[str, dict[str, float]]:
    """Counters keyed by span group. ``driver_idle_s`` is the part of the
    span's wall time that no job of its group covers."""
    groups = {s.group for s in spans}
    out = {g: dict.fromkeys(COUNTERS, 0.0) for g in groups}
    jobs: dict[int, dict] = {}
    stage_group: dict[tuple[int, int], str] = {}
    stage_submit: dict[tuple[int, int], float] = {}

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g in out:
                jobs[e["Job ID"]] = {"group": g, "start": e["Submission Time"], "end": None}
                out[g]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if g in out:
                stage_group[key] = g
                stage_submit[key] = info.get("Submission Time") or 0
                out[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            g = stage_group.get(key)
            if g is None:
                continue
            c = out[g]
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            c["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                c["failed_tasks"] += 1
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["task_wait_s"] += max(0.0, info["Launch Time"] - stage_submit[key]) / 1e3
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB

    for s in spans:
        busy = [
            (max(j["start"], s.start_ms), min(j["end"] or s.end_ms, s.end_ms))
            for j in jobs.values()
            if j["group"] == s.group
        ]
        busy = [(a, b) for a, b in busy if b > a]
        out[s.group]["driver_idle_s"] += max(0.0, (s.end_ms - s.start_ms) - _union_ms(busy)) / 1e3
    return out
