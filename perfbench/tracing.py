"""Spans for the traced run, and Spark event-log attribution per span.

A span has a name, a start, an end, a parent and the run id; it is kept
in memory and written out once, when the run ends. Each span is also a
Spark job group, so the event log attributes every job — and through it
tasks, GC, shuffle and spill — to the innermost span open when the job
ran. The untraced run uses :class:`NullTracer`, which costs nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import uuid
from collections import defaultdict


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str):
        yield {}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "run_id": self.run_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id → duration minus the part its children cover."""
    child_time: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}


# ------------------------------------------------------------ event log


def _task_row(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    duration = (info["Finish Time"] - info["Launch Time"]) / 1000.0
    run = m.get("Executor Run Time", 0) / 1000.0
    overhead = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    ) / 1000.0
    return {
        "stage": ev["Stage ID"],
        "duration": duration,
        "run": run,
        "scheduler_delay": max(0.0, duration - run - overhead),
        "gc": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def read_event_log(events_dir: str) -> tuple[dict[int, str | None], list[str | None], list[dict]]:
    """→ (stage id → job group, the job group of every job, task rows).
    Call after the session has stopped, when the log is complete."""
    stage_group: dict[int, str | None] = {}
    job_groups: list[str | None] = []
    tasks: list[dict] = []
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    for path in sorted(glob.glob(os.path.join(events_dir, "*", "events_*"))):
        with open(path) as fh:
            for line in fh:
                if not line.startswith(('{"Event":"SparkListenerJobStart"',
                                        '{"Event":"SparkListenerTaskEnd"')):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_groups.append(group)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd" and "Task Info" in ev:
                    tasks.append(_task_row(ev))
    return stage_group, job_groups, tasks


def spark_metrics(tasks: list[dict], jobs: int) -> dict[str, float]:
    """Totals over ``tasks``; ``task_skew`` is the longest task over the
    median task of the stage with the most executor run time."""
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t)
    skew = 1.0
    if by_stage:
        heaviest = max(by_stage.values(), key=lambda ts: sum(t["run"] for t in ts))
        durations = [t["duration"] for t in heaviest]
        med = statistics.median(durations)
        skew = max(durations) / med if med > 0 else 1.0
    return {
        "jobs": jobs,
        "tasks": len(tasks),
        "task_run_s": sum(t["run"] for t in tasks),
        "scheduler_delay_s": sum(t["scheduler_delay"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "task_skew": skew,
    }


def attribute(spans: list[dict], events_dir: str) -> tuple[dict, dict[str, dict]]:
    """→ (whole-run Spark metrics, span id → Spark metrics of the jobs
    that ran while the span was the innermost open one)."""
    stage_group, job_groups, tasks = read_event_log(events_dir)
    tasks_by_group: dict[str | None, list] = defaultdict(list)
    for t in tasks:
        tasks_by_group[stage_group.get(t["stage"])].append(t)
    per_span = {
        s["id"]: spark_metrics(tasks_by_group[s["id"]], job_groups.count(s["id"]))
        for s in spans
    }
    return spark_metrics(tasks, len(job_groups)), per_span
