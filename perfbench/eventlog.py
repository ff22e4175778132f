"""Offline parser for Spark event logs (``spark.eventLog.enabled``).

Attributes every finished task to the job group that was set with
``SparkContext.setJobGroup`` when its job started, and sums the task
metrics per group and per stage. Stages whose tasks moved rows through a
Python worker (the ``mapInPandas`` / ``applyInPandasWithState`` stages)
are flagged, so the kernel stage can be read apart from scans and
shuffles.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class StageStats:
    tasks: int = 0
    durations_s: list = field(default_factory=list)  # launch -> finish
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_execution_memory: int = 0
    python_bytes_in: int = 0      # sent to Python workers
    python_bytes_out: int = 0     # returned from Python workers

    @property
    def python(self) -> bool:
        return self.python_bytes_in > 0 or self.python_bytes_out > 0

    def add(self, other: "StageStats") -> None:
        self.tasks += other.tasks
        self.durations_s += other.durations_s
        for name in ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                     "shuffle_write_bytes", "spill_bytes", "python_bytes_in",
                     "python_bytes_out"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.peak_execution_memory = max(self.peak_execution_memory,
                                         other.peak_execution_memory)

    @property
    def task_p50_s(self) -> float:
        return statistics.median(self.durations_s) if self.durations_s else 0.0

    @property
    def task_max_s(self) -> float:
        return max(self.durations_s, default=0.0)


@dataclass
class GroupStats:
    stages: dict = field(default_factory=dict)   # stage id -> StageStats

    def total(self, python_only: bool = False) -> StageStats:
        out = StageStats()
        for s in self.stages.values():
            if s.python or not python_only:
                out.add(s)
        return out


def _task_stats(event: dict) -> StageStats:
    info = event.get("Task Info", {})
    m = event.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    s = StageStats(
        tasks=1,
        durations_s=[(info.get("Finish Time", 0)
                      - info.get("Launch Time", 0)) / 1000.0],
        run_s=m.get("Executor Run Time", 0) / 1000.0,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        shuffle_read_bytes=(sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=(m.get("Memory Bytes Spilled", 0)
                     + m.get("Disk Bytes Spilled", 0)),
        peak_execution_memory=m.get("Peak Execution Memory", 0),
    )
    for acc in info.get("Accumulables", ()):
        name, update = acc.get("Name"), acc.get("Update")
        if update is None:
            continue
        if name == PY_SENT:
            s.python_bytes_in += int(update)
        elif name == PY_RECEIVED:
            s.python_bytes_out += int(update)
    return s


def parse_events(lines) -> dict:
    """group id -> GroupStats from an iterable of event-log JSON lines.
    Jobs started without a job group land under ``""``."""
    stage_group = {}
    groups = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            props = event.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in event.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = event["Stage ID"]
            group = groups.setdefault(stage_group.get(sid, ""), GroupStats())
            group.stages.setdefault(sid, StageStats()).add(_task_stats(event))
    return groups


def _event_files(log_dir: str) -> dict:
    """application -> its event files in order. A plain file is one
    application's log; a rolling log (``eventlog_v2_<app>/``) keeps the
    application's events in ``events_<n>_<app>`` parts."""
    apps = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            apps[name] = [os.path.join(path, p) for p in parts]
        elif not name.endswith(".inprogress"):
            apps[name] = [path]
    return apps


def _lines(paths):
    for path in paths:
        with open(path) as f:
            yield from f


def parse_dir(log_dir: str) -> dict:
    """Parse every application's event log under ``log_dir``; stages are
    keyed (application, stage id)."""
    groups = {}
    for app, paths in _event_files(log_dir).items():
        for gid, g in parse_events(_lines(paths)).items():
            merged = groups.setdefault(gid, GroupStats())
            for sid, s in g.stages.items():
                merged.stages.setdefault((app, sid), StageStats()).add(s)
    return groups
