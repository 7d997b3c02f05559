"""Layer spans from outside the package, plus a Spark event-log reader.

A :class:`Tracer` records one span per call into a layer: it sets a Spark
job group named after the layer before the call, so every job the call runs
can be attributed afterwards from the event log.
Spans stay in memory and are written out once, when the run ends.

:func:`read_event_log` sums, per job group: executor run time, JVM GC time,
shuffle bytes, output bytes and records, Python bytes sent and returned
(the SQL metrics of the Arrow/pandas Python operators), failed tasks and
jobs.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    spans: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    _stack: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Time the block and tag its Spark jobs with the job group ``name``;
        jobs of a nested span count for the inner span only."""
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent and parent.name)
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                sc.setJobGroup(parent.name, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, value: int) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def wall(self, name: str) -> float:
        return sum(s.wall_s for s in self.spans if s.name == name)

    def self_wall(self, name: str) -> float:
        """Wall time of the ``name`` spans less that of the spans nested in
        them, which count for their own layer (as their jobs do)."""
        return self.wall(name) - sum(s.wall_s for s in self.spans if s.parent == name)

    def dump(self, path: str) -> None:
        """Write every span (name, start, end, parent) once."""
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "name": s.name, "start": s.start - t0, "end": s.end - t0,
                    "parent": s.parent,
                }) + "\n")


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0

    def add(self, other: "GroupStats") -> "GroupStats":
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))
        return self


def _accum(task_info: dict, name: str) -> int:
    total = 0
    for acc in task_info.get("Accumulables", []):
        if acc.get("Name") == name:
            try:
                total += int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def parse_event_lines(lines) -> dict:
    """Event-log JSON lines -> {job group: GroupStats}.  Jobs without a
    group are kept under ``""``."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stats.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            g = stats.setdefault(group, GroupStats())
            info = ev.get("Task Info", {})
            metrics = ev.get("Task Metrics") or {}
            g.tasks += 1
            if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
                "Reason", "Success"
            ) != "Success":
                g.failed_tasks += 1
            g.task_s += metrics.get("Executor Run Time", 0) / 1000.0
            g.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
            shuffle_read = metrics.get("Shuffle Read Metrics", {})
            g.shuffle_bytes += (
                shuffle_read.get("Remote Bytes Read", 0)
                + shuffle_read.get("Local Bytes Read", 0)
            )
            out = metrics.get("Output Metrics", {})
            g.output_bytes += out.get("Bytes Written", 0)
            g.output_records += out.get("Records Written", 0)
            g.py_sent_bytes += _accum(info, PY_SENT)
            g.py_returned_bytes += _accum(info, PY_RETURNED)
    return stats


def read_event_log(log_dir: str) -> dict:
    """Parse every event-log file Spark wrote under ``log_dir`` (a plain
    file, or the ``eventlog_v2_*`` directory of a rolling log)."""
    stats: dict[str, GroupStats] = {}
    for dirpath, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                for group, g in parse_event_lines(fh).items():
                    stats.setdefault(group, GroupStats()).add(g)
    return stats


def layer_stats(stats: dict, layer: str) -> GroupStats:
    """The job group of one layer (empty when the layer ran no job)."""
    return stats.get(layer, GroupStats())
