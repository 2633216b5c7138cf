"""Spans around calls into the engine's layers, and the fold of Spark's
event log into one row per span.

A traced run starts its session with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` and opens a span around each call into
a layer's public function.  The span sets the Spark job group to its own
id, so every job, stage and task the call launches carries that id in
the event log.  After the session stops, ``read_event_log`` parses the
log and ``fold`` sums the jobs, stages and tasks of each span.

Everything here is plain Python over the log's JSON lines, so the fold
is unit-tested against a small recorded log without a Spark session.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

# the columns of one span row, in the order the layer table prints them
FIELDS = (
    "wall_s",
    "jobs",
    "tasks",
    "single_task_stages",
    "exec_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_s",
)

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

_GROUP = "spark.jobGroup.id"
# the local properties setJobGroup sets, cleared when a span ends
_GROUP_KEYS = (_GROUP, "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: str  # the job group its jobs carry
    name: str  # "<module>.<function>"
    op: int | None  # index of the benchmark op it ran in; None outside ops
    start: float  # epoch seconds, the clock the event log uses
    end: float


class Tracer:
    """Records spans and tags the Spark jobs each span launches."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, start: float | None = None):
        """Time the block as span ``name``; ``start`` backdates it (the
        session span starts before a SparkContext exists to tag)."""
        sid = f"{name}#{len(self.spans)}"
        self._sc.setJobGroup(sid, name)
        start = time.time() if start is None else start
        try:
            yield
        finally:
            self.spans.append(Span(sid, name, self.op, start, time.time()))
            for key in _GROUP_KEYS:
                self._sc.setLocalProperty(key, None)


class NullTracer:
    """The untraced run's tracer: spans cost nothing and record nothing."""

    op: int | None = None

    def attach(self, spark) -> None:
        pass

    @contextmanager
    def span(self, name: str, start: float | None = None):
        yield


def read_event_log(directory: str) -> list[dict]:
    """Every event under ``directory``, in log order.  Handles both a
    single log file and a rolling ``eventlog_v2_*`` directory, whose
    ``events_<n>_*`` files are read in ``n`` order."""

    def order(path: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(directory)
        for f in files
        if not f.startswith((".", "appstatus"))
    ]
    events = []
    for path in sorted(paths, key=order):
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, reach)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def fold(events: list[dict], spans: list[Span]) -> dict[str, dict[str, float]]:
    """One row per span id with every field in ``FIELDS``.

    A job belongs to the span whose id is its job group.  A stage and its
    tasks belong to the job group of the job that submitted the stage
    (the stage's own properties), falling back to the first job that
    lists it.  ``driver_s`` is the span's wall time minus the union of
    its jobs' intervals: plan building, py4j calls and driver-side
    collects that no Spark job covers."""
    rows = {s.id: dict.fromkeys(FIELDS, 0) for s in spans}
    job_intervals: dict[str, list[tuple[float, float]]] = {s.id: [] for s in spans}
    job_start: dict[int, tuple[str | None, float]] = {}
    group_of_stage: dict[int, str | None] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP)
            job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1000)
            for stage_id in ev.get("Stage IDs", []):
                group_of_stage.setdefault(stage_id, group)
            if group in rows:
                rows[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            group, start = job_start.get(ev["Job ID"], (None, 0.0))
            if group in rows:
                job_intervals[group].append((start, ev["Completion Time"] / 1000))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(_GROUP)
            if group is not None:
                group_of_stage[info["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = group_of_stage.get(info["Stage ID"])
            if group in rows and info.get("Number of Tasks") == 1:
                rows[group]["single_task_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = group_of_stage.get(ev["Stage ID"])
            if group not in rows:
                continue
            row = rows[group]
            m = ev.get("Task Metrics") or {}
            row["tasks"] += 1
            row["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for s in spans:
        row = rows[s.id]
        row["wall_s"] = s.end - s.start
        clipped = [
            (max(lo, s.start), min(hi, s.end)) for lo, hi in job_intervals[s.id]
        ]
        row["driver_s"] = max(0.0, row["wall_s"] - _union_seconds(clipped))
    return rows


def layer_table(
    spans: list[Span], rows: dict[str, dict[str, float]]
) -> dict[str, dict[str, float]]:
    """``{span name: {field: value}}``: each field summed over a span
    name's calls within one op, then the median over ops.  Spans outside
    any op (the session start) count as one op of their own."""
    per_op: dict[str, dict[int | None, dict[str, float]]] = {}
    for s in spans:
        acc = per_op.setdefault(s.name, {}).setdefault(s.op, dict.fromkeys(FIELDS, 0))
        for f in FIELDS:
            acc[f] += rows[s.id][f]
    return {
        name: {f: statistics.median(op[f] for op in ops.values()) for f in FIELDS}
        for name, ops in per_op.items()
    }


def check_metric_names(names) -> None:
    bad = [n for n in names if not METRIC_NAME.fullmatch(n)]
    if bad:
        raise ValueError(f"metric names not matching {METRIC_NAME.pattern}: {bad}")
