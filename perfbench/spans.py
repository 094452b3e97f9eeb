"""Spans, Spark job groups and event-log attribution for the traced run.

A span is opened around each call into a layer. Each span gets its
own Spark job group, so after the run the event log tells which jobs,
stages and tasks (and their executor metrics) each span caused.
Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

TASK_METRICS = (
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "shuffle.read_bytes",
    "shuffle.write_bytes",
    "spill_bytes",
    "input_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.id if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str, layer: str):
        """``fn``, with every call recorded as a span."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced


@contextlib.contextmanager
def patched(namespace, names_to_layer: dict[str, str], tracer: Tracer):
    """Replace ``namespace.<name>`` by a traced wrapper, restore on exit."""
    saved = {n: getattr(namespace, n) for n in names_to_layer}
    try:
        for n, layer in names_to_layer.items():
            setattr(namespace, n, tracer.wrap(saved[n], n, layer))
        yield
    finally:
        for n, fn in saved.items():
            setattr(namespace, n, fn)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out


def _new_stats() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "input_records": 0,
            **{m: 0.0 for m in TASK_METRICS}}


def _events(paths: list[Path]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            yield from fh


def parse_event_log(paths: list[Path]) -> dict[str, dict]:
    """Job group -> jobs, stages, tasks and summed task metrics."""
    stats: dict[str, dict] = defaultdict(_new_stats)
    stage_group: dict[int, str] = {}
    for line in _events(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stats[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group[ev["Stage Info"]["Stage ID"]] = group
            stats[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            st = stats[stage_group.get(ev["Stage ID"], "")]
            st["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            inp = m.get("Input Metrics") or {}
            st["executor.run_s"] += m.get("Executor Run Time", 0) / 1e3
            st["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            st["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            st["shuffle.write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            st["input_bytes"] += inp.get("Bytes Read", 0)
            st["input_records"] += inp.get("Records Read", 0)
    return dict(stats)


def sum_stats(stats: dict[str, dict], spans: list[Span], ids) -> dict:
    total = _new_stats()
    for sid in ids:
        for k, v in stats.get(spans[sid].group, {}).items():
            total[k] += v
    return total


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on the DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
