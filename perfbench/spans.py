"""Spans around the calls into each layer, and the Spark event-log
census that turns each span's jobs into per-layer counters.

A span sets the Spark job group to its own name for the calls it
wraps, so every job started inside it (including the jobs a
``toLocalIterator`` relay starts from its serving thread, which
inherits the group) is tagged in the event log.  The census sums the
task metrics of each group's stages.  Nothing here imports Spark: the
recorder takes a callback that sets the job group.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager

Interval = tuple[float, float]


def covered(span: Interval, children: Iterable[Interval]) -> float:
    """Seconds of ``span`` covered by the union of ``children``."""
    lo, hi = span
    total, reach = 0.0, lo
    for a, b in sorted(children):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(span: Interval, children: Iterable[Interval]) -> float:
    """A span's duration minus the part its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def idle_core_frac(exec_s: float, wall_s: float, cores: int) -> float:
    """Share of the span's core-seconds no task was running:
    1 - exec_s / (wall_s * cores)."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError(f"wall_s={wall_s}, cores={cores}: both must be > 0")
    return 1.0 - exec_s / (wall_s * cores)


class Tracer:
    """Records spans: name → list of (start, end) intervals, plus the
    name of the span that was open when it started."""

    def __init__(self, set_group: Callable[[str | None], None]):
        self._set_group = set_group
        self._stack: list[str] = []
        self.intervals: dict[str, list[Interval]] = {}
        self.parent: dict[str, str | None] = {}

    @contextmanager
    def span(self, name: str):
        self.parent.setdefault(name, self._stack[-1] if self._stack else None)
        self._stack.append(name)
        self._set_group(name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            t1 = time.monotonic()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.intervals.setdefault(name, []).append((t0, t1))

    def children(self, name: str) -> list[str]:
        return [c for c, p in self.parent.items() if p == name]

    def wall(self, name: str) -> float:
        return sum(b - a for a, b in self.intervals[name])

    def self_s(self, name: str) -> float:
        kids = [iv for c in self.children(name) for iv in self.intervals[c]]
        return sum(self_time(iv, kids) for iv in self.intervals[name])


def census(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Job group → summed task metrics, from Spark event-log lines.

    Each stage is charged to the group of the first job that lists it:
    a stage runs in the job that first submits it, and later jobs that
    list it skip it.  Only successful task attempts are counted."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or m is None:
                continue
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                continue
            c = out.setdefault(
                group,
                {"tasks": 0, "exec_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0},
            )
            c["tasks"] += 1
            c["exec_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["shuffle_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                / 1e6
            )
    return out
