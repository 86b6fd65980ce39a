"""Spans around the benchmark's calls, and per-span layer metrics from an
uncompressed Spark event log.

``Tracer`` records spans (name, start, end in epoch ms) around the calls
the benchmark makes and sets one Spark job group per span. Each Spark
stage is attributed to the span whose job group submitted it; stages
without a group (jobs started from a driver thread pool, which does not
inherit the group) fall back to the span that contains their submission
time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    group: str | None = None
    submit_ms: int = 0
    complete_ms: int = 0
    n_tasks: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    output_b: int = 0
    spill_b: int = 0


@dataclass
class Span:
    name: str
    group: str
    start_ms: int
    end_ms: int = 0
    stages: list[Stage] = field(default_factory=list)


def _now_ms() -> int:
    return int(time.time() * 1000)


class Tracer:
    """Sequential spans on the driver's main thread; ``switch`` closes the
    open span and opens the next one under its own job group. A disabled
    tracer records spans but leaves the job group alone."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.current: Span | None = None
        self.n_opened = 0

    def switch(self, name: str | None) -> None:
        now = _now_ms()
        if self.current is not None:
            self.current.end_ms = now
            self.current = None
        if name is None:
            if self.enabled:
                self.sc.setJobGroup("perfbench.idle", "between spans")
            return
        self.n_opened += 1
        group = f"{name}#{self.n_opened}"
        self.current = Span(name, group, now)
        self.spans.append(self.current)
        if self.enabled:
            self.sc.setJobGroup(group, name)

    def take(self) -> list[Span]:
        self.switch(None)
        spans, self.spans = self.spans, []
        return spans


def read_stages(log_dir: str) -> list[Stage]:
    """Completed stages with their task sums, from the one event-log file
    a stopped SparkContext leaves in ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1 or files[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stages: dict[tuple[int, int], Stage] = {}

    def stage(ev: dict) -> Stage:
        info = ev.get("Stage Info", ev)
        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
        return stages.setdefault(key, Stage(stage_id=key[0]))

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                stage(ev).group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                s, info = stage(ev), ev["Stage Info"]
                s.submit_ms = info.get("Submission Time", 0)
                s.complete_ms = info.get("Completion Time", s.submit_ms)
                s.n_tasks = info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                s = stage(ev)
                s.tasks += 1
                s.run_ms += m.get("Executor Run Time", 0)
                s.cpu_ns += m.get("Executor CPU Time", 0)
                s.gc_ms += m.get("JVM GC Time", 0)
                s.spill_b += m.get("Disk Bytes Spilled", 0)
                s.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return [s for s in stages.values() if s.complete_ms]


def attribute(stages: list[Stage], spans: list[Span]) -> list[Stage]:
    """Assign each stage to a span; returns the stages no span claimed."""
    by_group = {sp.group: sp for sp in spans}
    orphans = []
    for s in stages:
        if s.group is None:
            sp = next((x for x in spans if x.start_ms <= s.submit_ms <= x.end_ms), None)
        else:
            sp = by_group.get(s.group)
        if sp is None:
            orphans.append(s)
        else:
            sp.stages.append(s)
    return orphans


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def metrics_of(spans: list[Span], cores: int) -> dict[str, float]:
    """Sums over the stages of ``spans``; ``wall_s`` is the spans' total
    length and ``stage_busy_s`` the part of it some stage was running."""
    wall_ms = sum(sp.end_ms - sp.start_ms for sp in spans)
    st = [s for sp in spans for s in sp.stages]
    run_s = sum(s.run_ms for s in st) / 1000
    return {
        "wall_s": wall_ms / 1000,
        "tasks": sum(s.tasks for s in st),
        "exec_cpu_s": sum(s.cpu_ns for s in st) / 1e9,
        "core_util": run_s / (wall_ms / 1000 * cores) if wall_ms else 0.0,
        "shuffle_write_mb": sum(s.shuffle_write_b for s in st) / 2**20,
        "output_mb": sum(s.output_b for s in st) / 2**20,
        "gc_s": sum(s.gc_ms for s in st) / 1000,
        "spill_mb": sum(s.spill_b for s in st) / 2**20,
        "single_task_stages": sum(1 for s in st if s.n_tasks == 1),
        "stage_busy_s": sum(
            covered_ms([(s.submit_ms, s.complete_ms) for s in sp.stages], sp.start_ms, sp.end_ms)
            for sp in spans
        )
        / 1000,
    }
