"""Aggregate Spark task metrics from an uncompressed, non-rolling event log.

Each job carries the job group that was current when it was submitted
(``spark.jobGroup.id``); stages inherit it through the properties of their
``StageSubmitted`` event, and tasks through their stage. :func:`aggregate`
sums the metrics of every job, stage and task whose group passes a filter.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable, Iterable

GROUP_KEY = "spark.jobGroup.id"
MB = 1024.0 * 1024.0


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    task_wait_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    jobs_by_group: dict[str | None, int] = field(default_factory=dict)

    @property
    def noncpu_s(self) -> float:
        """Executor run time the JVM CPU clock did not see: Python workers,
        I/O and waits inside the task."""
        return self.run_s - self.cpu_s


def read_events(lines: Iterable[str]) -> Iterable[dict]:
    for line in lines:
        line = line.strip()
        if line:
            yield json.loads(line)


def aggregate(events: Iterable[dict],
              keep: Callable[[str | None], bool] = lambda g: True) -> ExecTotals:
    """Sum job/stage/task metrics over the groups ``keep`` accepts."""
    out = ExecTotals()
    stage_group: dict[tuple[int, int], str | None] = {}
    stage_submit_ms: dict[tuple[int, int], int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if keep(group):
                out.jobs += 1
                out.jobs_by_group[group] = out.jobs_by_group.get(group, 0) + 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_group[key] = (ev.get("Properties") or {}).get(GROUP_KEY)
            if info.get("Submission Time") is not None:
                stage_submit_ms[key] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if keep(stage_group.get(key)):
                out.stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            if not keep(stage_group.get(key)):
                continue
            _add_task(out, ev, stage_submit_ms.get(key))
    return out


def _add_task(out: ExecTotals, ev: dict, submit_ms: int | None) -> None:
    out.tasks += 1
    info = ev.get("Task Info") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if info.get("Failed") or reason != "Success":
        out.task_failures += 1
    if submit_ms is not None and info.get("Launch Time") is not None:
        out.task_wait_s += max(0, info["Launch Time"] - submit_ms) / 1000.0
    m = ev.get("Task Metrics") or {}
    out.run_s += m.get("Executor Run Time", 0) / 1000.0
    out.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    out.gc_s += m.get("JVM GC Time", 0) / 1000.0
    sw = m.get("Shuffle Write Metrics") or {}
    out.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
    sr = m.get("Shuffle Read Metrics") or {}
    out.shuffle_read_mb += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / MB
    out.spill_mb += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ) / MB
    out.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
