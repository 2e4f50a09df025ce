"""Spark event log → task metrics per job group.

Reads an *uncompressed* event log (``spark.eventLog.compress=false``; one JSON
event per line) and sums, for every ``spark.jobGroup.id``:

* ``jobs``        — jobs started in the group;
* ``job_s``       — wall time covered by the group's jobs (union of their
                    submission→completion intervals, so overlapping jobs
                    count once);
* ``run_s``       — executor run time of the group's tasks;
* ``cpu_s``       — JVM CPU time of those tasks;
* ``python_s``    — run time minus JVM CPU time: time a task spent outside
                    JVM compute, dominated by Python workers for UDF stages;
* ``shuffle_write_mb``, ``spill_mb`` (disk bytes spilled);
* ``peak_exec_mem_mb`` — the largest per-task peak execution memory.

A task is attributed through its stage: ``SparkListenerStageSubmitted``
carries the submitting job's local properties, and ``SparkListenerJobStart``
lists each job's stages as the fallback.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
MB = 1024 * 1024


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)

    @property
    def job_s(self) -> float:
        """Union length of the job intervals, in seconds."""
        total, end = 0, None
        for s, e in sorted(self.intervals):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total / 1000.0

    def as_dict(self) -> dict[str, float]:
        run_s = self.run_ms / 1000.0
        cpu_s = self.cpu_ns / 1e9
        return {
            "jobs": self.jobs,
            "tasks": self.tasks,
            "job_s": self.job_s,
            "run_s": run_s,
            "cpu_s": cpu_s,
            "python_s": max(run_s - cpu_s, 0.0),
            "shuffle_write_mb": self.shuffle_write_bytes / MB,
            "spill_mb": self.spill_bytes / MB,
            "peak_exec_mem_mb": self.peak_exec_mem_bytes / MB,
        }


def parse_events(lines: Iterable[str]) -> dict[str, GroupMetrics]:
    """Per-job-group metrics from event-log lines; ungrouped work is dropped."""
    groups: dict[str, GroupMetrics] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is None:
                continue
            job_id = ev["Job ID"]
            job_group[job_id] = group
            job_start[job_id] = ev["Submission Time"]
            groups.setdefault(group, GroupMetrics()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_id = ev["Job ID"]
            if job_id in job_group:
                groups[job_group[job_id]].intervals.append(
                    (job_start[job_id], ev["Completion Time"])
                )
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                continue
            g = groups.setdefault(group, GroupMetrics())
            g.tasks += 1
            g.run_ms += tm.get("Executor Run Time", 0)
            g.cpu_ns += tm.get("Executor CPU Time", 0)
            g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            g.peak_exec_mem_bytes = max(
                g.peak_exec_mem_bytes, tm.get("Peak Execution Memory", 0)
            )
    return groups


def read_event_log(path: str) -> dict[str, GroupMetrics]:
    with open(path, encoding="utf-8") as f:
        return parse_events(f)
