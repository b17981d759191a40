"""Stdlib reader for an uncompressed, non-rolling Spark event log.

Every job, stage and task is charged to the job group it ran under
(``spark.jobGroup.id``, which ``spans.Tracer`` sets to the innermost
open span id).  Per group the reader keeps the job count and job
intervals, task CPU, shuffle bytes written, disk spill, and the task
durations of each Spark stage, from which ``skew`` (max / median task
time in the stage with the most task time) is derived.

Only job, stage-submit and task-end lines are decoded; the large SQL
plan events are skipped by their prefix, so a log of a few hundred MB
reads in seconds.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
_WANTED = (
    '{"Event":"SparkListenerTaskEnd"',
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageSubmitted"',
)


@dataclass
class GroupStats:
    jobs: int = 0
    job_intervals: list = field(default_factory=list)   # (start_s, end_s)
    task_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    stage_tasks: dict = field(default_factory=dict)     # stage key -> [task s]
    stage_names: dict = field(default_factory=dict)     # stage id -> call site

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.job_intervals += other.job_intervals
        self.task_cpu_s += other.task_cpu_s
        self.shuffle_mb += other.shuffle_mb
        self.spill_mb += other.spill_mb
        for k, v in other.stage_tasks.items():
            self.stage_tasks.setdefault(k, []).extend(v)
        self.stage_names.update(other.stage_names)


def skew(stage_tasks: dict) -> float:
    """max / median task time in the stage with the most total task
    time; 1.0 when there are no tasks."""
    if not stage_tasks:
        return 1.0
    dominant = max(stage_tasks.values(), key=sum)
    med = statistics.median(dominant)
    return max(dominant) / med if med > 0 else 1.0


def _group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_KEY)


def parse(lines) -> dict[str | None, GroupStats]:
    """Group id (None for jobs outside any span) -> GroupStats."""
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = {}

    def stats(g):
        return out.setdefault(g, GroupStats())

    for line in lines:
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            st = stats(g)
            st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.shuffle_mb += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            st.stage_tasks.setdefault(key, []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            g = stage_group[info["Stage ID"]] = _group(ev.get("Properties"))
            stats(g).stage_names[info["Stage ID"]] = info.get("Stage Name", "")
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            g = _group(ev.get("Properties"))
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1e3
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
        else:  # SparkListenerJobEnd
            jid = ev["Job ID"]
            if jid in job_group:
                st = stats(job_group[jid])
                st.jobs += 1
                st.job_intervals.append((job_start[jid], ev["Completion Time"] / 1e3))
    return out


def parse_file(path: str) -> dict[str | None, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse(f)
