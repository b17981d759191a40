"""Event-log parsing: jobs, stages and tasks charged to job groups."""

import json

import pytest

from perfbench.eventlog import GroupStats, parse, skew


def _line(ev: dict) -> str:
    return json.dumps(ev, separators=(",", ":")) + "\n"


def _job_start(jid, group, stages, t_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return _line({"Event": "SparkListenerJobStart", "Job ID": jid,
                  "Submission Time": t_ms, "Stage IDs": stages,
                  "Properties": props})


def _job_end(jid, t_ms):
    return _line({"Event": "SparkListenerJobEnd", "Job ID": jid,
                  "Completion Time": t_ms, "Job Result": {"Result": "JobSucceeded"}})


def _stage_submit(sid, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return _line({"Event": "SparkListenerStageSubmitted",
                  "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0},
                  "Properties": props})


def _task_end(sid, launch_ms, finish_ms, cpu_ns=0, shuffle_w=0, spill=0):
    return _line({
        "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Disk Bytes Spilled": spill,
        },
    })


def test_tasks_jobs_and_stages_charged_to_their_group():
    lines = [
        _line({"Event": "SparkListenerApplicationStart", "App Name": "x"}),
        _job_start(0, "pb1", [0, 1], 1_000),
        _stage_submit(0, "pb1"),
        _task_end(0, 1_000, 1_100, cpu_ns=2_000_000_000, shuffle_w=3_000_000),
        _task_end(0, 1_000, 1_300, cpu_ns=1_000_000_000),
        _stage_submit(1, "pb1"),
        _task_end(1, 1_300, 1_400, spill=5_000_000),
        _job_end(0, 1_500),
        _job_start(1, None, [2], 2_000),
        _stage_submit(2, None),
        _task_end(2, 2_000, 2_050, cpu_ns=500_000_000),
        _job_end(1, 2_100),
        # a plan-bearing SQL event is skipped without decoding
        '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",{not json\n',
    ]
    g = parse(lines)
    assert set(g) == {"pb1", None}
    pb1 = g["pb1"]
    assert pb1.jobs == 1
    assert pb1.job_intervals == [(1.0, 1.5)]
    assert pb1.task_cpu_s == pytest.approx(3.0)
    assert pb1.shuffle_mb == pytest.approx(3.0)
    assert pb1.spill_mb == pytest.approx(5.0)
    assert sorted(pb1.stage_tasks) == [(0, 0), (1, 0)]
    assert g[None].jobs == 1 and g[None].task_cpu_s == pytest.approx(0.5)


def test_stage_without_submit_event_falls_back_to_its_job():
    lines = [_job_start(0, "pb7", [4], 0), _task_end(4, 0, 10), _job_end(0, 20)]
    g = parse(lines)
    assert g["pb7"].stage_tasks == {(4, 0): [0.01]}


def test_skew_uses_the_stage_with_most_task_time():
    tasks = {(0, 0): [1.0, 1.0, 1.0, 9.0], (1, 0): [0.1, 0.5]}
    assert skew(tasks) == pytest.approx(9.0)
    assert skew({}) == 1.0
    assert skew({(0, 0): [0.0, 0.0]}) == 1.0


def test_group_stats_add():
    a = GroupStats(jobs=1, job_intervals=[(0, 1)], task_cpu_s=1, stage_tasks={(0, 0): [1]})
    a.add(GroupStats(jobs=2, job_intervals=[(2, 3)], shuffle_mb=4, stage_tasks={(0, 0): [2]}))
    assert (a.jobs, a.shuffle_mb, a.job_intervals) == (3, 4, [(0, 1), (2, 3)])
    assert a.stage_tasks == {(0, 0): [1, 2]}
