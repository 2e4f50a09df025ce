"""Event-log parser against a small hand-written log.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from eventlog import GroupMetrics, read_event_log  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def test_groups_and_totals():
    groups = read_event_log(FIXTURE)
    assert set(groups) == {"r1.text", "r1.pairs"}  # ungrouped job 2 dropped
    text = groups["r1.text"].as_dict()
    assert text["jobs"] == 2
    assert text["tasks"] == 3  # job 1's stage mapped through JobStart
    assert text["job_s"] == pytest.approx(1.5)  # [1.0, 1.8] and [1.5, 2.5] overlap
    assert text["run_s"] == pytest.approx(1.1)
    assert text["cpu_s"] == pytest.approx(0.45)
    assert text["python_s"] == pytest.approx(0.65)
    assert text["shuffle_write_mb"] == pytest.approx(2.0)
    assert text["spill_mb"] == pytest.approx(0.5)  # disk bytes, not memory
    assert text["peak_exec_mem_mb"] == pytest.approx(4.0)  # max, not sum


def test_task_without_metrics_and_cpu_above_run():
    pairs = read_event_log(FIXTURE)["r1.pairs"].as_dict()
    assert pairs["jobs"] == 1
    assert pairs["tasks"] == 1  # the killed task carries no metrics
    assert pairs["job_s"] == pytest.approx(0.1)
    assert pairs["python_s"] == 0.0  # clamped: CPU clock exceeded run time


def test_job_interval_union():
    g = GroupMetrics(intervals=[(0, 10), (5, 20), (30, 40), (32, 35)])
    assert g.job_s == pytest.approx(0.030)
