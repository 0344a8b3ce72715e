"""Unit test of the event-log parser on a small checked-in log.

Run from the repository root: ``python3 -m pytest perfbench/test_eventlog.py``.

The fixture holds a set-up job outside every op window, then three ops:
A (job group ``opA``) with two overlapping jobs and one task per job;
B (no group, as a streaming thread's jobs) with two back-to-back jobs and a
Python metric introduced by an adaptive re-plan; C (group ``opC``) with a
job that has no end event.
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog_small.jsonl")
WINDOWS = [
    eventlog.OpWindow("opA", 1000, 2200),
    eventlog.OpWindow("opB", 3000, 4100),
    eventlog.OpWindow("opC", 5000, 6000),
]


@pytest.fixture(scope="module")
def ops():
    return eventlog.op_layers(eventlog.read_events(FIXTURE), WINDOWS)


def test_union_length():
    assert eventlog.union_length([]) == 0
    assert eventlog.union_length([(0, 10), (5, 15)]) == 15  # overlapping
    assert eventlog.union_length([(0, 10), (10, 20)]) == 20  # back to back
    assert eventlog.union_length([(20, 30), (0, 10), (2, 3)]) == 20  # unsorted, nested
    assert eventlog.union_length([(5, 5), (7, 6)]) == 0  # empty intervals


def test_overlapping_jobs_gap(ops):
    a = ops[0]
    assert (a.jobs, a.stages, a.tasks) == (2, 2, 2)
    assert a.wall_s == pytest.approx(1.2)
    assert a.job_busy_s == pytest.approx(0.8)  # [1100, 1900]
    assert a.gap_s == pytest.approx(0.4)


def test_back_to_back_jobs_attributed_by_time(ops):
    b = ops[1]
    assert (b.jobs, b.tasks) == (2, 2)
    assert b.job_busy_s == pytest.approx(0.8)  # [3100, 3500] + [3500, 3900]
    assert b.gap_s == pytest.approx(0.3)


def test_job_without_end_runs_to_window_end(ops):
    c = ops[2]
    assert c.jobs == 1
    assert c.job_busy_s == pytest.approx(0.6)  # [5400, 6000]
    assert c.gap_s == pytest.approx(0.4)


def test_task_metric_sums(ops):
    a = ops[0].exec
    assert a["exec.run_s"] == pytest.approx(0.5)
    assert a["exec.cpu_s"] == pytest.approx(0.3)
    assert a["exec.gc_s"] == pytest.approx(0.01)
    assert a["exec.input_rows"] == 1000
    assert a["exec.shuffle_write_mb"] == pytest.approx(1.0)
    assert a["exec.shuffle_read_mb"] == pytest.approx(1.0)
    assert a["exec.spill_mb"] == pytest.approx(2.0)
    assert a["exec.output_mb"] == pytest.approx(3.0)
    # the set-up job's 999 ms task belongs to no op
    assert sum(o.exec["exec.run_s"] for o in ops) == pytest.approx(0.75)


def test_python_boundary_metrics(ops):
    assert set(eventlog.PY_METRICS) == {
        "time to start Python workers",
        "time to initialize Python workers",
        "time to run Python workers",
        "data sent to Python workers",
        "data returned from Python workers",
    }
    a = ops[0].py
    assert a["py.start_s"] == pytest.approx(0.05)
    assert a["py.init_s"] == pytest.approx(0.02)
    assert a["py.run_s"] == pytest.approx(0.1)
    assert a["py.sent_mb"] == pytest.approx(2.0)
    assert a["py.returned_mb"] == pytest.approx(1.0)
    # nanosecond timing from the adaptive re-plan's metric
    assert ops[1].py["py.run_s"] == pytest.approx(0.04)


def test_summarize_per_pass(ops):
    s = eventlog.summarize(ops, cores=4, passes=1)
    assert s["sched.jobs"] == 5
    assert s["sched.job_busy_s"] == pytest.approx(2.2)
    assert s["driver.gap_s"] == pytest.approx(1.1)
    assert s["driver.gap_share"] == pytest.approx(1.1 / 3.3)
    assert s["exec.cpu_util"] == pytest.approx(0.3 / (2.2 * 4))
    half = eventlog.summarize(ops, cores=4, passes=2)
    assert half["sched.jobs"] == 2.5
    assert half["driver.gap_share"] == s["driver.gap_share"]
    assert all(not math.isnan(v) for v in s.values())

