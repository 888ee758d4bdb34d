"""The event-log fold on a small recorded log (local[2], Spark 4.1).

The fixture holds, in order: two jobs with no group before the operation,
two jobs the build phase tagged ``op0.build`` (one reuses a shuffle stage,
which is skipped), two jobs tagged by a foreign group inside the action
window (how a streaming query's micro-batch jobs arrive) and two ``idle``
jobs after the operation.
"""

import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")
OPS = [{
    "op": 0,
    "name": "demo",
    "phases": [
        {"phase": "build", "group": "op0.build", "t0_ms": 1792204912552, "t1_ms": 1792204913166},
        {"phase": "action", "group": "op0.action", "t0_ms": 1792204913167, "t1_ms": 1792204914717},
    ],
}]


@pytest.fixture(scope="module")
def row():
    (rec,) = eventlog.fold(eventlog.read_events(FIXTURE), OPS)
    return rec


def test_jobs_are_attributed_by_group_then_by_window(row):
    assert row["plans.build_jobs"] == 2
    assert row["exec.jobs"] == 2
    assert row["phase.action_jobs"] == 2


def test_skipped_stages_and_unattributed_jobs_are_not_counted(row):
    # action jobs list stages 6, 7, 8; stage 7 is a reused shuffle (skipped)
    assert row["exec.stages"] == 2
    assert row["exec.tasks"] == 3


def test_task_time_covers_build_and_action_jobs(row):
    # stages 3 and 5 (build) plus 6 and 8 (action), in ms
    assert row["exec.task_run_s"] == pytest.approx((94 + 87 + 10 + 257 + 262 + 62) / 1000)
    assert 0 < row["exec.cpu_ratio"] < 1
    assert row["exec.failed_tasks"] == 0


def test_driver_gap_is_action_wall_minus_stage_busy_time(row):
    wall = 1792204914717 - 1792204913167
    busy = (1792204914404 - 1792204914075) + (1792204914704 - 1792204914566)
    assert row["exec.action_s"] == pytest.approx(wall / 1000)
    assert row["exec.driver_gap_s"] == pytest.approx((wall - busy) / 1000)


def test_skew_is_max_over_median_in_heaviest_stage(row):
    assert row["exec.task_skew"] == pytest.approx(262 / ((257 + 262) / 2))
    assert row["plans.build_s"] == pytest.approx((1792204913166 - 1792204912552) / 1000)


def test_union_clips_overlapping_intervals():
    assert eventlog._union_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5
