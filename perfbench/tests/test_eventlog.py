"""Event-log reader and time-window split on a small canned rolled log.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import event_files, read_jobs, split_window, summarize  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_rolled_files_read_in_index_order():
    names = [os.path.basename(p) for p in event_files(LOG)]
    assert names == ["events_1_local-0001", "events_2_local-0001"]


def test_jobs_tasks_and_groups():
    jobs = read_jobs(LOG)
    assert [(j.id, j.group, len(j.tasks)) for j in jobs] == [(0, "q1", 3), (1, None, 1)]
    assert jobs[0].submit == pytest.approx(1000.0)
    assert jobs[0].complete == pytest.approx(1000.9)


def test_summarize_counts_bytes_and_skew():
    s = summarize([j for j in read_jobs(LOG) if j.group == "q1"])
    assert s["jobs"] == 1 and s["stages"] == 2 and s["tasks"] == 3
    assert s["task_s"] == pytest.approx(0.2 + 0.1 + 0.4)
    assert s["shuffle_bytes"] == 500
    assert s["spill_bytes"] == 64
    assert s["input_bytes"] == 4000 and s["input_records"] == 40
    # stage 1: tasks of 0.1 s and 0.4 s -> max/median = 0.4 / 0.25
    assert s["task_skew"] == pytest.approx(1.6)


def test_split_window_partitions_the_wall():
    jobs = read_jobs(LOG)
    # 999.9 .. 1001.6: job 0 runs 1000.0-1000.9, job 1 runs 1001.0-1001.5
    split = split_window(jobs, 999.9, 1001.6)
    assert split["driver_s"] == pytest.approx(0.1 + 0.1 + 0.1)
    assert split["task_active_s"] == pytest.approx(0.2 + 0.4 + 0.2)
    assert split["sched_wait_s"] == pytest.approx(1.4 - 0.8)
    assert sum(split.values()) == pytest.approx(1.7)


def test_split_window_clips_to_the_window():
    split = split_window(read_jobs(LOG), 1000.5, 1000.7)
    assert split == pytest.approx({"driver_s": 0.0, "sched_wait_s": 0.0, "task_active_s": 0.2})

