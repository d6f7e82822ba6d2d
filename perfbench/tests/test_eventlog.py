"""Pins the event-log parser on a trimmed Spark 4.1.2 log.

The fragment holds a warm-up query (jobs 0-1), one batch op (a parquet
scan and aggregate: the footer job 2 and the two-stage jobs 3-4), one
query outside every op window (jobs 5-6), and one availableNow stream
over parquet files (job 7) with its QueryProgressEvent.  Plan trees keep
only the scans' "size of files read" metric.
"""

import json
import os

import pytest

import eventlog

FRAGMENT = os.path.join(os.path.dirname(__file__), "data", "eventlog_fragment.jsonl")
BATCH = (1792220876763, 1792220878806)
STREAM = (1792220879690, 1792220882054)


@pytest.fixture(scope="module")
def log():
    return eventlog.read(FRAGMENT)


def test_parse_counts_every_record(log):
    assert sorted(log.jobs) == list(range(8))
    assert log.jobs[4].stage_ids == [5, 6]
    # stages 1, 5 and 8 were skipped: listed by a job, never run
    assert sorted(s for s, st in log.stages.items() if st.completed) == [0, 2, 3, 4, 6, 7, 9, 10, 11]
    assert len(log.progress) == 1
    assert sorted(log.sql_start_ms) == [0, 1, 2, 3, 4]


def test_batch_window(log):
    m = eventlog.summarize(log, [BATCH])
    assert (m["jobs"], m["stages"], m["tasks"], m["failed_tasks"]) == (3, 3, 4, 0)
    assert m["input_records"] == 100
    assert m["scan_bytes"] == 2806
    assert m["shuffle_write_bytes"] == m["shuffle_read_bytes"] == 436
    assert m["exec_run_s"] == pytest.approx(1.355)
    assert m["exec_cpu_s"] == pytest.approx(0.59190704)
    assert m["gc_s"] == pytest.approx(0.039)
    # job intervals 427 + 565 + 96 ms, inside a 2,043 ms window
    assert m["job_busy_s"] == pytest.approx(1.088)
    assert m["driver_gap_s"] == pytest.approx(0.955)
    assert m["cpu_ratio"] == pytest.approx(591.90704 / 1355)
    assert m["parallelism"] == pytest.approx(1355 / 1088)
    assert (m["batches"], m["batch_s"], m["state_rows"]) == (0, 0, 0)


def test_stream_jobs_are_attributed_by_time(log):
    m = eventlog.summarize(log, [STREAM])
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 2, 6)
    assert m["input_records"] == 80
    assert m["scan_bytes"] == 2604
    assert m["shuffle_write_bytes"] == m["shuffle_read_bytes"] == 421
    assert (m["batches"], m["batch_s"], m["state_rows"]) == (1, 1.521, 5)


def test_work_outside_every_window_is_dropped(log):
    both = eventlog.summarize(log, [BATCH, STREAM])
    assert both["jobs"] == 4 and both["tasks"] == 10
    assert both["scan_bytes"] == 2806 + 2604
    nothing = eventlog.summarize(log, [])
    assert nothing["jobs"] == nothing["scan_bytes"] == 0


def test_overlapping_jobs_count_once_in_busy_time():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 150, "Stage IDs": [1]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 300},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 250},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task End Reason": {"Reason": "ExceptionFailure"},
            "Task Info": {"Failed": True},
            "Task Metrics": {"Executor Run Time": 10},
        },
    ]
    log = eventlog.parse(json.dumps(x) for x in lines)
    m = eventlog.summarize(log, [(0, 1000)])
    assert m["job_busy_s"] == pytest.approx(0.2)
    assert m["driver_gap_s"] == pytest.approx(0.8)
    assert m["failed_tasks"] == 1
