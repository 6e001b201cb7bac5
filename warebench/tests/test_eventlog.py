"""The event-log parser on a small canned log.

The log is a trimmed plain-JSON event log of one local session: an
untagged aggregation (jobs 0-1), then the same shape under the job
description ``warebench op=0`` (jobs 2-3; stage 4 is skipped by adaptive
execution). The reason of its last task end was edited to a failure so the
failed-task count has something to count.
"""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_only_tagged_jobs_are_attributed():
    assert list(eventlog.parse_file(LOG)) == [0]


def test_counts_of_the_tagged_op():
    op = eventlog.parse_file(LOG)[0]
    assert (op["jobs"], op["stages"], op["tasks"], op["failed_tasks"]) == (2, 2, 3, 1)
    assert op["scan_rows"] == 1000
    assert op["shuffle_write_bytes"] == 364
    assert op["shuffle_read_bytes"] == 364
    assert op["spill_bytes"] == 0
    assert op["task_run_s"] == pytest.approx(0.125)
    assert op["task_cpu_s"] == pytest.approx((43393218 + 15549578 + 9579701) / 1e9)
    assert op["gc_s"] == pytest.approx(0.018)


def test_blank_lines_and_unknown_events_are_skipped():
    lines = ['{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}', "", "  "]
    assert eventlog.parse(lines) == {}
