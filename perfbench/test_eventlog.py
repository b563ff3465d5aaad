"""Tests of the event-log folder on a small Spark 4.1 event log, recorded
and trimmed to the events and fields the folder reads.

The log holds two job groups: ``g1`` runs an identity ``mapInArrow``
over 5,000 rows in 3 tasks, ``g2`` a two-job shuffle aggregation over
20,000 rows. Run with ``python3 -m pytest perfbench/test_eventlog.py``.
"""

import json
import os

import pytest

from eventlog import FIGURES, fold, fold_file

LOG = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def folded():
    return fold_file(LOG)


def test_groups_and_jobs(folded):
    assert set(folded) == {"g1", "g2"}
    assert folded["g1"]["jobs"] == 1
    assert folded["g2"]["jobs"] == 2
    for row in folded.values():
        assert set(row) == set(FIGURES)


def test_input_records_match_the_scanned_rows(folded):
    assert folded["g1"]["input_records"] == 5000
    assert folded["g2"]["input_records"] == 20000


def test_shuffle_bytes_balance(folded):
    g2 = folded["g2"]
    assert g2["shuffle_write_bytes"] == 1141
    assert g2["shuffle_read_bytes"] == g2["shuffle_write_bytes"]
    assert folded["g1"]["shuffle_write_bytes"] == 0


def test_python_bytes_only_where_python_runs(folded):
    assert folded["g1"]["python_bytes_sent"] == 81584
    assert folded["g1"]["python_bytes_received"] == 79640
    assert folded["g2"]["python_bytes_sent"] == 0


def test_times_and_skew(folded):
    for row in folded.values():
        assert 0 < row["cpu_s"] and 0 < row["task_s"]
        assert row["task_skew"] >= 1.0
    assert folded["g1"]["task_s"] == pytest.approx(5.192)


def _task(stage, run_ms, metrics=True):
    ev = {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
          "Task Info": {"Accumulables": []}}
    if metrics:
        ev["Task Metrics"] = {"Executor Run Time": run_ms,
                              "Executor CPU Time": run_ms * 1e6,
                              "JVM GC Time": 0, "Memory Bytes Spilled": 5,
                              "Disk Bytes Spilled": 7}
    return json.dumps(ev)


def test_synthetic_attribution():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                    "Properties": {"spark.jobGroup.id": "a"}}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1,
                    "Properties": {"spark.jobGroup.id": "empty"}}),
        json.dumps({"Event": "SparkListenerStageSubmitted",
                    "Stage Info": {"Stage ID": 4},
                    "Properties": {"spark.jobGroup.id": "a"}}),
        _task(4, 100), _task(4, 100), _task(4, 400),
        _task(4, 900, metrics=False),  # a failed task reports no metrics
        _task(9, 50),                  # stage of no group: not attributed
        "",
    ]
    got = fold(lines)
    assert set(got) == {"a", "empty"}
    assert got["a"]["task_s"] == pytest.approx(0.6)
    assert got["a"]["cpu_s"] == pytest.approx(0.6)
    assert got["a"]["spill_bytes"] == 36
    assert got["a"]["task_skew"] == pytest.approx(4.0)
    assert got["empty"] == {**{f: 0.0 for f in FIGURES}, "jobs": 1.0}
