"""The event-log parser on a small recorded log.

``data/small_eventlog.json`` was recorded with Spark 4.1 at local[2]: a
bucketed containment join over 4000 seeded images (30% inside fixture
area 1), then a tile snapshot write.  It keeps only the events the
parser reads.  ``data/small_eventlog_meta.json`` holds what the recording
process saw itself: each action's wall-clock window, the pair count the
join returned, the rows the snapshot manifest recorded, and the job
count Spark's status tracker gave for each action."""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "small_eventlog.json")


@pytest.fixture(scope="module")
def log():
    return eventlog.EventLog(eventlog.read_events(LOG))


@pytest.fixture(scope="module")
def meta():
    with open(os.path.join(HERE, "data", "small_eventlog_meta.json")) as f:
        return json.load(f)


def test_event_files_reads_a_file_or_a_rolling_directory(tmp_path):
    assert eventlog.event_files(LOG) == [LOG]
    roll = tmp_path / "eventlog_v2_app"
    roll.mkdir()
    for name in ("events_2_app", "events_10_app", "events_1_app", "appstatus_app"):
        (roll / name).write_text("")
    assert [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))] == [
        "events_1_app",
        "events_2_app",
        "events_10_app",
    ]


def test_join_window_counts(log, meta):
    j = meta["join"]
    w = log.window(j["t0"], j["t1"])
    c = eventlog.layer_counts(w)
    assert w.jobs == j["jobs"]
    assert c["scan.rows"] == meta["rows"]
    assert c["spatial_join.pairs"] == j["pairs"]
    # stage-1 candidates are a superset of the refined pairs
    assert c["spatial_join.candidates"] >= j["pairs"] > 0
    assert 0 < c["spatial_join.selectivity"] <= 1
    assert c["spatial_join.shuffle_bytes"] > 0
    assert c["cover.arrow_bytes"] > 0
    assert c["cover.python_ms"] > 0
    assert c["spatial_join.skew"] >= 1.0
    assert c["task.cpu_ms"] > 0


def test_write_window_counts(log, meta):
    wr = meta["write"]
    w = log.window(wr["t0"], wr["t1"])
    c = eventlog.write_counts(w)
    assert c["checkpoint.jobs_per_write"] == wr["jobs"]
    assert c["checkpoint.bytes_per_row"] > 0
    node = "Execute InsertIntoHadoopFsRelationCommand"
    assert w.sum(node, "number of output rows") == wr["rows"]
    # the write reads no containment pairs
    assert eventlog.layer_counts(w)["spatial_join.pairs"] == 0


def test_windows_do_not_overlap(log, meta):
    both = log.window(meta["join"]["t0"], meta["write"]["t1"])
    assert both.jobs == meta["join"]["jobs"] + meta["write"]["jobs"]
    assert log.window(0, 1).jobs == 0


def test_nanosecond_timings_become_milliseconds():
    events = [
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": 0,
            "time": 1000,
            "sparkPlanInfo": {
                "nodeName": "Exchange",
                "simpleString": "Exchange",
                "metrics": [
                    {"name": "shuffle write time", "accumulatorId": 7, "metricType": "nsTiming"},
                    {"name": "fetch wait time", "accumulatorId": 8, "metricType": "timing"},
                ],
                "children": [],
            },
        },
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
            "executionId": 0,
            "accumUpdates": [[7, 5_000_000], [8, 3]],
        },
    ]
    w = eventlog.EventLog(events).window(0.5, 1.5)
    assert w.sum("Exchange", "shuffle write time") == 5.0
    assert w.sum("Exchange", "fetch wait time") == 3.0
