"""Event-log roll-up: exact arithmetic on a hand-written log, and the shape
of the result on a small log captured from Spark (``data/tiny_eventlog``,
uncompressed, written by a local session that ran two job groups, a
shuffle and a pandas UDF; only the events the roll-up reads were kept)."""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog
from perfbench.workloads import phase_of

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _job(jid, t, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}


def _task(stage, launch, finish, run_ms=0, cpu_ns=0, shuffle_w=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Accumulables": [{"ID": i, "Update": str(u)} for i, u in accums]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                         "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
                         "Input Metrics": {"Bytes Read": 7}, "Output Metrics": {"Bytes Written": 0}},
    }


def _sql_start():
    node = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 50},
        {"name": "data returned from Python workers", "accumulatorId": 51},
        {"name": "number of output rows", "accumulatorId": 52}]}
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "sparkPlanInfo": {"nodeName": "Project", "children": [node], "metrics": []}}


HAND = [
    _sql_start(),
    _job(0, 1000, "tail:cow:0:apply", [0, 1]),
    _job(1, 1500, "q:q23_normalize", [2]),
    _job(2, 9000, "tail:mor:9:apply", [3]),   # outside the window below
    _job(3, 1600, None, [4]),                 # no job group: left out
    *[_task(0, 0, d, run_ms=10, cpu_ns=2_000_000, shuffle_w=100) for d in (10, 10, 10, 40)],
    _task(1, 0, 5, run_ms=5),
    _task(2, 0, 8, run_ms=8, accums=[(50, 300), (51, 200), (52, 9)]),
    _task(2, 0, 8, run_ms=8, accums=[(50, 100)]),
    _task(3, 0, 1000, run_ms=1000),
    _task(4, 0, 1000, run_ms=1000),
]


def test_rollup_sums_per_phase_inside_the_window():
    got = eventlog.rollup(HAND, 900, 2000, phase=lambda g: phase_of(g) if g else None)
    assert set(got) == {"tail", "query"}
    tail, query = got["tail"], got["query"]
    assert tail["spark.jobs"] == 1 and tail["spark.tasks"] == 5
    assert tail["spark.executor_run_s"] == pytest.approx(0.045)
    assert tail["spark.executor_cpu_s"] == pytest.approx(0.008)
    assert tail["spark.gc_s"] == pytest.approx(0.005)
    assert tail["spark.shuffle_write_bytes"] == 400
    assert tail["spark.shuffle_read_bytes"] == 25
    assert tail["spark.input_bytes"] == 35
    assert tail["spark.task_skew"] == pytest.approx(4.0)  # 40 / median 10; stage 1 too small
    assert tail["python.bytes_to_workers"] == 0
    assert query["spark.jobs"] == 1 and query["spark.tasks"] == 2
    assert query["python.bytes_to_workers"] == 400
    assert query["python.bytes_from_workers"] == 200
    assert query["spark.task_skew"] == 0.0


def test_rollup_without_window_keeps_every_grouped_job():
    got = eventlog.rollup(HAND, phase=lambda g: phase_of(g) if g else None)
    assert got["tail"]["spark.jobs"] == 2
    assert got["tail"]["spark.tasks"] == 6


def test_rollup_of_a_captured_log():
    files = eventlog.log_files(DATA, "tiny_eventlog")
    assert files == [os.path.join(DATA, "tiny_eventlog")]
    events = eventlog.read_events(files)
    got = eventlog.rollup(events, phase=lambda g: phase_of(g) if g else None)
    assert set(got) == {"tail", "query"}
    for m in got.values():
        assert m["spark.jobs"] >= 1
        assert m["spark.tasks"] >= m["spark.jobs"]
        assert m["spark.executor_run_s"] > 0
        assert m["spark.executor_cpu_s"] > 0
    assert got["tail"]["spark.shuffle_write_bytes"] > 0
    assert got["tail"]["spark.shuffle_read_bytes"] == got["tail"]["spark.shuffle_write_bytes"]
    assert got["tail"]["python.bytes_to_workers"] == 0
    assert got["query"]["python.bytes_to_workers"] > 0
    assert got["query"]["python.bytes_from_workers"] > 0
    # a window that ends before the first job keeps nothing
    first = min(e["Submission Time"] for e in events if e["Event"] == "SparkListenerJobStart")
    assert eventlog.rollup(events, 0, first - 1, phase=lambda g: "all") == {}


def test_rolling_log_parts_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_app-1").write_text("")
    names = [os.path.basename(p) for p in eventlog.log_files(str(tmp_path), "app-1")]
    assert names == ["events_1_app-1", "events_2_app-1", "events_10_app-1"]
