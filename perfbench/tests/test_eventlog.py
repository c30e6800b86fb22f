"""The event-log parser on a small recorded log.

``data/events_small.jsonl`` was recorded from Spark 4.1.2 on local[2] with
``spark.eventLog.compress=false`` and kept to the event types the parser
reads. The job labelled ``perfbench:1`` ran a pandas UDF that sleeps (stage
0, two tasks) and an aggregation (stage 2); ``perfbench:2`` ran a distinct
count (stages 3, 5 and 8); the last job had no label (stages 9 and 11).
"""

import os
import shutil

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "events_small.jsonl")


def _counters(path=DATA):
    per = eventlog.task_metrics_by_label(eventlog.read_events([path]))
    return {k: eventlog.summarize(v) for k, v in per.items()}


def test_jobs_are_charged_to_their_label():
    c = _counters()
    assert set(c) == {"1", "2", eventlog.UNLABELLED}
    assert c["1"]["tasks"] == 3
    assert c["2"]["tasks"] == 4
    assert c[eventlog.UNLABELLED]["tasks"] == 3


def test_task_counters_of_the_udf_job():
    c = _counters()["1"]
    assert c["run_s"] == pytest.approx((3551 + 3550 + 229) / 1000)
    assert c["python_s"] == pytest.approx((3000 + 3038) / 1000)
    assert c["task_max_s"] == pytest.approx(3.551)
    assert c["task_median_s"] == pytest.approx(3.550)
    assert 0 < c["cpu_s"] < c["run_s"]
    assert c["shuffle_write_mb"] > 0
    assert c["spill_mb"] == 0


def test_shuffle_read_and_write_balance_within_a_job():
    c = _counters()["2"]
    assert c["shuffle_read_mb"] == pytest.approx(c["shuffle_write_mb"])
    assert c["python_s"] == 0


def test_torn_last_line_is_skipped(tmp_path):
    p = tmp_path / "events.inprogress"
    shutil.copy(DATA, p)
    with open(p, "a") as f:
        f.write('{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Me')
    assert _counters(str(p)) == _counters()


def test_event_files_orders_rolled_files(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for name in ("events_10_local-1", "events_2_local-1", "appstatus_local-1",
                 ".events_2_local-1.crc"):
        (d / name).write_text("")
    files = [os.path.basename(f) for f in eventlog.event_files(str(tmp_path))]
    assert files == ["events_2_local-1", "events_10_local-1"]
