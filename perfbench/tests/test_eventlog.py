"""The event-log reader, pinned on a small committed log.

``data/eventlog_small.jsonl`` is a real Spark 4.1 log (``local[2]``,
``spark.eventLog.compress=false``) trimmed to the events and fields the
reader uses. It holds four jobs: a group-by in job group ``op-a`` (a
shuffle map job, then a result job whose map stage is skipped), an
ungrouped ``range.collect``, and a parquet write in group ``op-b``.
"""

import os

import pytest

import eventlog
import report
import spans as tr

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def test_parse_pins_jobs_and_counters():
    jobs = eventlog.parse(LOG)
    assert [(j.id, j.group, j.stages) for j in jobs] == [
        (0, "op-a", 1), (1, "op-a", 1), (2, None, 1), (3, "op-b", 1)]
    assert [j.counters["tasks"] for j in jobs] == [2, 1, 2, 2]
    assert jobs[0].counters["shuffle_write_bytes"] == 364
    assert jobs[1].counters["shuffle_read_bytes"] == 364
    assert jobs[3].counters["output_bytes"] == 1370
    assert jobs[0].counters["run_ms"] == 482
    assert jobs[0].counters["cpu_ns"] == 264592827
    assert jobs[0].counters["gc_ms"] == 48
    assert jobs[0].submit == 1792206210.584 and jobs[0].end == 1792206211.18


def test_attribute_by_group_then_window():
    jobs = eventlog.parse(LOG)
    j2 = jobs[2]
    ops = [("op-a", 0.0, 1.0), ("op-b", 0.0, 1.0), ("win", j2.submit - 0.01, j2.end)]
    by_op = eventlog.attribute(jobs, ops)
    assert [j.id for j in by_op["op-a"]] == [0, 1]
    assert [j.id for j in by_op["op-b"]] == [3]
    assert [j.id for j in by_op["win"]] == [2]
    # a job of a group that is not an operation is nobody's
    assert eventlog.attribute(jobs, [("win", 0.0, 2e9)])["win"] == [jobs[2]]


def test_rolling_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = open(LOG).readlines()
    (d / "events_2_local-1").write_text("".join(lines[10:]))
    (d / "events_1_local-1").write_text("".join(lines[:10]))
    (d / "appstatus_local-1").write_text("")
    assert eventlog.parse(str(d)) == eventlog.parse(LOG)


def test_spark_layer_counts_per_operation():
    jobs = eventlog.parse(LOG)
    a0, a1 = jobs[0], jobs[1]
    root = tr.Span(1, None, "op-a", "cell", a0.submit - 0.1, a1.end + 0.1)
    out, jobs_by_op = report.spark_layer(LOG, [root], cores=2)
    assert jobs_by_op == {"op-a": 2}
    assert out["spark.jobs_per_op"] == 2 and out["spark.tasks_per_op"] == 3
    busy = (a0.end - a0.submit) + (a1.end - a1.submit)
    assert out["spark.sched_gap_ms"] == pytest.approx((root.end - root.start - busy) * 1000)
    assert out["spark.shuffle_write_bytes"] == 364
    cpu_s = (a0.counters["cpu_ns"] + a1.counters["cpu_ns"]) / 1e9
    assert out["spark.cpu_util"] == pytest.approx(cpu_s / ((root.end - root.start) * 2))
