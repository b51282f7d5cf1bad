"""The event-log fold on a small synthetic event log."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ledger import Span, fold, parse_event_log, read_event_logs  # noqa: E402


def _acc(**metrics):
    names = {
        "run": "internal.metrics.executorRunTime",
        "cpu": "internal.metrics.executorCpuTime",
        "gc": "internal.metrics.jvmGCTime",
        "shuffle": "internal.metrics.shuffle.write.bytesWritten",
        "spill": "internal.metrics.diskBytesSpilled",
    }
    return [{"ID": i, "Name": names[k], "Value": v} for i, (k, v) in enumerate(metrics.items())]


def _events():
    """Span 0 (an op) launches job 0 and job 1, which overlap in time;
    job 1's second stage runs a Python node. A streaming job with no
    group carries micro-batch id 7; a job of another group is foreign."""
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb-0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "RDD Info": [{"Name": "MapPartitionsRDD",
                                                               "Scope": '{"name":"Exchange"}'}],
            "Accumulables": _acc(run=2000, cpu=1_500_000_000, gc=100, shuffle=1024)}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_500,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "pb-1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 2, "RDD Info": [{"Name": "MapPartitionsRDD",
                                                               "Scope": '{"name":"MapInPandas"}'}],
            "Accumulables": _acc(run=3000, cpu=500_000_000, spill=64)}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 12_000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 13_000,
         "Stage IDs": [3], "Properties": {"streaming.sql.batchId": "7"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Number of Tasks": 1, "RDD Info": [],
            "Accumulables": _acc(run=100, cpu=50_000_000)}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 13_500},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 13_000,
         "Stage IDs": [4], "Properties": {"spark.jobGroup.id": "someone-else"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 13_100},
    ]
    return [json.dumps(e) for e in ev]


def _spans():
    return [
        Span(0, "op", 1, None, 9.0, 12.5),
        Span(1, "op.child", 1, 0, 10.4, 12.1),
        Span(2, "gate.batch", 2, None, 12.9, 14.0),
    ]


def test_parse_reads_jobs_stages_and_properties():
    log = parse_event_log(_events())
    assert set(log["jobs"]) == {0, 1, 2, 3}
    assert log["jobs"][0]["group"] == "pb-0"
    assert log["jobs"][2]["batch"] == 7
    assert log["jobs"][1]["stages"] == [1, 2]
    assert set(log["stages"]) == {0, 2, 3}  # stage 1 never completed (skipped)
    st = log["stages"][0]
    assert (st["tasks"], st["run_s"], st["cpu_s"], st["gc_s"]) == (4, 2.0, 1.5, 0.1)
    assert st["shuffle_write_bytes"] == 1024 and not st["python"]
    assert log["stages"][2]["python"] and log["stages"][2]["spill_bytes"] == 64


def test_fold_attributes_by_group_and_batch():
    log = parse_event_log(_events())
    out = fold(_spans(), {7: 2}, log)
    op, child, gate = out[0], out[1], out[2]
    assert (op["own_jobs"], op["jobs"], child["jobs"]) == (1, 2, 1)
    assert (op["stages"], op["tasks"]) == (2, 6)
    # jobs 0 [10, 11] and 1 [10.5, 12] overlap: in-job time is their union
    assert abs(op["in_job_s"] - 2.0) < 1e-9
    assert abs(op["driver_gap_s"] - 1.5) < 1e-9
    assert abs(op["self_s"] - (3.5 - 1.7)) < 1e-9
    # python wait only on the MapInPandas stage: 3.0 s run - 0.5 s cpu
    assert abs(op["python_wait_s"] - 2.5) < 1e-9
    assert abs(child["python_wait_s"] - 2.5) < 1e-9 and child["shuffle_write_bytes"] == 0
    # the group-less streaming job lands on the span bound to batch 7;
    # the foreign group's job lands nowhere
    assert (gate["jobs"], gate["tasks"]) == (1, 1)
    assert abs(gate["in_job_s"] - 0.5) < 1e-9
    assert sum(o["own_jobs"] for o in out.values()) == 3


def test_read_event_logs_walks_spark4_layout(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = _events()
    (app / "events_1_local-1").write_text("\n".join(lines[:5]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(lines[5:]) + "\n")
    (app / ".events_1_local-1.crc").write_bytes(b"\x00\x01")
    (app / "appstatus_local-1").write_text("")
    log = read_event_logs(str(tmp_path))
    assert set(log["jobs"]) == {0, 1, 2, 3}
    assert log["jobs"][1]["end"] == 12.0
