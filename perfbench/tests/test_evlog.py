import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import evlog  # noqa: E402


def job(jid, desc, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Stage IDs": stages,
            "Properties": {"spark.job.description": desc} if desc else {}}


def task(stage, run_ms, cpu_ns, gc_ms=0, shuffle_w=0, input_b=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Shuffle Read Metrics": {"Local Bytes Read": 5,
                                         "Remote Bytes Read": 1},
                "Input Metrics": {"Bytes Read": input_b,
                                  "Records Read": 2}}}


EVENTS = [
    job(0, "r1:schedule", [0, 1]),
    task(0, 100, 50_000_000, shuffle_w=1000),
    task(1, 300, 200_000_000, gc_ms=20),
    job(1, "r1:extract-write", [2]),
    task(2, 100, 90_000_000, input_b=4096),
    task(2, 100, 90_000_000, input_b=4096),
    task(2, 400, 300_000_000),
    # stage 1 is listed again by a later job; its later tasks belong there
    job(2, "r2:schedule", [1, 3]),
    task(3, 50, 10_000_000),
    task(1, 10, 1_000_000),
    job(3, None, [4]),
    task(4, 5, 1_000_000),
    {"Event": "SparkListenerStageCompleted"},
]


def test_group_by_description():
    g = evlog.group_by_description(EVENTS)
    assert set(g) == {"r1:schedule", "r1:extract-write", "r2:schedule", ""}
    s1 = g["r1:schedule"]
    assert (s1.jobs, s1.tasks) == (1, 2)
    assert abs(s1.executor_cpu_s - 0.25) < 1e-12
    assert abs(s1.executor_run_s - 0.4) < 1e-12
    assert abs(s1.gc_s - 0.02) < 1e-12
    assert s1.shuffle_write_bytes == 1000
    assert s1.shuffle_read_bytes == 12
    ext = g["r1:extract-write"]
    assert ext.tasks == 3 and ext.input_bytes == 8192
    assert ext.records_read == 6
    # heaviest stage is stage 2: max 0.4 s over median 0.1 s
    assert abs(ext.task_skew() - 4.0) < 1e-12
    s2 = g["r2:schedule"]
    assert (s2.jobs, s2.tasks) == (1, 2)
    assert g[""].tasks == 1


def test_select_sums_matching_groups():
    g = evlog.group_by_description(EVENTS)
    sched = evlog.select(g, lambda d: d.endswith(":schedule"))
    assert (sched.jobs, sched.tasks) == (2, 4)
    assert abs(sched.executor_cpu_s - 0.261) < 1e-12
    assert evlog.select(g, lambda d: False).task_skew() == 0.0


def test_read_rolling_log_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    # rolled files: events_10 comes after events_2
    (d / "events_2_local-1").write_text("\n".join(lines[3:6]) + "\n")
    (d / "events_10_local-1").write_text("\n".join(lines[6:]) + "\n{torn")
    (d / "events_1_local-1").write_text("\n".join(lines[:3]) + "\n")
    (d / "appstatus_local-1").write_text("not json\n")
    got = list(evlog.read_events(str(tmp_path)))
    assert got == EVENTS
