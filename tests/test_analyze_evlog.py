"""scripts/analyze_evlog.py on Spark 4's event-log layout: an event-log
directory whose newest entry is a rolling log (a directory of
``events_<n>_<app>`` files), and a compressed log it cannot read."""

import importlib.util
import json
import os

import pytest

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "analyze_evlog.py")
_spec = importlib.util.spec_from_file_location("analyze_evlog", _SCRIPT)
analyze_evlog = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(analyze_evlog)


def _write(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _task(stage, launch, finish):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish}}


def test_newest_rolling_log_read_across_files(tmp_path, capsys):
    logs = tmp_path / "evlog"
    logs.mkdir()
    old = logs / "app-0"
    _write(old, [{"Event": "SparkListenerJobStart", "Job ID": 0,
                  "Submission Time": 0, "Stage IDs": [0],
                  "Properties": {"spark.job.description": "old-app"}}])
    os.utime(old, (1, 1))
    rolling = logs / "eventlog_v2_app-1"
    rolling.mkdir()
    scope = json.dumps({"id": "3", "name": "MapInPandas"})
    _write(rolling / "events_1_app-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.job.description": "r1:extract-write"}},
        _task(0, 1000, 1500),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Name": "mapInPandas at x",
                        "RDD Info": [{"Scope": scope}]}},
    ])
    _write(rolling / "events_2_app-1", [
        _task(0, 1000, 2000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 3000},
    ])
    _write(rolling / "appstatus_app-1", [])

    analyze_evlog.main([str(logs)])
    out = capsys.readouterr().out
    assert "old-app" not in out
    # the job started in the first file and ended in the second
    assert "   0     2.00       1.5  r1:extract-write" in out
    # both files' tasks are counted as Python tasks of the job
    assert "     2      0  r1:extract-write  [MapInPandas]" in out


def test_compressed_log_names_the_conf(tmp_path):
    rolling = tmp_path / "eventlog_v2_app-2"
    rolling.mkdir()
    (rolling / "events_1_app-2.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(SystemExit, match="spark.eventLog.compress=false"):
        analyze_evlog.main([str(tmp_path)])
