"""Summarize a Spark event log: per-job wall time + executor task time,
grouped by spark.job.description (set per phase/sink by lectura.crawl),
and a census of Python vs JVM tasks per description — every task of a
Python-executing stage pays a fixed cost whatever its rows: a worker
round trip, ~0.04 CPU-s of worker time on a 4-vCPU host once
lectura.pyworker keeps the zip importers' directories across tasks.

Usage: python scripts/analyze_evlog.py <evlog-file-or-dir>

A directory that is not itself a rolling log (``events_<n>_...`` files,
Spark 4's ``eventlog_v2_<app>/`` layout) is an event-log directory: its
newest entry, a plain log or a rolling one, is read. Only uncompressed
logs are read; Spark 4 compresses by default, so write the log with
``spark.eventLog.compress=false``."""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
from evlog import read_events  # noqa: E402

COMPRESSED = (".lz4", ".lzf", ".snappy", ".zstd")

# Physical operators whose stages run rows through a PySpark worker; the
# event log names them in each RDD's `Scope`.
PYTHON_SCOPES = frozenset({
    "MapInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas",
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow",
})


def python_scopes(stage_info: dict) -> set[str]:
    """Names of the Python operators among a stage's RDD scopes."""
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            name = json.loads(scope).get("name", "")
            if name in PYTHON_SCOPES:
                names.add(name)
    return names


def log_path(path: str) -> str:
    """`path` itself, or the newest entry of an event-log directory."""
    if os.path.isdir(path) and not any(f.startswith("events_")
                                       for f in os.listdir(path)):
        entries = [os.path.join(path, f) for f in os.listdir(path)
                   if not f.startswith(".")]
        path = max(entries, key=os.path.getmtime)
    return path


def main(argv: list[str] | None = None) -> None:
    path = log_path((argv if argv is not None else sys.argv[1:])[0])
    names = ([f for _d, _dirs, files in os.walk(path) for f in files]
             if os.path.isdir(path) else [path])
    if any(n.endswith(COMPRESSED) for n in names):
        sys.exit(f"{path}: compressed event log; this script reads plain "
                 "JSON lines only — rerun the job with "
                 "--conf spark.eventLog.compress=false")
    jobs = {}
    stage_task_ms = defaultdict(float)
    stage_tasks = defaultdict(int)
    stage_names = {}
    stage_py = {}
    stage_to_job = {}
    for e in read_events(path):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            desc = (e.get("Properties") or {}).get(
                "spark.job.description", "?")
            jobs[jid] = {"desc": desc, "t0": e["Submission Time"],
                         "t1": None}
            for sid in e.get("Stage IDs", []):
                stage_to_job[sid] = jid
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            ti = e.get("Task Info", {})
            stage_task_ms[sid] += (ti.get("Finish Time", 0)
                                   - ti.get("Launch Time", 0))
            stage_tasks[sid] += 1
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_names[si["Stage ID"]] = si["Stage Name"].split("\n")[0]
            stage_py[si["Stage ID"]] = python_scopes(si)

    by_desc = defaultdict(lambda: [0.0, 0.0, 0])
    print(f"{'job':>4} {'wall_s':>8} {'task_s':>9}  description")
    for jid in sorted(jobs):
        j = jobs[jid]
        if j["t1"] is None:
            continue
        wall = (j["t1"] - j["t0"]) / 1000
        task = sum(v for s, v in stage_task_ms.items()
                   if stage_to_job.get(s) == jid) / 1000
        d = by_desc[j["desc"]]
        d[0] += wall
        d[1] += task
        d[2] += 1
        if wall >= 1.0:
            print(f"{jid:>4} {wall:>8.2f} {task:>9.1f}  {j['desc']}")
    print("\n-- by description --")
    print(f"{'wall_s':>8} {'task_s':>9} {'jobs':>5}  description")
    for desc, (w, t, n) in sorted(by_desc.items(), key=lambda kv: -kv[1][0]):
        print(f"{w:>8.2f} {t:>9.1f} {n:>5}  {desc}")

    print("\n-- heaviest stages (executor task seconds) --")
    for sid, ms in sorted(stage_task_ms.items(), key=lambda kv: -kv[1])[:15]:
        jid = stage_to_job.get(sid)
        desc = jobs.get(jid, {}).get("desc", "?")
        print(f"stage {sid:>4} {ms/1000:>9.1f}s  [{desc}] "
              f"{stage_names.get(sid, '?')[:80]}")

    # census: tasks of Python-executing stages vs JVM-only ones
    census = defaultdict(lambda: [0, 0, set()])
    for sid, n in stage_tasks.items():
        c = census[jobs.get(stage_to_job.get(sid), {}).get("desc", "?")]
        py = stage_py.get(sid, set())
        c[0 if py else 1] += n
        c[2] |= py
    print("\n-- Python vs JVM tasks by description --")
    print(f"{'py':>6} {'jvm':>6}  description  [python operators]")
    for desc, (py, jvm, ops) in sorted(census.items(),
                                       key=lambda kv: -kv[1][0]):
        print(f"{py:>6} {jvm:>6}  {desc}  [{', '.join(sorted(ops))}]")
    print(f"{sum(c[0] for c in census.values()):>6} "
          f"{sum(c[1] for c in census.values()):>6}  total")


if __name__ == "__main__":
    main()
