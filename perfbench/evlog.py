"""Spark event-log reader: task metrics grouped by job description.

The crawl names its jobs (``r2:schedule``, ``r2:extract-write``,
``r2:w_seen`` ...) with ``setJobDescription``; every job started on that
thread carries the description in its ``SparkListenerJobStart``
properties. Tasks are attributed to the job that most recently listed
their stage, so a shuffle stage reused by a later job stays with the job
that ran it.
"""

from __future__ import annotations

import json
import re
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Group:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    records_read: int = 0
    # stage id -> executor run time (s) of each of its tasks
    stage_task_s: dict[int, list[float]] = field(default_factory=dict)

    def add(self, other: "Group") -> None:
        for k in ("jobs", "tasks", "executor_cpu_s", "executor_run_s",
                  "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                  "input_bytes", "records_read"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for sid, ts in other.stage_task_s.items():
            self.stage_task_s.setdefault(sid, []).extend(ts)

    def task_skew(self) -> float:
        """Max over median task run time in the group's heaviest stage."""
        if not self.stage_task_s:
            return 0.0
        ts = max(self.stage_task_s.values(), key=sum)
        med = statistics.median(ts)
        return max(ts) / med if med > 0 else 0.0


def _natural(name: str):
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name)]


def read_events(path: str):
    """Events of one log file, or of every log under a directory: plain
    logs and rolling ones (a directory of ``events_<n>_...`` files)."""
    paths = [path]
    if os.path.isdir(path):
        paths = [os.path.join(d, f)
                 for d, _dirs, files in sorted(os.walk(path))
                 for f in sorted(files, key=_natural)
                 if not f.startswith((".", "appstatus"))]
    for p in paths:
        with open(p) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:  # a torn last line
                    continue


def group_by_description(events) -> dict[str, Group]:
    groups: dict[str, Group] = {}
    stage_desc: dict[int, str] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get(
                "spark.job.description") or ""
            groups.setdefault(desc, Group()).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif ev == "SparkListenerTaskEnd":
            sid = e.get("Stage ID")
            g = groups.setdefault(stage_desc.get(sid, ""), Group())
            m = e.get("Task Metrics") or {}
            g.tasks += 1
            run_s = m.get("Executor Run Time", 0) / 1e3
            g.executor_run_s += run_s
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            im = m.get("Input Metrics") or {}
            g.input_bytes += im.get("Bytes Read", 0)
            g.records_read += im.get("Records Read", 0)
            g.stage_task_s.setdefault(sid, []).append(run_s)
    return groups


def select(groups: dict[str, Group], pred) -> Group:
    """Sum of the groups whose description satisfies ``pred``."""
    out = Group()
    for desc, g in groups.items():
        if pred(desc):
            out.add(g)
    return out
