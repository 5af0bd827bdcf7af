"""CPU and memory of the benchmark's own process tree, read from ``/proc``.

``os.times()`` covers only the calling process and the children it has
reaped, so it misses the Spark JVM (a live child) and the PySpark workers
(forked below the JVM). The tree here is the benchmark process plus every
process whose parent chain leads to it. A process counts
``utime + stime + cutime + cstime``: the last two hold the CPU of the
descendants it has already reaped, so workers that exited between two
samples are still counted.

Readers take ``proc_root`` so tests can use a fake tree.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime


def parse_stat(pid: int, line: str) -> ProcStat:
    # comm may hold spaces and parentheses: it ends at the last ')'
    comm = line[line.index("(") + 1:line.rindex(")")]
    rest = line[line.rindex(")") + 2:].split()
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ProcStat(pid, int(rest[1]), comm, utime + stime + cutime + cstime)


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited meanwhile
        return None


def tree(root: int | None = None,
         proc_root: str = "/proc") -> dict[int, ProcStat]:
    """``root`` (default: this process) and its live descendants."""
    root = os.getpid() if root is None else root
    stats: dict[int, ProcStat] = {}
    for name in os.listdir(proc_root):
        if name.isdigit():
            line = _read(os.path.join(proc_root, name, "stat"))
            if line:
                stats[int(name)] = parse_stat(int(name), line)
    children: dict[int, list[int]] = {}
    for st in stats.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def alive(pid: int, proc_root: str = "/proc") -> bool:
    """Whether ``pid`` exists and has not exited: a zombie, exited but
    not yet reaped by its parent, counts as ended."""
    line = _read(os.path.join(proc_root, str(pid), "stat"))
    return bool(line) and line[line.rindex(")") + 2:][:1] != "Z"


def _below(procs: dict[int, ProcStat], pid: int, ancestor_comm: str) -> bool:
    """Whether some proper ancestor of ``pid`` inside the tree runs
    ``ancestor_comm``."""
    p = procs[pid].ppid
    while p in procs:
        if procs[p].comm == ancestor_comm:
            return True
        p = procs[p].ppid
    return False


@dataclass(frozen=True)
class TreeSample:
    cpu_s: float  # the whole tree, reaped descendants included
    root_cpu_s: float  # the root process alone: the Spark driver's Python
    jvm_cpu_s: float  # the JVM: driver, executor task threads, JIT and GC
    worker_cpu_s: float  # processes below the JVM: the PySpark workers
    peak_rss_mb: float  # sum over processes of their own peak (VmHWM)


def _hwm_kb(pid: int, proc_root: str) -> int:
    for line in (_read(os.path.join(proc_root, str(pid), "status"))
                 or "").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def sample(root: int | None = None, proc_root: str = "/proc",
           peak: bool = True) -> TreeSample:
    """One reading of the tree; ``peak=False`` skips the per-process
    ``status`` reads when only CPU is wanted."""
    root = os.getpid() if root is None else root
    procs = tree(root, proc_root)
    worker = sum(st.cpu_ticks for pid, st in procs.items()
                 if _below(procs, pid, "java"))
    jvm = sum(st.cpu_ticks for st in procs.values() if st.comm == "java")
    return TreeSample(
        cpu_s=sum(st.cpu_ticks for st in procs.values()) / CLK_TCK,
        root_cpu_s=procs[root].cpu_ticks / CLK_TCK if root in procs else 0.0,
        jvm_cpu_s=jvm / CLK_TCK,
        worker_cpu_s=worker / CLK_TCK,
        peak_rss_mb=(sum(_hwm_kb(p, proc_root) for p in procs) / 1024
                     if peak else 0.0),
    )


def host_ticks(proc_root: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies of the host, from the first line of
    ``/proc/stat``; ``guest`` is already inside ``user``, so the total
    sums user..steal."""
    line = _read(os.path.join(proc_root, "stat")) or "cpu 0"
    vals = [int(x) for x in line.splitlines()[0].split()[1:9]]
    vals += [0] * (8 - len(vals))
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0
