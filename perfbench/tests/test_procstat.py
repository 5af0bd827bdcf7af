import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procstat  # noqa: E402


def _stat(pid, comm, ppid, utime, stime, cutime, cstime, rss):
    # fields after comm: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime prio nice threads
    # itreal starttime vsize rss
    rest = (["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime]
            + [20, 0, 1, 0, 0, 0, rss])
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


def _fake_proc(tmp_path):
    procs = [  # pid, comm, ppid, utime, stime, cutime, cstime, rss, hwm_kb
        (100, "python3", 1, 10, 5, 3, 2, 100, 4000),
        (101, "java", 100, 200, 50, 0, 0, 1000, 90000),
        (102, "python3", 101, 30, 10, 7, 3, 50, 2000),
        (103, "my (odd) proc", 102, 1, 1, 0, 0, 10, 500),
        (200, "other", 1, 999, 999, 0, 0, 999, 999),
    ]
    for pid, comm, ppid, u, s, cu, cs, rss, hwm in procs:
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, u, s, cu, cs, rss))
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm} kB\n")
    (tmp_path / "stat").write_text(
        "cpu  100 0 50 800 10 0 0 40 7 0\ncpu0 1 2 3\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_is_root_and_descendants_only(tmp_path):
    root = _fake_proc(tmp_path)
    assert sorted(procstat.tree(100, root)) == [100, 101, 102, 103]
    assert procstat.tree(100, root)[103].comm == "my (odd) proc"
    assert sorted(procstat.tree(102, root)) == [102, 103]


def test_sample_counts_reaped_children_and_workers(tmp_path):
    root = _fake_proc(tmp_path)
    s = procstat.sample(100, root)
    ticks = (10 + 5 + 3 + 2) + (200 + 50) + (30 + 10 + 7 + 3) + (1 + 1)
    assert s.cpu_s == ticks / procstat.CLK_TCK
    assert s.root_cpu_s == 20 / procstat.CLK_TCK
    assert s.jvm_cpu_s == 250 / procstat.CLK_TCK
    # below the JVM: the worker daemon and its forked worker
    assert s.worker_cpu_s == (50 + 2) / procstat.CLK_TCK
    assert s.peak_rss_mb == (4000 + 90000 + 2000 + 500) / 1024
    assert procstat.sample(100, root, peak=False).peak_rss_mb == 0.0


def test_host_steal(tmp_path):
    root = _fake_proc(tmp_path)
    steal, total = procstat.host_ticks(root)
    assert (steal, total) == (40, 100 + 50 + 800 + 10 + 40)
    assert procstat.steal_pct((40, 1000), (50, 1100)) == 10.0
    assert procstat.steal_pct((40, 1000), (40, 1000)) == 0.0


def test_live_tree_sees_child_cpu_before_and_after_reaping():
    before = procstat.sample().cpu_s
    child = subprocess.Popen([
        sys.executable, "-c",
        "import time\nt = time.process_time()\n"
        "while time.process_time() - t < 0.4: pass\ntime.sleep(30)"])
    try:
        deadline = time.time() + 20
        while procstat.sample().cpu_s - before < 0.3:
            assert time.time() < deadline, "child CPU never showed up"
            time.sleep(0.05)
    finally:
        child.kill()
        child.wait(timeout=10)
    # reaped: its CPU now sits in this process's cutime/cstime
    assert procstat.sample().cpu_s - before >= 0.3
