import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402


def funnel():
    """Two rounds: round 1 schedules a, b (b missed), round 2 schedules c."""
    sched = [(1, 1, "http://h1/a", "h1"), (1, 2, "http://h2/b", "h2"),
             (2, 1, "http://h1/c", "h1")]
    log = [(1, "http://h1/a", "ok"), (1, "http://h2/b", "miss"),
           (2, "http://h1/c", "ok")]
    text = [(1, "http://h1/a", 11), (2, "http://h1/c", 12)]
    return sched, log, text


def test_correct_funnel_passes():
    sched, log, text = funnel()
    assert checks.check_crawl(sched, log, text, max_per_host=2,
                              rounds=2) == []


@pytest.mark.parametrize("mutate, expect", [
    (lambda s, l, t: l.pop(), "!= ok"),  # scheduled != ok + miss
    (lambda s, l, t: t.pop(), "text rows"),  # ok != text rows
    (lambda s, l, t: s.__setitem__(1, (1, 3, "http://h2/b", "h2")),
     "sched_rank"),
    (lambda s, l, t: s.__setitem__(2, (2, 1, "http://h1/a", "h1")),
     "twice"),
    (lambda s, l, t: s.append((1, 3, "http://h1/d", "h1")), "cap"),
    (lambda s, l, t: s.pop(), "rounds scheduled"),
])
def test_each_broken_invariant_is_reported(mutate, expect):
    sched, log, text = funnel()
    mutate(sched, log, text)
    problems = checks.check_crawl(sched, log, text, max_per_host=1,
                                  rounds=2)
    assert any(expect in p for p in problems), problems


def test_empty_crawl_fails():
    assert checks.check_crawl([], [], [], max_per_host=1, rounds=1)


def test_digest_is_order_independent_and_row_sensitive():
    rows = [(1, r, f"http://h/{r}") for r in range(50)]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert checks.digest(rows) == checks.digest(iter(shuffled))
    assert checks.digest(rows) != checks.digest(rows[:-1])
    assert checks.digest(rows) != checks.digest(rows + rows[:1])
    changed = rows[:-1] + [(1, 49, "http://h/x")]
    assert checks.digest(rows) != checks.digest(changed)


def test_export_check():
    rows = [("a", 1), ("b", 2)]
    assert checks.check_export(3, 2, rows) == []
    assert checks.check_export(1, 2, rows)  # more out than in
    assert checks.check_export(3, 0, [])  # nothing written
    assert checks.check_export(3, 2, [("a", 1), ("a", 2)])  # dup key


def test_digests_recorded_then_compared(tmp_path):
    path = str(tmp_path / "digests.json")
    assert checks.check_digests(path, "w:1", {"text": "1:ab"}) == []
    assert checks.check_digests(path, "w:1", {"text": "1:ab"}) == []
    assert checks.check_digests(path, "w:2", {"text": "9:ff"}) == []
    assert checks.check_digests(path, "w:1", {"text": "1:ac"})


@pytest.fixture(scope="module")
def spark():
    from lectura.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench-tests",
                  extra={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_tiny_seed_jobs_pass_checks_and_repeat(spark, tmp_path, monkeypatch):
    """A tiny crawl + export through the benchmark's own job: the checks
    pass and a second job from the same template gives the same digests."""
    import workloads

    monkeypatch.setitem(workloads.SPECS, "tiny", workloads.Spec(
        n_urls=400, body_kb=1.0, n_seeds=40, max_round_urls=40, rounds=2))
    runner = workloads.Runner(spark, "tiny", 3, str(tmp_path), traced=False)
    runner.setup()
    jobs = runner.measure(0)
    again = runner.job(1, str(tmp_path / "again"))
    assert len(jobs) == 1
    assert jobs[0].problems == [] and again.problems == []
    assert jobs[0].scheduled > 0 and jobs[0].docs_out > 0
    assert jobs[0].digests == again.digests
    assert len(jobs[0].rounds_s) == 2
