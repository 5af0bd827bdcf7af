"""End-to-end Spark-pipeline ≡ oracle-crawler equivalence (the B:14
criterion), bloom/cuckoo-mode equivalence, golden pin, and kill/resume
(ST8)."""

import dataclasses
import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from lectura.checkpoint import RoundLog
from lectura.config import CrawlConfig
from lectura.crawl import Crawler
from lectura.oracle import run_oracle
from lectura.tables import Warehouse
from tests.conftest import corpus_dfs

ROUNDS = 3
GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "oracle_3rounds.json")


def run_spark_crawl(spark, corpus, cfg, root, rounds=ROUNDS):
    wh = Warehouse(root, spark)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, corpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(rounds)
    return crawler


def assert_frontier_unseen(wh):
    """The invariant the round loop relies on to schedule its frontier
    without a seen filter: no url of frontier(for_round=r) is in seen
    through round r-1."""
    seen_round = {}
    for r in wh.read("seen").collect():
        seen_round[r.url] = min(r.round, seen_round.get(r.url, r.round))
    stale = [(r.for_round, r.url)
             for r in wh.read("frontier").select("url", "for_round").collect()
             if seen_round.get(r.url, r.for_round) < r.for_round]
    assert not stale, f"frontier rows already seen: {stale[:5]}"


def assert_equivalent(crawler, oracle):
    for rnd in range(1, ROUNDS + 1):
        got = [
            (r.url, r.host, r.depth, r.score)
            for r in crawler.scheduled_df(rnd).collect()
        ]
        want = [
            (r["url"], r["host"], r["depth"], r["score"])
            for r in oracle.scheduled[rnd - 1]
        ]
        assert got == want, f"round {rnd} ordering diverged"
    texts = {r.url: r.text for r in crawler.wh.read("text").collect()}
    assert texts == oracle.text  # byte-identical extracted text (B:15)
    seen = {r.url for r in crawler.wh.read("seen").collect()}
    assert seen == oracle.seen
    ff = sorted(
        (r.url, r.depth, r.score)
        for r in crawler.wh.read("frontier")
        .filter(F.col("for_round") == ROUNDS + 1).collect()
    )
    fo = sorted((r["url"], r["depth"], r["score"]) for r in oracle.frontier_final)
    assert ff == fo
    assert_frontier_unseen(crawler.wh)


@pytest.fixture(scope="module")
def oracle(corpus, cfg):
    return run_oracle(corpus, cfg, ROUNDS)


def test_exact_mode_equivalence(spark, corpus, cfg, oracle, tmp_path):
    crawler = run_spark_crawl(spark, corpus, cfg, str(tmp_path / "wh"))
    assert_equivalent(crawler, oracle)


@pytest.mark.parametrize("acfg", [
    CrawlConfig(max_round_urls=200, use_bloom=True),
    CrawlConfig(max_round_urls=200, use_bloom=True, seen_filter="cuckoo"),
    # fpp 0.5 on one small shard: many unseen urls probe "maybe seen"
    CrawlConfig(max_round_urls=200, use_bloom=True, n_shards=1,
                seen_capacity=1024, fpp=0.5),
], ids=["bloom", "cuckoo", "weak_bloom"])
def test_approximate_seen_mode_equivalence(spark, corpus, oracle, acfg,
                                           tmp_path):
    """Bloom/cuckoo seen-set modes (B:2 'Bloom/cuckoo') crawl EXACTLY
    like the oracle, whatever the filter's false-positive rate: the
    round applies only the exact seen set (at the frontier write), so
    the shards are maintained but never lose an unseen url."""
    crawler = run_spark_crawl(spark, corpus, acfg, str(tmp_path / "wha"))
    assert_equivalent(crawler, oracle)


def test_distributed_rank_mode_equivalence(spark, corpus, oracle,
                                           tmp_path):
    """VERDICT r3 #1/#2 under e2e: forcing the cluster-scale physical
    knobs — prefix-rank scheduling (distributed_rank_min below the
    round cap) and multi-file sink fan-in (tiny sink_rows_per_file) —
    must leave every byte of the crawl identical to the oracle: the
    knobs pick plans, never answers."""
    cfg = CrawlConfig(max_round_urls=200, distributed_rank_min=50,
                      sink_rows_per_file=64)
    crawler = run_spark_crawl(spark, corpus, cfg, str(tmp_path / "whd"))
    assert_equivalent(crawler, oracle)


def test_oracle_matches_frozen_golden(oracle):
    """Guards against silent spec drift: today's oracle == frozen dump."""
    with open(GOLDEN) as f:
        g = json.load(f)
    assert [len(s) for s in g["scheduled"]] == [len(s) for s in oracle.scheduled]
    for rnd, (gs, os_) in enumerate(zip(g["scheduled"], oracle.scheduled), 1):
        assert [r["url"] for r in gs] == [r["url"] for r in os_], rnd
    assert g["seen"] == sorted(oracle.seen)
    got_hash = {
        u: hashlib.sha256(t.encode()).hexdigest() for u, t in oracle.text.items()
    }
    assert g["text_sha256"] == got_hash


# crash -> (Warehouse method that fails, its table, the sink running it,
# the table that sink has already written when the failure hits)
SINK_CRASHES = {
    "sink": ("append", "fetch_log", "w_fetch_log", None),
    "metrics": ("append", "metrics", "w_fetch_log", "fetch_log"),
    "bloom_stats": ("append_local", "bloom_stats", "w_bloom", "seen_shards"),
    "seen_shards": ("overwrite", "seen_shards", "w_bloom", None),
    "seen": ("append", "seen", "w_seen", None),
    "host_state": ("append", "host_state", "w_host_state", None),
    "frontier": ("append", "frontier", "w_frontier", None),
    "lineage": ("append", "lineage", "w_lineage", None),
}
# crashes inside w_bloom, which runs only in bloom mode
BLOOM_CRASHES = {"bloom_stats", "seen_shards"}


@pytest.mark.parametrize(
    "crash", ["garbage", *SINK_CRASHES, "commit"])
def test_kill_resume_identical(spark, corpus, cfg, oracle, tmp_path,
                               monkeypatch, crash):
    """Run 2 rounds, crash round 3, resume → state identical to the
    uninterrupted oracle run (ST8). Crashes: `garbage` — a killed round
    left uncommitted appends; `sink` — the round-3 fetch_log append
    raises; `metrics` — the metrics append raises after fetch_log has
    landed; `bloom_stats` (bloom mode) — the bloom_stats append raises
    after the seen_shards overwrite has landed; `seen_shards` (bloom
    mode), `seen`, `host_state`, `frontier`, `lineage` — that sink's
    first write raises; `commit` — the round-3 marker write raises. A
    failed sink or commit raises from run_round(3) itself and leaves
    round 2 committed."""
    if crash in BLOOM_CRASHES:
        cfg = dataclasses.replace(cfg, use_bloom=True)
    root = str(tmp_path / "whr")
    wh = Warehouse(root, spark)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, corpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(2)
    if crash == "garbage":
        wh.append("seen", spark.createDataFrame(
            [("http://garbage.example/x", 99)], "url string, round int"))
        wh.append("text", spark.createDataFrame(
            [(99, "http://garbage.example/x", "JUNK")],
            "round int, url string, text string"))
    else:
        method, table, sink, landed = SINK_CRASHES.get(crash, (None,) * 4)
        landed_snap = wh.snapshot(landed) if landed else None
        with monkeypatch.context() as m:
            if method:
                def fail_on(name, *args, real=getattr(wh, method)):
                    if name == table:
                        raise OSError(f"injected {table} {method} failure")
                    return real(name, *args)

                m.setattr(wh, method, fail_on)
                fails = pytest.raises(
                    RuntimeError, match=f"sink {sink} failed in round 3")
            else:
                def commit(self, rnd, snapshots, stats=None,
                           real=RoundLog.commit):
                    if rnd == 3:
                        raise OSError("injected commit failure")
                    return real(self, rnd, snapshots, stats)

                m.setattr(RoundLog, "commit", commit)
                fails = pytest.raises(OSError, match="injected commit")
            with fails:
                crawler.run_round(3)
        assert crawler.log.last_committed() == 2
        if landed:
            assert wh.snapshot(landed) > landed_snap, landed
    crawler2 = Crawler(spark, wh, cfg)
    crawler2.run(ROUNDS, resume=True)  # restores snapshots, reruns round 3
    assert_equivalent(crawler2, oracle)
    seen = {r.url for r in wh.read("seen").collect()}
    assert "http://garbage.example/x" not in seen
    dup = (wh.read("fetch_log").groupBy("round", "url").count()
           .filter(F.col("count") > 1))
    assert dup.count() == 0, "resume duplicated fetch_log rows"


def test_sitemap_seed_ingestion_matches_oracle(spark, corpus, cfg, oracle,
                                               tmp_path):
    """Seeding the crawl from parsed sitemaps instead of a seed list must
    reproduce the oracle crawl exactly: per-host sitemap XML is built
    from the synth seed list (loc + priority-as-score), parsed by S11,
    and fed to init_tables — everything downstream is byte-identical."""
    import pandas as pd
    from urllib.parse import urlsplit

    from lectura.sources import parse_sitemaps, seeds_from_sitemaps

    assert len({s["url"] for s in corpus["seeds"]}) == len(corpus["seeds"])
    by_host = {}
    for s in corpus["seeds"]:
        host = urlsplit(s["url"]).hostname
        by_host.setdefault(host, []).append(
            f"<url><loc>{s['url']}</loc>"
            f"<priority>{s['score']!r}</priority></url>"
        )
    rows = [(h, "<urlset>" + "".join(es) + "</urlset>")
            for h, es in sorted(by_host.items())]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["host", "xml"]),
                                 schema="host string, xml string")
    seeds = seeds_from_sitemaps(parse_sitemaps(docs))

    wh = Warehouse(str(tmp_path / "whsm"), spark)
    crawler = Crawler(spark, wh, cfg)
    pages, _, robots = corpus_dfs(spark, corpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(ROUNDS)
    assert_equivalent(crawler, oracle)


def test_maintain_after_crash_discards_dangling_writes(
        spark, corpus, cfg, oracle, tmp_path):
    """Maintenance on a warehouse whose last round CRASHED mid-write
    must roll back to the committed marker before rewriting — otherwise
    the compaction would bake the dangling rows into the 'committed'
    snapshots and the marker repoint would bless them (review finding)."""
    from lectura.maintain import maintain

    root = str(tmp_path / "whmc")
    wh = Warehouse(root, spark)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, corpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(2)
    wh.append("seen", spark.createDataFrame(
        [("http://garbage.example/x", 99)], "url string, round int"))

    maintain(wh, target_file_bytes=1 << 30)
    seen = {r.url for r in wh.read("seen").collect()}
    assert "http://garbage.example/x" not in seen  # restore ran first

    crawler2 = Crawler(spark, wh, cfg)
    crawler2.run(ROUNDS)
    assert_equivalent(crawler2, oracle)


def test_maintain_between_sessions_preserves_crawl(
        spark, corpus, cfg, oracle, tmp_path):
    """2 rounds → warehouse maintenance (frontier prune, host_state
    merge, binpack compaction, round-marker repoint) → resume round 3 in
    a fresh Crawler: final state identical to the oracle's uninterrupted
    3-round run, and the maintained tables actually shrank."""
    from lectura.maintain import maintain

    root = str(tmp_path / "whm")
    wh = Warehouse(root, spark)
    # tiny sink_rows_per_file forces a multi-file seen fan-in per round
    # (the config-derived sink fan-in otherwise writes ONE file at this
    # round size — nothing left for compaction to shrink)
    cfg = CrawlConfig(max_round_urls=cfg.max_round_urls,
                      sink_rows_per_file=50)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, corpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(2)

    pre_seen_files = len(wh._files("seen"))
    pre_frontier_rows = wh.approx_rows("frontier")
    actions = maintain(wh, target_file_bytes=1 << 30)
    assert "frontier" in actions and "_round_log" in actions
    assert len(wh._files("seen")) < pre_seen_files
    assert wh.approx_rows("frontier") < pre_frontier_rows  # spent rounds gone
    assert len(wh._files("host_state")) == 1

    crawler2 = Crawler(spark, wh, cfg)  # fresh-session equivalent
    crawler2.run(ROUNDS)
    assert_equivalent(crawler2, oracle)


def test_maintain_with_expiry_preserves_resume(
        spark, corpus, cfg, oracle, tmp_path):
    """S19: maintain(expire_keep=1) reclaims pre-maintenance history
    (bytes actually freed) while the round marker's snapshots survive —
    resume round 3 in a fresh Crawler still matches the uninterrupted
    oracle byte-for-byte."""
    import os as _os

    from lectura.maintain import maintain

    root = str(tmp_path / "whe")
    wh = Warehouse(root, spark)
    cfg = CrawlConfig(max_round_urls=cfg.max_round_urls,
                      sink_rows_per_file=50)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, corpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(2)

    def _disk(t):
        return sum(_os.path.getsize(_os.path.join(dp, f))
                   for dp, _, fs in _os.walk(wh._tdir(t)) for f in fs)

    pre = _disk("seen") + _disk("frontier") + _disk("fetch_log")
    actions = maintain(wh, target_file_bytes=1 << 30, expire_keep=1)
    assert any("expired" in v for v in actions.values())
    post = _disk("seen") + _disk("frontier") + _disk("fetch_log")
    assert post < pre  # history actually reclaimed

    crawler2 = Crawler(spark, wh, cfg)  # fresh-session resume
    crawler2.run(ROUNDS)
    assert_equivalent(crawler2, oracle)


def test_maintain_after_round1_crash_drops_unborn_tables(
        spark, corpus, cfg, oracle, tmp_path):
    """ADVICE r2: a crash during round 1 of a FRESH warehouse leaves
    dangling rows in tables that did not exist at the round-0 marker
    (marker snapshot None, e.g. `text`). RoundLog.restore must DROP
    those tables — skipping them would let maintenance binpack the
    dangling rows and the marker repoint bless them, so the resumed
    round 1 would duplicate every row."""
    from lectura.maintain import maintain

    root = str(tmp_path / "whr1c")
    wh = Warehouse(root, spark)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, corpus)
    crawler.init_tables(pages, seeds, robots)  # commits round-0 marker
    # crash mid-round-1: `text` gets created + written, marker never lands
    wh.append(
        "text",
        spark.createDataFrame(
            [(1, "http://dangling.example/x", "JUNK")],
            "round int, url string, text string",
        ),
    )
    maintain(wh, target_file_bytes=1 << 30)
    # the unborn-at-marker table is gone, not blessed
    assert not wh.exists("text")

    crawler2 = Crawler(spark, wh, cfg)
    crawler2.run(ROUNDS, resume=True)
    assert_equivalent(crawler2, oracle)
    texts = wh.read("text").collect()
    urls = [r.url for r in texts]
    assert "http://dangling.example/x" not in urls
    assert len(urls) == len(set(urls))  # no duplicated round-1 rows
