"""Revisit rounds — C2 (`recrawl_schedule`'s estimator) wired into the
crawl loop (SEMANTICS.md §16): `Crawler.run(rounds, recrawl_rounds=K)`
appends K revisit rounds whose candidates come from fetch history, flow
the SAME politeness/rank/cap/fetch/extract pipeline, and must match the
extended pure-Python oracle byte-for-byte — including an empty round
(nothing due yet), changed-content re-extraction, recomputed due-ness for
budget-cut leftovers, and new-link discovery into the frontier."""

import pytest
from pyspark.sql import functions as F

from lectura.config import CrawlConfig
from lectura.crawl import Crawler
from lectura.oracle import run_oracle
from lectura.pure.extract import extract_text
from lectura.pure.urlnorm import canonicalize_url
from lectura.tables import Warehouse
from tests.conftest import corpus_dfs
from tests.test_e2e import assert_frontier_unseen

ROUNDS = 2
RECRAWL = 3
TOTAL = ROUNDS + RECRAWL

NEW_LINK = "http://revisit-discovered.example/fresh"


@pytest.fixture(scope="module")
def rcfg():
    # round_seconds=60 + clamp ceiling 150 s: a url last fetched in round
    # r becomes due at epoch(r) + 150 — so revisit round 3 (epoch 180) is
    # EMPTY (round-1 fetches due at 210, round-2 at 270), round 4 (240)
    # revisits the round-1 fetches, round 5 (300) the round-2 fetches
    # plus round-1 leftovers the per-host budget cut in round 4.
    return CrawlConfig(max_round_urls=200,
                       recrawl_min_interval_s=30.0,
                       recrawl_max_interval_s=150.0)


@pytest.fixture(scope="module")
def rcorpus(corpus, cfg, rcfg):
    """Shared synth corpus + a FRESH capture for every third page the
    2-round discovery crawl fetched: re-captured at round_ts(3) (after
    discovery, before the first due revisit at round 4) with changed
    body text; the first such page also gains a brand-new outlink that
    exists nowhere else in the corpus — the discovery payoff a revisit
    must deliver into the frontier."""
    base = run_oracle(corpus, cfg, ROUNDS)
    changed = set(sorted(base.text)[::3])
    assert len(changed) > 10
    c2 = {**corpus, "pages": list(corpus["pages"])}
    ts = rcfg.round_ts(ROUNDS + 1)
    linked = False
    for p in corpus["pages"]:
        if p["url"] not in changed:
            continue
        html = p["html"].replace(b"<h1>", b"<h1>REVISED ")
        if not linked:
            html = html.replace(
                b"</body>",
                f'<a href="{NEW_LINK}">new</a></body>'.encode())
            linked = True
        c2["pages"].append({**p, "warc_ts": ts, "html": html,
                            "text": extract_text(html)})
    assert linked
    return c2


@pytest.fixture(scope="module")
def roracle(rcorpus, rcfg):
    return run_oracle(rcorpus, rcfg, ROUNDS, recrawl_rounds=RECRAWL)


def _latest_texts(wh):
    t = wh.read("text").select("url", "round", "text")
    latest = t.groupBy("url").agg(F.max("round").alias("round"))
    return {r.url: r.text for r in t.join(latest, ["url", "round"]).collect()}


def assert_revisit_equivalent(crawler, oracle):
    for rnd in range(1, TOTAL + 1):
        got = [(r.url, r.host, r.depth, r.score)
               for r in crawler.scheduled_df(rnd).collect()]
        want = [(r["url"], r["host"], r["depth"], r["score"])
                for r in oracle.scheduled[rnd - 1]]
        assert got == want, f"round {rnd} ordering diverged"
    assert _latest_texts(crawler.wh) == oracle.text
    seen = {r.url for r in crawler.wh.read("seen").collect()}
    assert seen == oracle.seen  # revisits add NOTHING to seen
    got_log = sorted(
        (r.round, r.url, r.host, r.status, r.bytes, r.n_links)
        for r in crawler.wh.read("fetch_log").collect())
    want_log = sorted(
        (r["round"], r["url"], r["host"], r["status"], r["bytes"],
         r["n_links"]) for r in oracle.fetch_log)
    assert got_log == want_log
    ff = sorted(
        (r.url, r.depth, r.score)
        for r in crawler.wh.read("frontier")
        .filter(F.col("for_round") == TOTAL + 1).collect())
    fo = sorted((r["url"], r["depth"], r["score"])
                for r in oracle.frontier_final)
    assert ff == fo
    assert_frontier_unseen(crawler.wh)


def test_revisit_rounds_match_oracle(spark, rcorpus, rcfg, roracle,
                                     tmp_path):
    # the timing design actually holds: an empty revisit round, then two
    # non-empty ones, and changed content was really re-extracted
    sched = roracle.scheduled
    assert len(sched[ROUNDS]) == 0          # round 3: nothing due yet
    assert len(sched[ROUNDS + 1]) > 0       # round 4: round-1 fetches
    assert len(sched[ROUNDS + 2]) > 0       # round 5: round-2 + leftovers
    assert any("REVISED" in t for t in roracle.text.values())

    wh = Warehouse(str(tmp_path / "whrc"), spark)
    crawler = Crawler(spark, wh, rcfg)
    pages, seeds, robots = corpus_dfs(spark, rcorpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(ROUNDS, recrawl_rounds=RECRAWL)
    assert_revisit_equivalent(crawler, roracle)

    # the revisit-discovered link landed in the pending frontier
    canon = canonicalize_url(NEW_LINK)
    ff = {r.url for r in wh.read("frontier")
          .filter(F.col("for_round") == TOTAL + 1).collect()}
    assert canon in ff
    assert canon in {r["url"] for r in roracle.frontier_final}


def test_revisit_resume_matches_uninterrupted(spark, rcorpus, rcfg,
                                              roracle, tmp_path):
    """Kill after the first revisit round, resume in a fresh Crawler →
    state identical to the uninterrupted run (ST8 across §16 rounds)."""
    wh = Warehouse(str(tmp_path / "whrr"), spark)
    crawler = Crawler(spark, wh, rcfg)
    pages, seeds, robots = corpus_dfs(spark, rcorpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(ROUNDS, recrawl_rounds=1)  # rounds 1..3 committed

    crawler2 = Crawler(spark, wh, rcfg)
    crawler2.run(ROUNDS, recrawl_rounds=RECRAWL, resume=True)
    assert_revisit_equivalent(crawler2, roracle)


@pytest.fixture(scope="module")
def rwh(spark, rcorpus, rcfg, tmp_path_factory):
    """A REVISITED warehouse with a mid-crawl full export: discovery
    rounds → full export (at the pre-revisit snapshot) → revisit rounds,
    i.e. text-table appends that re-key existing urls with changed
    content — the composition export_corpus_incremental must absorb."""
    from lectura.export import export_corpus

    root = str(tmp_path_factory.mktemp("whx") / "wh")
    wh = Warehouse(root, spark)
    crawler = Crawler(spark, wh, rcfg)
    pages, seeds, robots = corpus_dfs(spark, rcorpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(ROUNDS)
    export_corpus(wh, min_tokens=1, langs=None)
    crawler2 = Crawler(spark, wh, rcfg)
    crawler2.run(ROUNDS, recrawl_rounds=RECRAWL, resume=True)
    return wh


def _rows(wh, table):
    return sorted(tuple(r) for r in wh.read(table).collect())


def test_full_export_after_revisit_uses_latest_text(spark, rwh, tmp_path):
    """export_corpus over a revisited warehouse must export ONE row per
    url — the latest extraction — identical to exporting a warehouse
    whose text table holds only each url's newest row."""
    from pyspark.sql import Window
    from lectura.export import export_corpus

    export_corpus(rwh, min_tokens=1, langs=None, out_table="full_docs")
    got = _rows(rwh, "full_docs")
    urls = [r[0] for r in got]
    assert len(urls) == len(set(urls))  # url stays the doc id
    assert any("REVISED" in r[1] for r in got)  # changed text exported

    t = rwh.read("text")
    w = Window.partitionBy("url").orderBy(F.desc("round"))
    latest = (t.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    wh2 = Warehouse(str(tmp_path / "whref"), spark)
    wh2.overwrite("text", latest)
    export_corpus(wh2, min_tokens=1, langs=None, out_table="full_docs")
    assert got == _rows(wh2, "full_docs")


def test_incremental_export_absorbs_revisit_appends(spark, rwh):
    """The changelog-driven refresh over revisit appends (INSERTs that
    re-key existing urls, several rounds per url) must equal a full
    re-export at the same snapshot."""
    from lectura.export import export_corpus, export_corpus_incremental

    stats = export_corpus_incremental(rwh, min_tokens=1, langs=None)
    assert stats["n_changed"] > 0
    inc = _rows(rwh, "train_docs")
    export_corpus(rwh, min_tokens=1, langs=None, out_table="full_again")
    assert inc == _rows(rwh, "full_again")


def test_audit_clean_on_revisited_warehouse(spark, rwh):
    """maintain --audit over a REVISITED warehouse: revisit rounds are
    ordinary rounds to the gap model (they consumed politeness budget),
    and a scheduler-driven crawl must stay violation-free — the revisit
    path enforces the same per-host budget as discovery."""
    from lectura.maintain import audit_politeness

    rows = audit_politeness(rwh, round_seconds=60.0).collect()
    assert rows  # revisits imply cross-round gaps, so hosts are present
    assert not any(r.violating for r in rows)


def test_revisit_bloom_mode_matches_oracle(spark, rcorpus, rcfg, roracle,
                                           tmp_path):
    """Bloom seen-set mode + revisit rounds: the round loop never
    consults the shards (discovery rounds apply the exact seen set at
    the frontier write; revisit candidates are seen by construction) and
    revisit rounds skip the shard upsert, so the whole crawl — ordering,
    text, seen, fetch_log, final frontier — matches the oracle exactly."""
    cfg = CrawlConfig(max_round_urls=200, use_bloom=True,
                      recrawl_min_interval_s=30.0,
                      recrawl_max_interval_s=150.0)
    wh = Warehouse(str(tmp_path / "whrb"), spark)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, rcorpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(ROUNDS, recrawl_rounds=RECRAWL)
    assert_revisit_equivalent(crawler, roracle)


def test_revisit_distributed_knobs_match_oracle(spark, rcorpus, rcfg,
                                                roracle, tmp_path):
    """Cluster-scale physical knobs (prefix-rank scheduling, multi-file
    sink fan-in) under revisit rounds: plans change, answers must not."""
    cfg = CrawlConfig(max_round_urls=200, distributed_rank_min=50,
                      sink_rows_per_file=64,
                      recrawl_min_interval_s=30.0,
                      recrawl_max_interval_s=150.0)
    wh = Warehouse(str(tmp_path / "whrd"), spark)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, rcorpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(ROUNDS, recrawl_rounds=RECRAWL)
    assert_revisit_equivalent(crawler, roracle)
