"""The full r5 feature stack composed in ONE crawl — sitemap discovery
(S11c) + bloom seen-set (D1–D3) + revisit rounds (C2b) + the
cluster-scale physical knobs (prefix-rank scheduling, multi-file sink
fan-in) — then the changelog-driven incremental export and the
politeness audit over the resulting warehouse.

Every feature is verified pairwise in its own suite (test_sitemaps,
test_recrawl, test_export_incremental, test_audit); this file pins the
full interaction, which is where composition bugs hide: a page reachable
through NO seed and NO link is discovered via a sitemap, fetched in
round 1 in bloom mode, its content later changes, the
revisit rounds re-fetch and re-extract it (discovering a brand-new
outlink), and both export paths ship exactly the revised text — with
the mid-crawl kill/resume (ST8) preserving all of it."""

import pytest
from pyspark.sql import functions as F

from lectura.config import CrawlConfig
from lectura.crawl import Crawler
from lectura.oracle import run_oracle
from lectura.pure.urlnorm import canonicalize_url
from lectura.tables import Warehouse
from tests.conftest import corpus_dfs
from tests.test_recrawl import _latest_texts
from tests.test_sitemaps import SITEMAP_ONLY_A, SITEMAP_ONLY_B, _with_sitemaps

ROUNDS = 2
RECRAWL = 2
TOTAL = ROUNDS + RECRAWL

NEW_LINK = "http://composed-discovered.example/fresh"

_KW = dict(max_round_urls=200, use_sitemaps=True,
           recrawl_min_interval_s=30.0, recrawl_max_interval_s=150.0)


@pytest.fixture(scope="module")
def ocfg():
    """Oracle-side config: the pure crawler is exact (no bloom) and has
    no physical plan, so only the semantic flags exist on its side."""
    return CrawlConfig(**_KW)


@pytest.fixture(scope="module")
def ccfg():
    """Spark-side config: everything on at once — the semantic flags
    PLUS bloom mode and the cluster-scale knobs (both are required to
    be answer-neutral, so the one oracle covers both configs)."""
    return CrawlConfig(use_bloom=True, distributed_rank_min=50,
                       sink_rows_per_file=64, **_KW)


@pytest.fixture(scope="module")
def ccorpus(corpus, synth_params, ocfg):
    """Sitemap-planted corpus (test_sitemaps fixture) + fresh captures:
    every third url the sitemap-enabled discovery crawl fetched in
    ROUND 1 (those are due inside the revisit window; round-2 fetches
    are not) is re-captured at round_ts(3) with changed text, and the
    sitemap-only page additionally gains a brand-new outlink that
    exists nowhere else — revisit-driven discovery of a page that
    itself was sitemap-discovered."""
    smc = _with_sitemaps(corpus, synth_params.base_ts)
    base = run_oracle(smc, ocfg, ROUNDS)
    assert SITEMAP_ONLY_A in base.text and SITEMAP_ONLY_B in base.text
    r1 = sorted(r["url"] for r in base.fetch_log if r["round"] == 1)
    assert SITEMAP_ONLY_A in r1
    changed = set(r1[::3]) | {SITEMAP_ONLY_A}
    c2 = {**smc, "pages": list(smc["pages"])}
    ts = ocfg.round_ts(ROUNDS + 1)
    for p in smc["pages"]:
        if p["url"] not in changed:
            continue
        html = p["html"].replace(b"<h1>", b"<h1>REVISED ")
        if p["url"] == SITEMAP_ONLY_A:
            html = html.replace(b"sitemap only alpha",
                                b"REVISED sitemap only alpha")
            html = html.replace(
                b"</body>",
                f'<a href="{NEW_LINK}">new</a></body>'.encode())
        c2["pages"].append({**p, "warc_ts": ts, "html": html})
    assert len(c2["pages"]) > len(smc["pages"])
    return c2


@pytest.fixture(scope="module")
def coracle(ccorpus, ocfg):
    return run_oracle(ccorpus, ocfg, ROUNDS, recrawl_rounds=RECRAWL)


@pytest.fixture(scope="module")
def cwh(spark, ccorpus, ccfg, tmp_path_factory):
    """Everything-on crawl with a mid-crawl full export (the state the
    incremental refresh resumes from), mirroring test_recrawl.rwh."""
    from lectura.export import export_corpus

    root = str(tmp_path_factory.mktemp("whcomposed") / "wh")
    wh = Warehouse(root, spark)
    crawler = Crawler(spark, wh, ccfg)
    pages, seeds, robots = corpus_dfs(spark, ccorpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(ROUNDS)
    export_corpus(wh, min_tokens=1, langs=None)
    crawler2 = Crawler(spark, wh, ccfg)
    crawler2.run(ROUNDS, recrawl_rounds=RECRAWL, resume=True)
    return wh, crawler2


def _assert_sched_and_text(crawler, oracle):
    """Bloom-mode comparison surface (test_recrawl precedent): ordering
    and extracted text must be exact; the seen table's physical form
    differs by design under bloom shards."""
    for rnd in range(1, TOTAL + 1):
        got = [(r.url, r.host, r.depth, r.score)
               for r in crawler.scheduled_df(rnd).collect()]
        want = [(r["url"], r["host"], r["depth"], r["score"])
                for r in oracle.scheduled[rnd - 1]]
        assert got == want, f"round {rnd} ordering diverged"
    assert _latest_texts(crawler.wh) == oracle.text


def test_composed_crawl_matches_oracle(cwh, coracle):
    wh, crawler = cwh
    # the timing design holds THROUGH the composition: revisit round 3
    # is empty (nothing due), round 4 revisits the round-1 fetches —
    # including the sitemap-discovered page
    sched = coracle.scheduled
    assert len(sched[ROUNDS]) == 0
    r4 = {r["url"] for r in sched[ROUNDS + 1]}
    assert SITEMAP_ONLY_A in r4
    _assert_sched_and_text(crawler, coracle)
    # the changed sitemap-only content was really re-extracted
    texts = _latest_texts(wh)
    assert "REVISED sitemap only alpha" in texts[SITEMAP_ONLY_A]
    # the revisit-discovered link (on a sitemap-discovered page) landed
    # in the pending frontier on both sides
    canon = canonicalize_url(NEW_LINK)
    ff = {r.url for r in wh.read("frontier")
          .filter(F.col("for_round") == TOTAL + 1).collect()}
    assert canon in ff
    assert canon in {r["url"] for r in coracle.frontier_final}


def test_composed_incremental_export_equals_full(spark, cwh):
    """The changelog refresh over the everything-on warehouse (revisit
    appends that re-key sitemap-discovered urls) ≡ full re-export, and
    both ship the revised sitemap-only text exactly once."""
    from lectura.export import export_corpus, export_corpus_incremental

    wh, _ = cwh
    stats = export_corpus_incremental(wh, min_tokens=1, langs=None)
    assert stats["n_changed"] > 0
    inc = sorted(tuple(r) for r in wh.read("train_docs").collect())
    export_corpus(wh, min_tokens=1, langs=None, out_table="full_again")
    full = sorted(tuple(r) for r in wh.read("full_again").collect())
    assert inc == full
    mine = [r for r in inc if r[0] == SITEMAP_ONLY_A]
    assert len(mine) == 1 and "REVISED sitemap only alpha" in mine[0][1]


def test_composed_audit_clean(spark, cwh):
    """Sitemap-seeded + revisit rounds still obey the per-host budget:
    the politeness audit over the real fetch_log stays violation-free."""
    from lectura.maintain import audit_politeness

    wh, _ = cwh
    rows = audit_politeness(wh, round_seconds=60.0).collect()
    assert rows
    assert not any(r.violating for r in rows)


def test_composed_resume_matches_uninterrupted(spark, ccorpus, ccfg,
                                               coracle, tmp_path):
    """Kill after discovery round 1 (sitemap ingestion already
    committed), resume in a fresh Crawler through the remaining
    discovery + revisit rounds → identical to the uninterrupted run;
    in particular the resume must NOT re-ingest the sitemaps (their
    urls are already seen) or double-schedule the sitemap-only pages."""
    wh = Warehouse(str(tmp_path / "whcr"), spark)
    crawler = Crawler(spark, wh, ccfg)
    pages, seeds, robots = corpus_dfs(spark, ccorpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(1)

    crawler2 = Crawler(spark, wh, ccfg)
    crawler2.run(ROUNDS, recrawl_rounds=RECRAWL, resume=True)
    _assert_sched_and_text(crawler2, coracle)
