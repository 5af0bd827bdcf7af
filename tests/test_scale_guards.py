"""Scale-guard regressions from the r1 verdict/advice: broadcast-hint
gating (correct with hints forced OFF), as-of capture ties (no duplicate
extracted rows), bloom saturation guard + resize, and zero-extraction
rounds (empty snapshot reads)."""

import dataclasses

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lectura.config import CrawlConfig
from lectura.crawl import Crawler, commit_bloom
from lectura.oracle import run_oracle
from lectura.seen import shard_probe
from lectura.tables import Warehouse
from tests.conftest import corpus_dfs
from tests.test_e2e import assert_frontier_unseen


def _crawl(spark, corpus, cfg, root, rounds):
    wh = Warehouse(root, spark)
    crawler = Crawler(spark, wh, cfg)
    pages, seeds, robots = corpus_dfs(spark, corpus)
    crawler.init_tables(pages, seeds, robots)
    crawler.run(rounds)
    return crawler


def _assert_matches_oracle(crawler, oracle, rounds):
    """Ordering, text, seen set and final frontier equal the oracle's."""
    for rnd in range(1, rounds + 1):
        got = [(r.url, r.depth, r.score)
               for r in crawler.scheduled_df(rnd).collect()]
        want = [(r["url"], r["depth"], r["score"])
                for r in oracle.scheduled[rnd - 1]]
        assert got == want, f"round {rnd} diverged"
    texts = {r.url: r.text for r in crawler.wh.read("text").collect()}
    assert texts == oracle.text
    seen = {r.url for r in crawler.wh.read("seen").collect()}
    assert seen == oracle.seen
    final = sorted(
        (r.url, r.depth, r.score)
        for r in crawler.wh.read("frontier")
        .filter(F.col("for_round") == rounds + 1).collect()
    )
    assert final == sorted((r["url"], r["depth"], r["score"])
                           for r in oracle.frontier_final)
    assert_frontier_unseen(crawler.wh)


def test_broadcast_gate_forced_off_matches_oracle(spark, corpus, cfg, tmp_path):
    """broadcast_max_rows=0 drops every size-gated broadcast hint (fetch
    join, budget joins, fetch_log join, frontier-write seen anti-join) —
    the shuffled-join fallback a cluster-scale round takes must produce
    the identical crawl (VERDICT r1 #3 done-criterion): ordering, text,
    seen set and final frontier."""
    nobc = dataclasses.replace(cfg, broadcast_max_rows=0)
    rounds = 2
    crawler = _crawl(spark, corpus, nobc, str(tmp_path / "wh"), rounds)
    _assert_matches_oracle(crawler, run_oracle(corpus, cfg, rounds), rounds)


def test_seen_broadcast_gate_bounds_blocked_rows(spark, corpus, tmp_path,
                                                 monkeypatch):
    """The frontier-write seen side is seen ∪ new_seen, and new_seen =
    scheduled ∪ robots-blocked. With robots that block far more urls
    than a round schedules, the gate's row bound must still cover the
    blocked rows: no seen-side input larger than broadcast_max_rows may
    be broadcast. Here round 2 schedules 11 urls and blocks 116 after 8
    seen, so a 2 × scheduled bound (8 + 22 = 30) passes a gate of 64
    while the broadcast side holds 135 rows."""
    strict = dict(corpus)
    strict["robots"] = [
        {"host": r["host"],
         "body": r["body"] + "".join(f"\nDisallow: /{d}" for d in "1234")}
        for r in corpus["robots"]]
    cfg = CrawlConfig(max_round_urls=20, broadcast_max_rows=64)
    rounds = 2
    oracle = run_oracle(strict, cfg, rounds)
    assert len(oracle.blocked) > cfg.max_round_urls
    sizes = []
    real = F.broadcast

    def spy(df):
        if df.columns == ["url"]:  # the seen side or the scheduled urls
            sizes.append(df.count())
        return real(df)

    monkeypatch.setattr(F, "broadcast", spy)
    crawler = _crawl(spark, strict, cfg, str(tmp_path / "wh"), rounds)
    monkeypatch.undo()
    assert sizes and max(sizes) <= cfg.broadcast_max_rows, sizes
    _assert_matches_oracle(crawler, oracle, rounds)


def test_asof_tie_yields_single_winner(spark, corpus, cfg, tmp_path):
    """Two captures of the same url with IDENTICAL warc_ts (legal input —
    ADVICE r1): the join-back must emit exactly one extracted row per url,
    picked deterministically, never both tied captures."""
    dup = dict(corpus)
    # every page exists twice at the same timestamp with different bodies
    dup["pages"] = corpus["pages"] + [
        {**p, "html": p["html"], "text": p["text"]} for p in corpus["pages"]
    ]
    crawler = _crawl(spark, dup, cfg, str(tmp_path / "wh"), 2)
    text = crawler.wh.read("text")
    per_url = text.groupBy("url").count().filter(F.col("count") > 1)
    assert per_url.count() == 0, "tied captures produced duplicate rows"
    log = crawler.wh.read("fetch_log")
    dup_log = (log.filter(F.col("status") == "ok")
               .groupBy("round", "url").count().filter(F.col("count") > 1))
    assert dup_log.count() == 0


def test_repeat_crawl_reuses_generated_classes(spark, corpus, cfg, tmp_path):
    """A crawl that repeats one whose generated classes are still cached
    compiles almost none (spark.sql.codegen.cache.maxEntries,
    lectura/session.py). With Spark's default 100-entry cache a round
    evicts the classes the previous round compiled, so the second crawl
    recompiles about as many classes as the first. `codegen_compiles` is
    each round's count in the round log."""
    # a config no other test crawls with: its literals make the first
    # crawl compile classes of its own whatever ran before in this JVM
    cfg = dataclasses.replace(cfg, default_delay=0.75, w2=0.375,
                              round_seconds=61.0, max_per_host=19,
                              salt_buckets=7)

    def compiles(root):
        crawler = _crawl(spark, corpus, cfg, str(tmp_path / root), 2)
        return sum(crawler.log.stats(r)["codegen_compiles"] for r in (1, 2))

    first, second = compiles("a"), compiles("b")
    assert second < first / 10, (first, second)


def test_bloom_saturation_guard_resizes(spark, tmp_path):
    """Overfill a shard past its configured capacity: bloom_stats must
    record saturated=True and the filter must be rebuilt from the exact
    seen set at ≥2× load with no false negatives and restored FPP sizing
    (VERDICT r1 #4 done-criterion)."""
    wh = Warehouse(str(tmp_path / "wh"), spark)
    cfg = CrawlConfig(use_bloom=True, n_shards=2, seen_capacity=2048,
                      fpp=1e-3)
    # 3000 urls over 2 shards ≈ 1500/shard > the 1024 per-shard capacity
    urls = spark.range(3000).select(
        F.concat(F.lit("http://h.example/p"), F.col("id")).alias("url")
    )
    empty_seen = spark.createDataFrame([], "url string, round int")
    stats = commit_bloom(wh, cfg, 1, empty_seen, urls)
    assert any(r["saturated"] for r in stats), "guard missed the overfill"
    recorded = wh.read("bloom_stats")
    assert recorded.filter(F.col("saturated")).count() >= 1
    assert "fpp_est" in recorded.columns
    # post-resize: capacity covers the load, membership has no false negatives
    resized = wh.read("seen_shards")
    post = resized.select("n_inserted", "capacity").collect()
    assert all(r["n_inserted"] <= r["capacity"] for r in post)
    assert all(r["capacity"] >= 2 * 1024 for r in post)
    probed = shard_probe(urls, resized, cfg.n_shards)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_adopted_corpus_bucket_mismatch_falls_back(spark, corpus, cfg,
                                                   tmp_path):
    """Zero-copy corpus adoption must verify the recorded host_bucket
    against cfg's hash+fan-out (ADVICE r1): a divergent layout silently
    turns every fetch into a miss via the bucket-pruning filter. On
    mismatch init_tables falls back to the re-keyed rewrite."""
    import os

    from lectura.urlnorm import host_bucket

    pages, seeds, robots = corpus_dfs(spark, corpus)
    # corrupt layout: every recorded bucket is off by one
    bad = pages.withColumn(
        "host_bucket",
        (host_bucket(F.lower(F.expr("parse_url(url, 'HOST')")),
                     cfg.host_buckets) + 1) % cfg.host_buckets,
    )
    pdir = str(tmp_path / "pages_bad")
    bad.write.mode("overwrite").parquet(pdir)
    files = [os.path.join(pdir, f) for f in os.listdir(pdir)
             if f.endswith(".parquet")]
    wh = Warehouse(str(tmp_path / "wh"), spark)
    crawler = Crawler(spark, wh, cfg)
    crawler.init_tables(spark.read.parquet(pdir), seeds, robots,
                        pages_files=files)
    crawler.run(1)
    ok = crawler.wh.read("fetch_log").filter(F.col("status") == "ok").count()
    assert ok > 0, "bucket-mismatched adoption dropped every fetch"


def test_empty_extraction_round(spark, tmp_path):
    """A round that schedules urls with no corpus match extracts zero
    pages; the committed-but-empty text snapshot must read back as an
    empty DataFrame (ADVICE r1), the urls logged as misses, and the crawl
    must keep running."""
    corpus = {
        "pages": [{
            "url": "http://other.example/",
            "warc_ts": pd.Timestamp("2025-01-01"),
            "html": b"<html><body>x</body></html>",
            "text": "x", "lang": "en",
        }],
        "seeds": [{"url": "http://nowhere.example/", "score": 1.0}],
        "robots": [{"host": "nowhere.example", "body": "User-agent: *\nAllow: /"}],
    }
    crawler = _crawl(spark, corpus, CrawlConfig(max_round_urls=50),
                     str(tmp_path / "wh"), 2)
    text = crawler.wh.read("text")
    assert text.count() == 0
    assert "url" in text.columns  # manifest schema survives the empty read
    log = crawler.wh.read("fetch_log").filter(F.col("round") == 1).collect()
    assert {r.status for r in log} == {"miss"}


def test_semantic_dedup_partition_invariance(spark):
    """Cluster labels, sizes, and membership must be identical at 1 and
    32 input partitions: the sign-band keys are per-row expressions and
    the 4dp cosine rounding absorbs summation-order ulps, so no part of
    the pipeline may depend on physical layout."""
    from lectura.vectorops import semantic_dedup

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding")
    fx = emb.unionByName(dup)

    def run(parts):
        return sorted(
            (r.vec_id, r.keeper_id, r.cluster_size)
            for r in semantic_dedup(fx.repartition(parts), min_cosine=0.9)
            .collect()
        )

    a, b = run(1), run(32)
    assert a == b and len(a) >= 2


def test_dsir_partition_invariance(spark):
    """DSIR logratios must be identical at 1 and 32 partitions — the
    9dp per-bucket rounding makes the per-doc summands engine- and
    layout-independent, and the 4dp final round absorbs the partial-sum
    order of the per-doc aggregation."""
    from lectura.sampling import dsir_logratios

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")

    def run(parts):
        d = docs.repartition(parts)
        return sorted(
            (r.doc_id, r.n_grams, r.logratio)
            for r in dsir_logratios(
                d.filter(F.col("doc_id") % 7 != 0),
                d.filter(F.col("doc_id") % 7 == 0)).collect()
        )

    a, b = run(1), run(32)
    assert a == b and len(a) > 50
