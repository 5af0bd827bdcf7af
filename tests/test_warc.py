"""WARC-layout corpus (S1b) must produce the same crawl as the raw-html
corpus: same schedule, same extracted text bytes (B:15)."""

from __future__ import annotations

import pandas as pd
import pytest

from lectura.config import CrawlConfig
from lectura.crawl import Crawler
from lectura.synth_spark import materialize_corpus, materialize_corpus_warc
from lectura.tables import Warehouse


@pytest.mark.parametrize("rounds", [2])
def test_warc_equals_raw_crawl(spark, synth_params, tmp_path, rounds):
    cfg = CrawlConfig(max_round_urls=200)

    raw_pages, seeds, robots = materialize_corpus(spark, synth_params)
    wh_raw = Warehouse(str(tmp_path / "wh_raw"), spark)
    c_raw = Crawler(spark, wh_raw, cfg)
    c_raw.init_tables(raw_pages, seeds, robots)
    c_raw.run(rounds)

    meta, seeds2, robots2 = materialize_corpus_warc(
        spark, synth_params, str(tmp_path / "warc")
    )
    wh_w = Warehouse(str(tmp_path / "wh_warc"), spark)
    c_w = Crawler(spark, wh_w, cfg)
    c_w.init_tables(meta, seeds2, robots2)
    c_w.run(rounds)

    for r in range(1, rounds + 1):
        a = [(x.sched_rank, x.url) for x in c_raw.scheduled_df(r).collect()]
        b = [(x.sched_rank, x.url) for x in c_w.scheduled_df(r).collect()]
        assert a == b and len(a) > 0, f"round {r} schedule differs"

    ta = {(x.round, x.url): x.text for x in wh_raw.read("text").collect()}
    tb = {(x.round, x.url): x.text for x in wh_w.read("text").collect()}
    assert ta == tb and len(ta) > 0


def test_crawl_cli_corpus_matches_crawler(spark, synth_params, tmp_path,
                                          capsys):
    """`python -m lectura.crawl --corpus` over a write_corpus corpus is the
    same crawl as Crawler driven directly on that corpus, and it adopts
    the pre-bucketed page index zero-copy (no rewrite into the
    warehouse)."""
    import json
    import os

    from lectura import crawl
    from lectura.synth_spark import write_corpus

    cfg = CrawlConfig(max_round_urls=200)
    corpus = str(tmp_path / "corpus")
    write_corpus(spark, synth_params, corpus, cfg.host_buckets)

    wh_cli = str(tmp_path / "wh_cli")
    crawl.main(["--corpus", corpus, "--warehouse", wh_cli, "--rounds", "2",
                "--max-round-urls", "200", "--master", "local[8]"])
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert [s["round"] for s in lines[:-1]] == [1, 2]
    summary = lines[-1]

    wh_d = Warehouse(str(tmp_path / "wh_direct"), spark)
    c_d = Crawler(spark, wh_d, cfg)
    c_d.init_tables(*(spark.read.parquet(f"{corpus}/{t}")
                      for t in ("pages", "seeds", "robots")))
    c_d.run(2)

    wh_c = Warehouse(wh_cli, spark)
    pages_dir = os.path.join(corpus, "pages")
    assert wh_c._files("pages") == sorted(
        os.path.join(pages_dir, f) for f in os.listdir(pages_dir)
        if f.endswith(".parquet"))

    def sched(wh):
        return sorted((x.round, x.sched_rank, x.url)
                      for x in wh.read("scheduled").collect())

    def text(wh):
        return {(x.round, x.url): x.text for x in wh.read("text").collect()}

    want_sched, want_text = sched(wh_d), text(wh_d)
    assert want_sched and want_text
    assert sched(wh_c) == want_sched and text(wh_c) == want_text
    assert (summary["scheduled"], summary["extracted"]) == (
        len(want_sched), len(want_text))
