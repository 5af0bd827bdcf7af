"""Parallel materialization of the deterministic synthetic corpus.

`lectura.synth.page_records(i)` is a pure function of the page index, so
bench-scale corpora (≥10^6 URLs, FIXTURES.md §2.1) generate fully in
parallel with `spark.range(n) → mapInPandas` and are bit-identical to what
the oracle crawler builds in a Python loop at test scale.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from lectura.synth import SynthParams, make_robots, make_seeds, page_records
from lectura.urlnorm import url_host_bucket

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_df(spark: SparkSession, p: SynthParams,
             parallelism: int | None = None) -> DataFrame:
    bounds = p.host_bounds()
    n_parts = parallelism or max(8, p.n_urls // 4000)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [r for i in pdf["id"]
                    for r in page_records(int(i), p, bounds)]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return (
        spark.range(0, p.n_urls, numPartitions=n_parts)
        .mapInPandas(gen, PAGES_SCHEMA)
    )


def materialize_corpus(
    spark: SparkSession, p: SynthParams
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pages, seeds, robots) DataFrames for Crawler.init_tables."""
    return (pages_df(spark, p), *_seeds_robots(spark, p))


def _seeds_robots(spark: SparkSession,
                  p: SynthParams) -> tuple[DataFrame, DataFrame]:
    seeds = spark.createDataFrame(
        pd.DataFrame(make_seeds(p, p.host_bounds())),
        schema="url string, score double",
    )
    robots = spark.createDataFrame(
        pd.DataFrame(make_robots(p)), schema="host string, body string"
    )
    return seeds, robots


WARC_META_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "warc_file string, warc_offset long, warc_len int"
)


def materialize_corpus_warc(
    spark: SparkSession, p: SynthParams, warc_dir: str,
    parallelism: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Common-Crawl-native corpus layout: page bodies as WARC-style
    packfiles of concatenated gzip members + a SLIM parquet index
    (url, warc_ts, lang, warc_file, warc_offset, warc_len). The crawl's
    fetch is then a ranged read of exactly the scheduled bodies
    (lectura/extract.py fetch_extract) instead of a full html-column
    decode per round; write_corpus persists it for `lectura.crawl
    --corpus`. Each input partition writes one packfile; content
    is a pure function of the page index so retries rewrite identical
    bytes (idempotent)."""
    import gzip as _gzip

    os.makedirs(warc_dir, exist_ok=True)
    bounds = p.host_bounds()
    n_parts = parallelism or max(8, p.n_urls // 4000)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(warc_dir, f"seg-{pid:05d}.warc.gz")
        rows = []
        off = 0
        with open(path, "wb") as out:
            for pdf in batches:
                for i in pdf["id"]:
                    for r in page_records(int(i), p, bounds):
                        blob = _gzip.compress(r["html"], compresslevel=1)
                        out.write(blob)
                        rows.append(
                            {
                                "url": r["url"],
                                "warc_ts": r["warc_ts"],
                                "lang": r["lang"],
                                "warc_file": path,
                                "warc_offset": off,
                                "warc_len": len(blob),
                            }
                        )
                        off += len(blob)
        yield pd.DataFrame(
            rows, columns=["url", "warc_ts", "lang", "warc_file",
                           "warc_offset", "warc_len"]
        )

    meta = (
        spark.range(0, p.n_urls, numPartitions=n_parts)
        .mapInPandas(gen, WARC_META_SCHEMA)
    )
    return (meta, *_seeds_robots(spark, p))


def write_corpus(spark: SparkSession, p: SynthParams, out: str,
                 host_buckets: int) -> None:
    """Write a WARC corpus in the layout `python -m lectura.crawl --corpus
    <out>` reads: packfiles under out/warc, the slim page index under
    out/pages pre-keyed by host_bucket (so Crawler.init_tables adopts it
    zero-copy instead of rewriting it), and out/seeds, out/robots.
    `host_buckets` must equal the crawl's CrawlConfig.host_buckets, else
    init_tables detects the mismatch and falls back to a rewrite."""
    out = os.path.abspath(out)  # packfile paths are stored in the index
    pages, seeds, robots = materialize_corpus_warc(spark, p, f"{out}/warc")
    pages.withColumn("host_bucket", url_host_bucket(host_buckets)).write \
        .mode("overwrite").parquet(f"{out}/pages")
    seeds.write.mode("overwrite").parquet(f"{out}/seeds")
    robots.write.mode("overwrite").parquet(f"{out}/robots")


def main(argv: list[str] | None = None) -> None:
    import argparse

    from lectura.config import CrawlConfig
    from lectura.session import get_spark

    ap = argparse.ArgumentParser(
        description="write a synthetic WARC corpus for lectura.crawl --corpus")
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-urls", type=int, default=100_000,
                    help="hosts = n/100 and seeds = n/5 (bench.py's recipe)")
    ap.add_argument("--body-kb", type=float, default=48.0)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(master=args.master, app_name="lectura-synth")
    n = args.n_urls
    p = SynthParams(n_urls=n, n_hosts=max(50, n // 100),
                    n_seeds=max(200, n // 5), body_kb=args.body_kb,
                    with_text=False)
    write_corpus(spark, p, args.out, CrawlConfig().host_buckets)
    spark.stop()


if __name__ == "__main__":
    main()
