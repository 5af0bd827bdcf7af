"""The benchmark's workloads: set-up, the measured closed loop and the
output checks. See README.md for why each workload exists.

One client submits a fixed job and waits for it, in one process. A job is
the pipeline a user runs: ``Crawler.run`` for a fixed number of rounds
from a fresh copy of the round-0 warehouse, then ``export_corpus`` over
the text that crawl wrote, once, as a user exports after a crawl. The copy
is made outside the timed region, so every job starts from the same state.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import procstat
from spans import SpanLog

MAX_PER_HOST = 200


@dataclass(frozen=True)
class Spec:
    n_urls: int
    body_kb: float
    n_seeds: int
    max_round_urls: int
    rounds: int

    @property
    def n_hosts(self) -> int:
        return max(50, self.n_urls // 100)


SPECS = {
    "crawl_warc48k": Spec(n_urls=3_000, body_kb=48.0, n_seeds=900,
                          max_round_urls=600, rounds=2),
    "frontier_backlog": Spec(n_urls=6_000, body_kb=1.0, n_seeds=2_400,
                             max_round_urls=150, rounds=2),
}


def crawl_config(spec: Spec):
    from lectura.config import CrawlConfig

    return CrawlConfig(
        max_round_urls=spec.max_round_urls, max_per_host=MAX_PER_HOST,
        default_delay=0.001, use_bloom=True, html_gzip=True,
        round_seconds=300.0, seen_capacity=20 * spec.n_urls)


@dataclass
class Job:
    crawl_s: float
    crawl_cpu_s: float
    scheduled: int
    extracted: int
    rounds_s: list[float]
    export_s: float
    export_cpu_s: float
    docs_in: int  # text rows the export read
    docs_out: int
    check_s: float
    problems: list[str] = field(default_factory=list)
    digests: dict[str, str] = field(default_factory=dict)


def make_corpus(spark, spec: Spec, seed: int, out: str) -> dict:
    """WARC packfiles plus a host-bucketed page index, adopted zero-copy
    by ``init_tables``."""
    from pyspark.sql import functions as F

    from lectura.synth import SynthParams
    from lectura.synth_spark import materialize_corpus_warc
    from lectura.urlnorm import host_bucket

    p = SynthParams(seed=seed, n_urls=spec.n_urls, n_hosts=spec.n_hosts,
                    n_seeds=spec.n_seeds, body_kb=spec.body_kb,
                    with_text=False)
    pages, seeds, robots = materialize_corpus_warc(spark, p, f"{out}/warc")
    pages.withColumn("host_bucket", host_bucket(
        F.lower(F.expr("parse_url(url, 'HOST')")),
        crawl_config(spec).host_buckets,
    )).write.parquet(f"{out}/pages")
    seeds.write.parquet(f"{out}/seeds")
    robots.write.parquet(f"{out}/robots")
    return {
        "pages": spark.read.parquet(f"{out}/pages"),
        "seeds": spark.read.parquet(f"{out}/seeds"),
        "robots": spark.read.parquet(f"{out}/robots"),
        "pages_files": sorted(os.path.join(f"{out}/pages", f)
                              for f in os.listdir(f"{out}/pages")
                              if f.endswith(".parquet")),
        "pages_dir": f"{out}/pages",
    }


def _tree_cpu() -> float:
    return procstat.sample(peak=False).cpu_s


class Runner:
    """One workload run in one Spark session."""

    def __init__(self, spark, name: str, seed: int, work: str, traced: bool):
        self.spark, self.name, self.seed = spark, name, seed
        self.spec = SPECS[name]
        self.cfg = crawl_config(self.spec)
        self.work, self.traced = work, traced
        self.spans = SpanLog()
        self.timings: dict[str, float] = {}
        self.last_wh: str | None = None

    def describe(self, desc: str | None) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    def setup(self) -> None:
        """Corpus, then ``init_tables`` into the round-0 warehouse that
        every job copies. Generating the corpus starts the Python workers
        and the init JIT-compiles the frontier plans, so no separate
        warm-up job is needed."""
        from lectura.crawl import Crawler
        from lectura.tables import Warehouse

        self.describe("bench:setup")
        t0 = time.perf_counter()
        self.corpus = make_corpus(self.spark, self.spec, self.seed,
                                  f"{self.work}/corpus")
        self.timings["corpus_s"] = time.perf_counter() - t0
        self.template = f"{self.work}/wh_init"
        t0 = time.perf_counter()
        Crawler(self.spark, Warehouse(self.template, self.spark), self.cfg) \
            .init_tables(self.corpus["pages"], self.corpus["seeds"],
                         self.corpus["robots"],
                         pages_files=self.corpus["pages_files"])
        self.timings["init_s"] = time.perf_counter() - t0
        self.describe(None)

    def job(self, job_no: int, root: str) -> Job:
        from pyspark.sql import functions as F

        from lectura.export import export_corpus
        from lectura.tables import Warehouse
        from tracing import TimedCrawler, TracedWarehouse

        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.template, root, symlinks=True)
        wh = (TracedWarehouse(root, self.spark, self.spans, job_no)
              if self.traced else Warehouse(root, self.spark))
        crawler = TimedCrawler(self.spark, wh, self.cfg, self.spans, job_no,
                               self.traced)
        cpu0, t0 = _tree_cpu(), time.perf_counter()
        stats = crawler.run(self.spec.rounds)
        crawl_s, crawl_cpu = time.perf_counter() - t0, _tree_cpu() - cpu0

        self.describe("export")
        cpu0, t0 = _tree_cpu(), time.perf_counter()
        with self.spans.span("export_corpus", "export", job=job_no) as span:
            ex = export_corpus(wh, langs=None)
            span.attrs["docs_out"] = ex["n_docs"]
        export_s, export_cpu = time.perf_counter() - t0, _tree_cpu() - cpu0

        self.describe("bench:check")
        t_check = time.perf_counter()
        sched = [tuple(r) for r in wh.read("scheduled").select(
            "round", "sched_rank", "url", "host").collect()]
        log = [tuple(r) for r in wh.read("fetch_log").select(
            "round", "url", "status").collect()]
        text = [tuple(r) for r in wh.read("text").select(
            "round", "url", F.xxhash64("text")).collect()]
        docs = [tuple(r) for r in wh.read(ex["table"]).select(
            "url", F.xxhash64("text")).collect()]
        self.describe(None)

        scheduled = sum(s["scheduled"] for s in stats)
        problems = checks.check_crawl(
            sched, log, text, max_per_host=self.cfg.max_per_host,
            rounds=self.spec.rounds)
        if scheduled != len(sched):
            problems.append(f"round stats count {scheduled} scheduled urls, "
                            f"the scheduled table {len(sched)}")
        problems += checks.check_export(len(text), ex["n_docs"], docs)
        return Job(
            crawl_s=crawl_s, crawl_cpu_s=crawl_cpu, scheduled=len(sched),
            extracted=sum(s["extracted"] for s in stats),
            rounds_s=[s.seconds for s in self.spans.named("round")
                      if s.attrs["job"] == job_no],
            export_s=export_s, export_cpu_s=export_cpu,
            docs_in=len(text), docs_out=ex["n_docs"],
            check_s=time.perf_counter() - t_check, problems=problems,
            digests={"scheduled": checks.digest(r[:3] for r in sched),
                     "text": checks.digest(r[1:] for r in text),
                     "train_docs": checks.digest(docs)})

    def measure(self, seconds: float) -> list[Job]:
        """The closed loop: submit a job, wait for it, check it; submit the
        next one only if it is expected to end within ``seconds``. At
        least one job runs."""
        jobs: list[Job] = []
        t_start = time.perf_counter()
        took: list[float] = []
        while not jobs or (time.perf_counter() - t_start
                           + statistics.median(took) <= seconds):
            t0 = time.perf_counter()
            self.last_wh = f"{self.work}/wh_job{len(jobs) % 2}"
            jobs.append(self.job(len(jobs), self.last_wh))
            took.append(time.perf_counter() - t0)
            self.spark.catalog.clearCache()
        return jobs
