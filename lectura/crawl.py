"""The crawl round loop (SURVEY.md §3.1) — flagship entry point.

Each round is one batch DAG: frontier (already deduped and unseen) →
robots (broadcast per-host rule arrays) → politeness budget → salted
per-host rank → global deterministic top-k → as-of fetch join against the
pages corpus → fused Arrow extraction → frontier(r+1) (the round's new
children exact-anti-joined against seen ∪ new_seen — the one place a round
applies the seen set; carried-over rows are unseen by invariant) →
six sinks in one thread pool (frontier, seen, bloom shards, host_state,
fetch_log → metrics, lineage) → atomic round commit, written before
run_round returns. With use_bloom the bloom or cuckoo shards are
maintained beside the exact set but not consulted by the round. The loop
is driver-side Python (a crawl is iterative — each round feeds the next,
which one streaming query cannot express; SURVEY.md §2.8).

Run on a cluster (corpus layout: synth_spark.write_corpus):
    spark-submit --py-files lectura.zip crawl_submit.py \
        --corpus <dir> --warehouse <dir> --rounds R [--use-bloom]
"""

from __future__ import annotations

import argparse
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from lectura.config import CrawlConfig
from lectura.checkpoint import RoundLog
from lectura.extract import WARC_POINTER_COLS, fetch_extract
from lectura.frontier import (dedupe_frontier, rank_per_host, recrawl_due,
                              schedule, with_budget)
from lectura.metrics import fetch_metrics, partition_lineage
from lectura.robots import (apply_robots, build_rule_arrays,
                            build_rule_table, host_delay_table)
from lectura.seen import FILTERS, fpp_est, shard_upsert
from lectura.tables import Warehouse
from lectura.urlnorm import (host_bucket, url_host_bucket, with_url_norm,
                             with_url_parts)

STATE_TABLES = ["frontier", "scheduled", "seen", "seen_shards", "host_state",
                "text", "fetch_log", "lineage", "metrics", "bloom_stats"]

from pyspark.sql import types as T  # noqa: E402

BLOOM_STATS_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("shard_id", T.IntegerType()),
    T.StructField("n_inserted", T.LongType()),
    T.StructField("capacity", T.LongType()),
    T.StructField("fpp_est", T.DoubleType()),
    T.StructField("saturated", T.BooleanType()),
])


class Candidates(NamedTuple):
    frontier: DataFrame        # the round's frontier rows
    allowed: DataFrame         # the rows scheduling ranks
    verdict: DataFrame | None  # cached robots verdict (None: revisit round)


class Schedule(NamedTuple):
    scheduled: DataFrame       # the written schedule, re-read
    n: int                     # its rows, from parquet footers
    buckets: set[int]          # its host_buckets: the pages prune set


class NextFrontier(NamedTuple):
    frontier: DataFrame        # frontier(r+1) as w_frontier appends it
    seen: DataFrame            # the committed seen set
    new_seen: DataFrame | None  # urls the round makes seen (None: revisit)
    new_seen_rows: int         # footer bound on new_seen's rows


def commit_bloom(wh: Warehouse, cfg, rnd: int, seen: DataFrame,
                 new_seen: DataFrame) -> list:
    """Insert this round's urls into the seen-filter shards (`seen_shards`,
    bloom or cuckoo per cfg.seen_filter), record per-shard health in
    `bloom_stats`, and resize on saturation.

    Saturation guard (VERDICT r1 #4): sizing is fixed at build time;
    once cumulative inserts exceed it the configured FPP bound (B:6) no
    longer holds (bloom: FPP degrades silently; cuckoo: inserts start
    landing in the overflow stash). On saturation the filter is rebuilt
    from the exact seen set (always maintained alongside it) at ≥2× the
    observed load. Returns the collected stats rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    cap = max(1024, cfg.seen_capacity // cfg.n_shards)
    old = wh.read("seen_shards") if wh.exists("seen_shards") else None
    wh.overwrite("seen_shards",
                 shard_upsert(old, new_seen, cfg.n_shards, cap, cfg.fpp,
                              cfg.seen_filter))
    # Stats without a Spark job: the written shard files carry the
    # counters, so read everything but the bits column driver-side
    # (n_shards slim rows) and append them as a driver-written parquet.
    cols = ["shard_id", "n_inserted", "m_bits", "k", "capacity"]
    stats = [
        {"round": rnd, "shard_id": r["shard_id"],
         "n_inserted": r["n_inserted"], "capacity": r["capacity"],
         "fpp_est": fpp_est(cfg.seen_filter, r["n_inserted"], r["m_bits"],
                            r["k"]),
         "saturated": r["n_inserted"] > r["capacity"]}
        for f in wh._files("seen_shards")
        for r in pq.read_table(f, columns=cols).to_pylist()
    ]
    wh.append_local(
        "bloom_stats",
        pa.Table.from_pylist(stats,
                             schema=to_arrow_schema(BLOOM_STATS_SCHEMA)),
        BLOOM_STATS_SCHEMA.json(),
    )
    if any(r["saturated"] for r in stats):
        new_cap = 2 * max(max(r["n_inserted"] for r in stats), cap)
        all_seen = seen.select("url").unionByName(new_seen.select("url"))
        wh.overwrite("seen_shards",
                     shard_upsert(None, all_seen, cfg.n_shards, new_cap,
                                  cfg.fpp, cfg.seen_filter))
    return stats


def broadcast_gate(rows: int, cfg: CrawlConfig):
    """The join hint for a side of at most `rows` rows: F.broadcast while
    `rows` ≤ cfg.broadcast_max_rows, else none (shuffle; AQE decides)."""
    # An unconditional hint OOMs the driver on a 10^7-row cluster-scale
    # round (VERDICT r1 #3).
    return F.broadcast if rows <= cfg.broadcast_max_rows else (lambda df: df)


@contextmanager
def _phase(trace: list, label: str):
    """Append (label, wall seconds of the with-block) to `trace`."""
    t = time.time()
    yield
    trace.append((label, round(time.time() - t, 2)))


def extract_fan_out(n_rows: int, parallelism: int, shuffle_parts: int,
                    batch_rows: int) -> int:
    """Round-robin partition count for the fetch+extract stage, derived
    from the round's row count (the sink_fan_in idiom): one task per
    Arrow batch of `batch_rows` rows (arrow.maxRecordsPerBatch; ≤ 0 means
    unbounded), but never fewer than one task per core (`parallelism`)
    and never more than 4 × `shuffle_parts`."""
    batches = -(-int(n_rows) // batch_rows) if batch_rows > 0 else 1
    return max(1, min(4 * shuffle_parts, max(parallelism, batches)))


def asof_fetch(pages: DataFrame, scheduled: DataFrame, round_ts, cfg,
               n_scheduled: int, n_extract_parts: int) -> DataFrame:
    """As-of fetch join (F6/F7), late-materialized. Returns the
    pre-extraction DataFrame: (url, depth, score) of each winning capture
    plus its body source — WARC pointers when the corpus has them
    (ranged-read path), else inline html (extract.fetch_extract).

    Plan shape (asserted by tests/test_plans.py): pick each url's winning
    capture on a SLIM scan (url, warc_ts, capture id — a few MB through the
    shuffle), then join the winners back into the wide scan so MB-scale
    html never enters an Exchange — at corpus scale the html shuffle, not
    the join, is the bottleneck. `pages` arrives host_bucket-pruned.

    Broadcast-hint gate (broadcast_gate): the scheduled / winner sets are
    all ≤ n_scheduled rows, so they are hinted only when that is small.

    Capture identity: two captures of a url may legally share warc_ts;
    without a unique tiebreak in both the window ORDER BY and the join-back
    keys, the join-back would emit BOTH tied captures (duplicate extracted
    rows — ADVICE r1). File path + parquet row index uniquely identify a
    physical row, are stable across the slim and wide scans of the same
    snapshot, and make the pick deterministic: the tied capture latest in
    file order wins (matches the pure oracle's caps[-1] under its
    sorted-file read order — SEMANTICS.md §6)."""
    bc = broadcast_gate(n_scheduled, cfg)
    cap_cols = [
        F.col("_metadata.file_path").alias("_cap_f"),
        F.col("_metadata.row_index").alias("_cap_i"),
    ]
    cap_keys = ["url", "warc_ts", "_cap_f", "_cap_i"]
    sched_slim = scheduled.select("url", "depth", "score")
    # depth/score ride along through the winner pick (they are constant
    # per url, the window's partition key), so the winners row already
    # carries everything the extraction needs — ONE broadcast of the
    # scheduled set and ONE of the winners, no second scheduled join-back
    # (broadcast builds are per-round serial latency; a prior attempt to
    # share one sched_slim broadcast between a semi filter and a final
    # join was defeated by Catalyst column pruning, which specialized the
    # semi side to url-only and produced two distinct exchanges anyway).
    slim = (
        pages.select("url", "warc_ts", *cap_cols)
        .filter(F.col("warc_ts") <= F.lit(round_ts))
        .join(bc(sched_slim), "url")
    )
    w_asof = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc("_cap_f"), F.desc("_cap_i")
    )
    winners = (
        slim.withColumn("_rn", F.row_number().over(w_asof))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # Redistribute the ≤max_round_urls fetched rows round-robin before
    # extraction: hosts are contiguous in corpus files, so matched pages
    # cluster in few scan partitions (a mega-host → one straggler
    # extractor) — and slim/WARC-gzipped rows make this shuffle cheap.
    # n_extract_parts comes from extract_fan_out: one task per core, more
    # only when every task still gets a full Arrow batch. Each Python task
    # has a fixed cost whatever its rows: ~0.04 CPU-s of worker time on a
    # 4-vCPU host, or ~0.2 where zip importers re-read their archives
    # before every task (Python < 3.13 without lectura.pyworker).
    # A WARC corpus (S1b) carries only pointers into its packfiles, so
    # page bytes never enter the JVM.
    body = (WARC_POINTER_COLS if "warc_file" in pages.columns
            else ["html"])
    fetched = pages.select("url", "warc_ts", *body, *cap_cols).join(
        bc(winners), cap_keys
    ).drop("_cap_f", "_cap_i")
    return fetched.repartition(n_extract_parts)


def revisit_due(fetch_log: DataFrame, text: DataFrame, cfg: CrawlConfig,
                rnd: int) -> DataFrame:
    """Due-for-revisit urls before round `rnd` (SEMANTICS.md §16).

    History = every committed ok fetch (fetch_log, rounds < rnd) joined
    to its extraction fingerprint (the text table's enrichment column),
    with `changed` = fingerprint differs from the previous ok fetch of
    the same url (one url-keyed lag window). recrawl_due keeps keys
    whose estimated change interval has elapsed; `overdue` becomes the
    candidate score, so pages that change often (or are longest-
    unvisited) are revisited first, and children discovered on a
    revisited page inherit freshness-weighted scores through the normal
    child_score path.

    Scale shape: slim columns only (url, host, round, fingerprint —
    text NEVER moves), one (url, round) equi-join, one url-keyed lag
    window, then recrawl_due's single hash agg which REUSES the
    window's url partitioning (grouped by url alone) — no further
    exchange. Epochs use CrawlConfig.epoch's float discipline so
    overdue is bit-identical to the pure oracle's."""
    fl = (
        fetch_log
        .filter((F.col("status") == "ok") & (F.col("round") < rnd))
        .select("url", "host", "round")
    )
    fp = text.select("url", "round", "fingerprint")
    hist = fl.join(fp, ["url", "round"]).withColumn(
        "ts_epoch",
        F.lit(cfg.epoch(0)) + F.lit(float(cfg.round_seconds)) * F.col("round"),
    )
    w = Window.partitionBy("url").orderBy("round")
    hist = hist.withColumn("_prev", F.lag("fingerprint").over(w)).withColumn(
        "changed",
        F.col("_prev").isNotNull() & (F.col("fingerprint") != F.col("_prev")),
    )
    return recrawl_due(hist, cfg.epoch(rnd), cfg.recrawl_min_interval_s,
                       cfg.recrawl_max_interval_s)


class Crawler:
    def __init__(self, spark: SparkSession, wh: Warehouse,
                 cfg: CrawlConfig | None = None):
        self.spark = spark
        self.wh = wh
        self.cfg = cfg or CrawlConfig()
        self.log = RoundLog(wh.root)
        # Robots-derived tables are static across rounds (rules are
        # written once at init): build + cache them on first use instead
        # of re-reading and re-aggregating the rules parquet every round.
        self._rule_arrays: DataFrame | None = None
        self._host_delay: DataFrame | None = None
        # Spark's count of generated classes compiled in this JVM (cache
        # misses only; in local mode it covers the executors too)
        self._compiles = (spark._jvm.org.apache.spark.metrics.source
                          .CodegenMetrics.METRIC_COMPILATION_TIME())

    def _robots_tables(self) -> tuple[DataFrame, DataFrame]:
        if self._rule_arrays is None:
            rules = self.wh.read("rules")
            self._rule_arrays = build_rule_arrays(rules).cache()
            self._host_delay = host_delay_table(rules).cache()
        return self._rule_arrays, self._host_delay

    # -- setup ---------------------------------------------------------------
    def init_tables(self, pages: DataFrame, seeds: DataFrame,
                    robots: DataFrame,
                    pages_files: list[str] | None = None) -> None:
        """Materialize corpus + round-0 state. Pages are partition-keyed by
        host_bucket so per-round fetch joins can prune (S1).

        If the corpus already carries host_bucket the rewrite is skipped;
        with `pages_files` the existing parquet is adopted zero-copy
        (Iceberg add_files equivalent) — at bench/cluster scale rewriting
        a multi-GB corpus just to catalog it is pure waste, and the
        host_bucket shuffle (only 32 distinct keys → hash collisions +
        mega-host straggler) is the worst shuffle in the pipeline."""
        cfg = self.cfg

        def rekey(df: DataFrame) -> DataFrame:
            return df.drop("host_bucket").withColumn(
                "host_bucket", url_host_bucket(cfg.host_buckets)
            ).repartition(cfg.host_buckets, "host_bucket")

        if pages_files is not None:
            self.wh.register("pages", pages_files)
            if "host_bucket" in pages.columns and not self._buckets_ok():
                # The adopted corpus was bucketed with a different fan-out/
                # hash than cfg.host_buckets: the per-round bucket pruning
                # filter would silently drop scheduled pages (fetches
                # become misses with no error — ADVICE r1). Fall back to
                # the re-keyed rewrite.
                self.wh.overwrite("pages", rekey(self.wh.read("pages")))
        elif "host_bucket" in pages.columns:
            self.wh.overwrite("pages", pages)
        else:
            self.wh.overwrite("pages", rekey(pages))
        self.wh.overwrite("robots", robots)
        rules = build_rule_table(self.wh.read("robots"), cfg.agent)
        self.wh.overwrite("rules", rules)

        frontier0 = self._seedlike_frontier(
            seeds.select(F.col("url"), F.col("score").alias("_s")))
        if cfg.use_sitemaps:
            sm = self._sitemap_frontier()
            if sm is not None:
                frontier0 = frontier0.unionByName(sm)
        self.wh.overwrite("frontier", dedupe_frontier(frontier0))
        empty_seen = self.spark.createDataFrame([], "url string, round int")
        self.wh.overwrite("seen", empty_seen)
        empty_state = self.spark.createDataFrame([], "host string, last_round int")
        self.wh.overwrite("host_state", empty_state)
        self.log.commit(0, self._snapshots(), {"round": 0})

    def _seedlike_frontier(self, raw: DataFrame) -> DataFrame:
        """Canonicalize (url, _s) rows into round-1 frontier rows with
        seed semantics: depth 0, score = base[0] + w2 * _s, no source
        url. Shared by the seed list and the sitemap-discovered URLs so
        both enter scheduling identically (SEMANTICS.md §3, §15)."""
        base0 = self.cfg.depth_base()[0]
        return (
            with_url_norm(raw)
            .withColumn("depth", F.lit(0))
            .withColumn(
                "score",
                F.lit(base0) + F.lit(self.cfg.w2) * F.col("_s").cast("double"),
            )
            .withColumn("discovered_ts", F.lit(self.cfg.round_ts(0)))
            .withColumn("src_url", F.lit(None).cast("string"))
            .withColumn("for_round", F.lit(1))
            .drop("_s")
        )

    def _sitemap_frontier(self) -> DataFrame | None:
        """S11 wired into the crawl (VERDICT r4 #2): robots `Sitemap:`
        directives → canonicalize (U1) → as-of fetch of the sitemap XML
        from the pages corpus at round_ts(0) → JVM regex parse
        (sources.parse_sitemaps), one level of `<sitemapindex>`
        recursion per the protocol → (loc, max priority) seed rows.
        Returns round-1 frontier rows (seed semantics: depth 0, score
        base[0] + w2·priority) or None when no directive resolves.

        The discovered rows then flow the NORMAL path — dedupe_frontier
        merge with the seeds, robots verdicts,
        politeness, ranking — so a sitemap URL is never exempt from any
        gate. Sitemap fetches themselves touch no crawl state (not
        `seen`, no fetch_log rows): sitemaps are a discovery source,
        not crawl targets; a sitemap URL that is ALSO a page link gets
        crawled like any page.

        Scale shape: the robots table is broadcast-scale by
        construction (one row per host with rules); directives and
        level-1 XML rows are a sliver of that; each fetch is one
        broadcast semi-join against the pages scan (host_bucket-prunable
        like the round fetch) + a per-url latest-capture window over
        ONLY matched sitemap captures. Runs once at init — robots (and
        thus directives) are static across rounds.

        Inline-html corpora only: a WARC-pointer corpus would fetch
        sitemap bytes via the ranged-read path — documented seam, not
        wired (bench/cluster corpora run with use_sitemaps off)."""
        from lectura.sources import parse_sitemaps, seeds_from_sitemaps, \
            sitemaps_from_robots
        from lectura.urlnorm import canonicalize_udf

        pages = self.wh.read("pages")
        if "html" not in pages.columns:
            raise ValueError(
                "use_sitemaps requires an inline-html pages corpus "
                "(WARC-pointer corpora: fetch sitemap bytes upstream)")
        cutoff = self.cfg.round_ts(0)
        cand = pages.select("url", "warc_ts", "html").filter(
            F.col("warc_ts") <= F.lit(cutoff))

        def fetch_xml(urls_df: DataFrame) -> DataFrame:
            w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
            return (
                cand.join(F.broadcast(urls_df), "url")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(
                    "url",
                    F.expr("parse_url(url, 'HOST')").alias("host"),
                    F.col("html").cast("string").alias("xml"),
                )
            )

        sm = (
            sitemaps_from_robots(self.wh.read("robots"))
            .select(canonicalize_udf("sitemap_url").alias("url"))
            .filter(F.col("url").isNotNull()).distinct()
        )
        parsed1 = parse_sitemaps(fetch_xml(sm), xml_col="xml")
        subs = (
            parsed1.filter(F.col("kind") == "sitemap")
            .select(canonicalize_udf("loc").alias("url"))
            .filter(F.col("url").isNotNull()).distinct()
        )
        parsed2 = parse_sitemaps(fetch_xml(subs), xml_col="xml")
        entries = parsed1.unionByName(parsed2)
        sm_seeds = seeds_from_sitemaps(entries)  # (url=raw loc, score)
        if sm_seeds.isEmpty():
            return None
        return self._seedlike_frontier(
            sm_seeds.select("url", F.col("score").alias("_s")))

    def _buckets_ok(self, sample: int = 2000) -> bool:
        """Verify (on a bounded sample) that the adopted corpus's recorded
        host_bucket matches this config's hash + fan-out. Data-derived —
        no reliance on sidecar metadata being kept in sync."""
        expected = url_host_bucket(self.cfg.host_buckets)
        mismatches = (
            self.wh.read("pages").select("url", "host_bucket").limit(sample)
            .filter(F.col("host_bucket") != expected)
            .count()
        )
        return mismatches == 0

    def _snapshots(self) -> dict[str, int | None]:
        snaps: dict[str, int | None] = {}
        for t in STATE_TABLES + ["pages", "robots", "rules"]:
            snaps[t] = self.wh.snapshot(t) if self.wh.exists(t) else None
        return snaps

    # -- one round: phases ---------------------------------------------------
    def _candidates(self, rnd: int, revisit: bool) -> Candidates:
        frontier = self.wh.read("frontier").filter(F.col("for_round") == rnd)
        if revisit:
            # Revisit round (SEMANTICS.md §16): candidates come from the
            # recrawl-due estimator over committed fetch history, NOT the
            # frontier (which passes through untouched). No seen filter
            # (every candidate is seen by construction) and no robots pass
            # (history contains only fetches that robots allowed, and rules
            # are static within a crawl). Every earlier round committed its
            # fetch_log before returning. depth is 0 by definition (a
            # revisit is a root-like fetch).
            due = revisit_due(self.wh.read("fetch_log"), self.wh.read("text"),
                              self.cfg, rnd)
            return Candidates(frontier, with_url_parts(due.select(
                "url", F.lit(0).alias("depth"),
                F.col("overdue").alias("score"))), None)
        # The frontier table is INVARIANTLY written url-deduped and disjoint
        # from `seen` (init_tables dedupes the seeds and writes an empty
        # seen; _next_frontier anti-joins its new children against seen ∪
        # new_seen, carries over only unscheduled allowed rows and passes
        # through dedupe_frontier; resume restores committed snapshots
        # only), so a per-round re-dedupe or seen filter would be a pure
        # no-op over the whole frontier — and a bloom/cuckoo probe could
        # only drop unseen urls on false positives. Skip both. Robots
        # verdicts: broadcast per-host rule arrays, longest match resolved
        # per row.
        rule_arrays, _ = self._robots_tables()
        verdict = apply_robots(frontier.drop("for_round"),
                               rule_arrays=rule_arrays).cache()
        return Candidates(frontier,
                          verdict.filter(F.col("allowed")).drop("allowed"),
                          verdict)

    def _schedule_frame(self, rnd: int, allowed: DataFrame,
                        obs: Observation) -> DataFrame:
        """The round's schedule as the `scheduled` append writes it:
        politeness budget, salted per-host rank, global deterministic cap.
        `obs` collects the schedule's host_buckets on the same job."""
        cfg, wh = self.cfg, self.wh
        _, host_delay = self._robots_tables()
        # host_state's footer row count (no job) upper-bounds its size
        budgeted = with_budget(
            allowed, host_delay, self._host_state(), cfg, rnd,
            hint=broadcast_gate(wh.approx_rows("host_state"), cfg))
        ranked = rank_per_host(budgeted, cfg.salt_buckets,
                               max_rank=cfg.max_per_host)
        return (
            schedule(ranked, cfg).select(
                "sched_rank", "url", "host", "hrk", "path_q", "depth", "score"
            ).withColumn("round", F.lit(rnd))
            .withColumn("host_bucket", host_bucket("host", cfg.host_buckets))
            .observe(obs, F.collect_set("host_bucket").alias("buckets"))
            # fan-in derived from the cap (the row-count bound known
            # before the write) — a no-op when the plan already has
            # fewer partitions (the small-cap TakeOrdered path)
            .coalesce(cfg.sink_fan_in(cfg.max_round_urls))
        )

    def _schedule(self, rnd: int, allowed: DataFrame) -> Schedule:
        # Materialize the schedule AS the scheduled-table append (S6-style):
        # one job instead of cache-materialize + a later sink write, and no
        # columnar cache. n comes from parquet footers; the host_bucket
        # prune set rides the SAME write job as an Observation (collect_set
        # over ≤ cfg.host_buckets values) — zero extra Spark jobs and
        # O(#buckets), not O(round-size), driver traffic (VERDICT r2).
        # Downstream consumers re-read the written parquet column-pruned.
        obs = Observation(f"r{rnd}-sched-buckets")
        snap = self.wh.append("scheduled",
                              self._schedule_frame(rnd, allowed, obs))
        n = self.wh.count_rows(self.wh.files_added("scheduled", snap))
        return Schedule(self._written("scheduled", rnd), n,
                        set(obs.get["buckets"]))

    def _host_state(self) -> DataFrame:
        # host_state is stored as (host, last_round) deltas appended per
        # round (no full-table rewrite); the current state is the max-merge
        # over the delta chain.
        return (self.wh.read("host_state").groupBy("host")
                .agg(F.max("last_round").alias("last_round")))

    def _written(self, table: str, rnd: int) -> DataFrame:
        # round `rnd`'s rows of a per-round append table, re-read
        # (column-pruned parquet, round pruned by row-group stats)
        return (self.wh.read(table).filter(F.col("round") == rnd)
                .drop("round", "host_bucket"))

    def _text_frame(self, rnd: int, sched: Schedule) -> DataFrame:
        """The round's as-of fetch + extraction as `text` appends it."""
        spark, cfg = self.spark, self.cfg
        pages = self.wh.read("pages")
        if sched.n and "host_bucket" in pages.columns:
            pages = pages.filter(F.col("host_bucket").isin(sorted(sched.buckets)))
        n_extract_parts = extract_fan_out(
            sched.n, spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        )
        fetched = asof_fetch(pages, sched.scheduled, cfg.round_ts(rnd), cfg,
                             sched.n, n_extract_parts)
        return fetch_extract(fetched, html_gzip=cfg.html_gzip).withColumn(
            "round", F.lit(rnd))

    def _materialize(self, rnd: int, sched: Schedule) -> tuple[DataFrame, int]:
        # Materialize the extraction ONCE as the text sink itself (S7) and
        # re-read it for every downstream consumer — text+links never sit in
        # a columnar memory cache (MB-scale strings there mean GC churn that
        # stalls all 32 cores), and the written table doubles as the round's
        # resume artifact (ST8). Returns the re-read rows and their footer
        # count.
        sc, wh = self.spark.sparkContext, self.wh
        text = self._text_frame(rnd, sched)
        sc.setJobDescription(f"r{rnd}:extract-write")
        snap = wh.append("text", text)
        sc.setJobDescription(f"r{rnd}:counts")
        return (self._written("text", rnd),
                wh.count_rows(wh.files_added("text", snap)))

    def _fetch_log_frame(self, rnd: int, sched: Schedule,
                         extracted: DataFrame) -> DataFrame:
        # fetch_log rows as w_fetch_log appends them. extracted ⊆
        # scheduled, both url-unique: one left join gives every scheduled url
        # one row — ok with its sizes, or a miss (no capture, SEMANTICS.md
        # §8) where the join found nothing.
        bc = broadcast_gate(sched.n, self.cfg)
        return (
            sched.scheduled.select("url", "host")
            .join(bc(extracted.select("url", "bytes", "n_links")), "url", "left")
            .select(
                F.lit(rnd).alias("round"), "host", "url",
                F.when(F.col("bytes").isNull(), F.lit("miss"))
                .otherwise(F.lit("ok")).alias("status"),
                F.coalesce("bytes", F.lit(0).cast("long")).alias("bytes"),
                F.coalesce("n_links", F.lit(0)).alias("n_links"),
            )
            .coalesce(self.cfg.sink_fan_in(sched.n))
        )

    def _children(self, extracted: DataFrame) -> DataFrame:
        # The round's outlinks, one best (url, depth, score, src_url) row
        # per url. Scores come from precomputed depth-base literals
        # (bit-identical floats vs the oracle). Pages link the same targets
        # repeatedly (nav/listing structure), so the struct-min best row per
        # url (order score desc, depth asc, src asc) is a partial-aggregating
        # groupBy that shrinks everything downstream by the repeat factor.
        cfg = self.cfg
        base_map = F.create_map(
            *[F.lit(x) for kv in cfg.depth_base().items() for x in kv]
        )
        children_raw = (
            extracted.filter(F.col("depth") + 1 <= cfg.max_depth)
            .select(
                F.col("url").alias("src_url"),
                (F.col("depth") + 1).alias("depth"),
                F.col("score").alias("_parent_score"),
                F.explode("links").alias("url"),
            )
            .withColumn(
                "score",
                base_map[F.col("depth")] +
                F.lit(cfg.w2) * F.col("_parent_score"),
            )
            .drop("_parent_score")
        )
        return (
            children_raw.groupBy("url")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("score")).alias("_ns"),
                        F.col("depth").alias("depth"),
                        F.col("src_url").alias("src_url"),
                        F.col("score").alias("score"),
                    )
                ).alias("_b")
            )
            .select(
                "url",
                F.col("_b.depth").alias("depth"),
                F.col("_b.score").alias("score"),
                F.col("_b.src_url").alias("src_url"),
            )
        )

    def _next_frontier(self, rnd: int, cand: Candidates, sched: Schedule,
                       extracted: DataFrame) -> NextFrontier:
        wh, cfg = self.wh, self.cfg
        seen = wh.read("seen")
        if cand.verdict is None:
            # Unscheduled-but-due revisits are NOT re-queued: due-ness is
            # recomputed fresh from history next revisit round, so the
            # pending frontier passes through untouched and merges only
            # with the newly-discovered children. Nothing new becomes seen.
            leftovers = cand.frontier.drop("for_round")
            new_seen, new_seen_rows = None, 0
            seen_all = seen.select("url")
        else:
            scheduled_urls = sched.scheduled.select("url")
            leftovers = cand.allowed.join(
                broadcast_gate(sched.n, cfg)(scheduled_urls), "url",
                "left_anti")
            # url-distinct as is: scheduled ⊆ allowed and blocked =
            # ¬allowed, both drawn from the url-distinct frontier. Not
            # cached: its readers (the frontier anti-join, w_seen, w_bloom)
            # rebuild it inline instead of racing to materialize a cache.
            new_seen = scheduled_urls.unionByName(
                cand.verdict.filter(~F.col("allowed")).select("url"))
            # new_seen ⊆ this round's frontier, so that frontier's footer
            # rows bound it without a Spark job (2 × n_scheduled does not:
            # the round cap does not bound the blocked rows).
            new_seen_rows = wh.approx_rows_where("frontier", "for_round", rnd)
            seen_all = seen.select("url").unionByName(new_seen)
        # Only the children meet the seen set: leftovers are frontier rows
        # (disjoint from seen by invariant), unscheduled and robots-allowed
        # (so not blocked), hence never in seen_all. An anti-join on url
        # commutes with dedupe_frontier's per-url pick (SEMANTICS §4, §10),
        # and reuses the children's groupBy url partitioning (a shuffled
        # join exchanges only the seen side, which grows with the crawl).
        # Outlinks are already canonical (X1 canonicalizes at resolve
        # time), so host/hrk/path_q are JVM string expressions on the url.
        bc_seen = broadcast_gate(wh.approx_rows("seen") + new_seen_rows, cfg)
        children = with_url_parts(
            self._children(extracted)
            .join(bc_seen(seen_all), "url", "left_anti")
            .withColumn("discovered_ts", F.lit(cfg.round_ts(rnd)))
        )
        frontier = dedupe_frontier(
            leftovers.select(*children.columns).unionByName(children)
        ).withColumn("for_round", F.lit(rnd + 1))
        return NextFrontier(frontier, seen, new_seen, new_seen_rows)

    # -- one round: sinks ----------------------------------------------------
    def _w_fetch_log(self, rnd: int, fetch_log: DataFrame) -> None:
        # metrics is a rollup OF fetch_log: write the log once, then roll up
        # from the written parquet (slim, round-pruned) instead of
        # recomputing the ok/miss join a second time in a parallel sink.
        self.wh.append("fetch_log", fetch_log)
        self.wh.append("metrics", fetch_metrics(
            self.wh.read("fetch_log").filter(F.col("round") == rnd)
        ).coalesce(1))

    def _w_seen(self, rnd: int, nxt: NextFrontier) -> None:
        if nxt.new_seen is not None:
            self.wh.append("seen", nxt.new_seen.select(
                "url", F.lit(rnd).alias("round")
            ).coalesce(self.cfg.sink_fan_in(nxt.new_seen_rows)))

    def _w_bloom(self, rnd: int, nxt: NextFrontier) -> None:
        if nxt.new_seen is not None and self.cfg.use_bloom:
            commit_bloom(self.wh, self.cfg, rnd, nxt.seen, nxt.new_seen)

    def _w_host_state(self, rnd: int, sched: Schedule) -> None:
        # Delta append + max-merge on read (_host_state): host_state
        # grows with total distinct hosts, so a merged coalesce(1) rewrite
        # per round is a serial single-task full-table write at 10^8 hosts.
        # The delta is bounded by the round's scheduled hosts. Compact the
        # delta chain once it gets long — a distributed hash-partitioned
        # rewrite, no coalesce(1).
        wh, cfg = self.wh, self.cfg
        touched = sched.scheduled.select(
            "host", F.lit(rnd).alias("last_round")).distinct()
        wh.append("host_state", touched.coalesce(cfg.sink_fan_in(sched.n)))
        if len(wh._files("host_state")) > 64:
            wh.overwrite("host_state", self._host_state().repartition(
                cfg.host_buckets, "host"))

    def _w_lineage(self, rnd: int, sched: Schedule) -> None:
        self.wh.append("lineage", partition_lineage(sched.scheduled).select(
            F.lit(rnd).alias("round"), F.lit("scheduled").alias("table"), "*",
        ).coalesce(1))

    def _run_sink(self, rnd: int, name: str, fn) -> float:
        self.spark.sparkContext.setJobDescription(f"r{rnd}:{name}")
        t = time.time()
        fn()
        return round(time.time() - t, 2)

    def _write_sinks(self, rnd: int, cand: Candidates, sched: Schedule,
                     fetch_log: DataFrame,
                     nxt: NextFrontier) -> dict[str, float]:
        # The six sinks are independent appends, so they run on driver
        # threads and Spark schedules their jobs concurrently: the many small
        # sinks cost about one job latency, not a serial sum (on a cluster
        # they would be separate Iceberg commits, equally independent).
        # Frees the cached robots verdict, then raises if a sink failed.
        # Returns each sink's wall seconds.
        sinks = {
            "w_frontier": partial(self.wh.append, "frontier", nxt.frontier),
            "w_seen": partial(self._w_seen, rnd, nxt),
            "w_bloom": partial(self._w_bloom, rnd, nxt),
            "w_host_state": partial(self._w_host_state, rnd, sched),
            "w_fetch_log": partial(self._w_fetch_log, rnd, fetch_log),
            "w_lineage": partial(self._w_lineage, rnd, sched),
        }
        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            futs = {name: pool.submit(self._run_sink, rnd, name, fn)
                    for name, fn in sinks.items()}
        if cand.verdict is not None:
            cand.verdict.unpersist()
        for name, fut in futs.items():
            if fut.exception() is not None:
                raise RuntimeError(
                    f"sink {name} failed in round {rnd}") from fut.exception()
        return {name: fut.result() for name, fut in futs.items()}

    def run_round(self, rnd: int, revisit: bool = False) -> dict:
        """Run round `rnd`'s phases in order and commit the round."""
        # Returns only after the round is committed: every sink has landed
        # and the marker records each table's snapshot, so the next round
        # (and any reader of the log) sees the whole round, and a crash
        # anywhere before the marker restores exactly round r-1 (kill/resume
        # test). A failed sink or commit raises from round r. The round
        # log's stats add each phase's wall (`trace`), each sink's wall
        # (`sinks`) and the classes Spark compiled during the round
        # (`codegen_compiles`).
        t0, compiles0 = time.time(), self._compiles.getCount()
        trace: list[tuple[str, float]] = []
        self.spark.sparkContext.setJobDescription(f"r{rnd}:schedule")
        with _phase(trace, "schedule"):
            cand = self._candidates(rnd, revisit)
            sched = self._schedule(rnd, cand.allowed)
        with _phase(trace, "materialize"):
            extracted, n_extracted = self._materialize(rnd, sched)
            fetch_log = self._fetch_log_frame(rnd, sched, extracted)
            nxt = self._next_frontier(rnd, cand, sched, extracted)
        with _phase(trace, "w_sinks"):
            sink_secs = self._write_sinks(rnd, cand, sched, fetch_log, nxt)
        stats = {"round": rnd, "scheduled": sched.n, "extracted": n_extracted,
                 "seconds": round(time.time() - t0, 3)}
        # a copy: the caller gets (and the CLI prints) `stats` without the
        # per-phase walls
        self.log.commit(rnd, self._snapshots(), {
            **stats, "trace": trace, "sinks": sink_secs,
            "codegen_compiles": self._compiles.getCount() - compiles0})
        return stats

    # -- loop -----------------------------------------------------------------
    def run(self, rounds: int, resume: bool = True,
            recrawl_rounds: int = 0) -> list[dict]:
        """`rounds` discovery rounds, then `recrawl_rounds` revisit rounds
        (SEMANTICS.md §16) — numbered rounds+1 … rounds+K so checkpoint/
        resume treats them as ordinary rounds."""
        start = 0
        if resume:
            last = self.log.last_committed()
            if last is not None:
                self.log.restore(self.wh, last)
                start = last
        stats = []
        for rnd in range(start + 1, rounds + recrawl_rounds + 1):
            stats.append(self.run_round(rnd, revisit=rnd > rounds))
        return stats

    # -- convenience ------------------------------------------------------------
    def scheduled_df(self, rnd: int) -> DataFrame:
        """Ordered schedule of a committed round (the judged artifact)."""
        return self._written("scheduled", rnd).orderBy("sched_rank")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="lectura crawl (spark-submit entry)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--corpus", default=None,
                    help="dir with pages/seeds/robots parquet (as written by "
                         "synth_spark.write_corpus); needed only to "
                         "initialize a fresh warehouse")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--master", default=None)
    ap.add_argument("--max-round-urls", type=int, default=10_000)
    ap.add_argument("--max-per-host", type=int,
                    default=CrawlConfig.max_per_host)
    ap.add_argument("--default-delay", type=float,
                    default=CrawlConfig.default_delay)
    ap.add_argument("--round-seconds", type=float,
                    default=CrawlConfig.round_seconds)
    ap.add_argument("--seen-capacity", type=int,
                    default=CrawlConfig.seen_capacity)
    ap.add_argument("--use-bloom", action="store_true")
    ap.add_argument("--seen-filter", default="bloom", choices=FILTERS,
                    help="approximate seen-set backend (with --use-bloom)")
    ap.add_argument("--recrawl-rounds", type=int, default=0,
                    help="revisit rounds appended after the discovery "
                         "rounds (SEMANTICS.md §16)")
    ap.add_argument("--recrawl-min-s", type=float, default=3600.0,
                    help="recrawl estimator clamp floor (seconds)")
    ap.add_argument("--recrawl-max-s", type=float, default=30.0 * 86400.0,
                    help="recrawl estimator clamp ceiling (seconds)")
    args = ap.parse_args(argv)

    from lectura.session import get_spark

    spark = get_spark(master=args.master, app_name="lectura-crawl")
    wh = Warehouse(args.warehouse, spark)
    cfg = CrawlConfig(max_round_urls=args.max_round_urls,
                      max_per_host=args.max_per_host,
                      default_delay=args.default_delay,
                      round_seconds=args.round_seconds,
                      seen_capacity=args.seen_capacity,
                      use_bloom=args.use_bloom,
                      seen_filter=args.seen_filter,
                      recrawl_min_interval_s=args.recrawl_min_s,
                      recrawl_max_interval_s=args.recrawl_max_s)
    crawler = Crawler(spark, wh, cfg)
    t0 = time.time()
    if not wh.exists("pages"):
        if args.corpus is None:
            ap.error("--corpus is required to initialize a new warehouse")
        pages_dir = os.path.join(args.corpus, "pages")
        pages = spark.read.parquet(pages_dir)
        # adopt the immutable corpus zero-copy when it is pre-bucketed
        pages_files = None
        if "host_bucket" in pages.columns:
            pages_files = sorted(os.path.join(pages_dir, f)
                                 for f in os.listdir(pages_dir)
                                 if f.endswith(".parquet"))
        crawler.init_tables(pages,
                            spark.read.parquet(f"{args.corpus}/seeds"),
                            spark.read.parquet(f"{args.corpus}/robots"),
                            pages_files=pages_files)
    init_s = time.time() - t0
    t0 = time.time()
    stats = crawler.run(args.rounds, recrawl_rounds=args.recrawl_rounds)
    crawl_s = time.time() - t0
    for s in stats:
        print(json.dumps(s), flush=True)
    print(json.dumps({
        "init_s": round(init_s, 3),
        "crawl_s": round(crawl_s, 3),
        "scheduled": sum(s["scheduled"] for s in stats),
        "extracted": sum(s["extracted"] for s in stats),
    }), flush=True)


if __name__ == "__main__":
    main()
