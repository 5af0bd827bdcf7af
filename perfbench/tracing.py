"""Spans around the program's public calls, and the per-layer figures
derived from them, from the Spark event log and from the warehouse.

The wrappers subclass the program's classes and only time calls they
pass through unchanged: ``Crawler.run_round`` (rounds), ``Warehouse``
writes (one span per table write, tagged with the Spark job description
of the writing thread, so a sink running on a thread is attributed to its
round) and ``RoundLog.commit`` (the round checkpoint).
"""

from __future__ import annotations

import os
import statistics
import time

import procstat
from evlog import Group, select
from spans import Span, SpanLog, self_seconds, union_seconds

from lectura.checkpoint import RoundLog
from lectura.crawl import STATE_TABLES, Crawler
from lectura.tables import Warehouse

SINK_TABLES = tuple(STATE_TABLES)


class TracedWarehouse(Warehouse):
    def __init__(self, root, spark, spans: SpanLog, job: int):
        super().__init__(root, spark)
        self.spans, self.job = spans, job

    def _traced(self, op: str, name: str, write):
        tag = self.spark.sparkContext.getLocalProperty(
            "spark.job.description") or ""
        worker0 = (procstat.sample(peak=False).worker_cpu_s
                   if name == "text" else None)
        t0 = time.perf_counter()
        snap = write()
        t1 = time.perf_counter()
        files = self.files_added(name, snap)
        attrs = {"job": self.job, "table": name, "files": len(files),
                 "bytes": sum(os.path.getsize(f) for f in files)}
        if worker0 is not None:
            attrs["worker_cpu_s"] = (procstat.sample(peak=False).worker_cpu_s
                                     - worker0)
        self.spans.add(Span(f"{op}:{name}", t0, t1, tag, attrs))
        return snap

    def append(self, name, df):
        return self._traced("append", name,
                            lambda: Warehouse.append(self, name, df))

    def overwrite(self, name, df):
        return self._traced("overwrite", name,
                            lambda: Warehouse.overwrite(self, name, df))

    def append_local(self, name, arrow_table, schema_json):
        return self._traced("append_local", name, lambda: Warehouse.append_local(
            self, name, arrow_table, schema_json))


class TracedRoundLog(RoundLog):
    def __init__(self, root, spans: SpanLog, job: int):
        super().__init__(root)
        self.spans, self.job = spans, job

    def commit(self, rnd, snapshots, stats=None):
        with self.spans.span("commit", f"r{rnd}:commit", job=self.job):
            super().commit(rnd, snapshots, stats)


class TimedCrawler(Crawler):
    """A Crawler whose rounds are timed from outside; with ``traced`` its
    round checkpoint is timed too, and each round records the CPU the
    driver's Python, the JVM and the PySpark workers used during it."""

    def __init__(self, spark, wh, cfg, spans: SpanLog, job: int,
                 traced: bool):
        super().__init__(spark, wh, cfg)
        self.spans, self.job, self.traced = spans, job, traced
        if traced:
            self.log = TracedRoundLog(wh.root, spans, job)

    def run_round(self, rnd, revisit=False):
        with self.spans.span("round", f"r{rnd}:round", job=self.job) as span:
            cpu0 = procstat.sample(peak=False) if self.traced else None
            try:
                return super().run_round(rnd, revisit)
            finally:
                if cpu0 is not None:
                    cpu1 = procstat.sample(peak=False)
                    for part in ("root", "jvm", "worker"):
                        key = f"{part}_cpu_s"
                        span.attrs[key] = (getattr(cpu1, key)
                                           - getattr(cpu0, key))


def _per_round(spans: list[Span]) -> dict[tuple[int, int], list[Span]]:
    out: dict[tuple[int, int], list[Span]] = {}
    for s in spans:
        if s.round is not None:
            out.setdefault((s.attrs.get("job"), s.round), []).append(s)
    return out


def crawl_layers(spans: SpanLog, groups: dict[str, Group]) -> dict:
    """Per-round means over every (job, round) the traced crawls ran.
    Times are seconds per round; counts from the event log are per round."""
    rounds = {(s.attrs["job"], s.round): s for s in spans.named("round")}
    writes = _per_round([s for s in spans.spans
                         if s.name.split(":")[0] in
                         ("append", "overwrite", "append_local")])
    commits = _per_round(spans.named("commit"))
    n = len(rounds)

    def mean(f) -> float:
        return sum(f(key) for key in rounds) / n

    def span_s(key, names) -> float:
        return union_seconds((s.start, s.end) for s in writes.get(key, [])
                             if s.name in names)

    out = {
        # the previous round's deferred sinks and commit overlap each
        # round, so their CPU lands in the round that follows them
        "crawl.driver_cpu_s": mean(lambda k: rounds[k].attrs["root_cpu_s"]),
        "crawl.jvm_cpu_s": mean(lambda k: rounds[k].attrs["jvm_cpu_s"]),
        "crawl.worker_cpu_s": mean(lambda k: rounds[k].attrs["worker_cpu_s"]),
        "crawl.round_self_s": mean(lambda k: self_seconds(
            (rounds[k].start, rounds[k].end),
            [(s.start, s.end) for s in writes.get(k, [])])),
        "frontier.schedule_s": mean(lambda k: span_s(k, {"append:scheduled"})),
        "frontier.next_write_s": mean(
            lambda k: span_s(k, {"append:frontier"})),
        "seen.write_s": mean(lambda k: span_s(
            k, {"append:seen", "overwrite:seen_shards"})),
        "extract.materialize_s": mean(lambda k: span_s(k, {"append:text"})),
        "extract.python_cpu_s": mean(lambda k: sum(
            s.attrs.get("worker_cpu_s", 0.0) for s in writes.get(k, [])
            if s.name == "append:text")),
        "checkpoint.commit_s": mean(lambda k: sum(
            s.seconds for s in commits.get(k, []))),
    }
    for t in SINK_TABLES:
        mine = lambda k, t=t: [s for s in writes.get(k, [])  # noqa: E731
                               if s.attrs.get("table") == t]
        out[f"tables.append_s.{t}"] = mean(
            lambda k: sum(s.seconds for s in mine(k)))
        out[f"tables.bytes_written.{t}"] = mean(
            lambda k: sum(s.attrs["bytes"] for s in mine(k)))
        out[f"tables.files_written.{t}"] = mean(
            lambda k: sum(s.attrs["files"] for s in mine(k)))

    n_rounds = sorted({r for _j, r in rounds})

    def phase(suffix: str) -> Group:
        return select(groups, lambda d: d.split(":", 1)[-1] == suffix
                      and d.split(":", 1)[0] in {f"r{r}" for r in n_rounds})

    every = select(groups, lambda d: d.split(":", 1)[0]
                   in {f"r{r}" for r in n_rounds})
    sched, ext = phase("schedule"), phase("extract-write")
    skews = [select(groups, lambda d, r=r: d == f"r{r}:extract-write")
             .task_skew() for r in n_rounds]
    out.update({
        "crawl.spark_jobs_per_round": every.jobs / n,
        "crawl.tasks_per_round": every.tasks / n,
        "frontier.schedule_cpu_s": sched.executor_cpu_s / n,
        "frontier.shuffle_mb": sched.shuffle_write_bytes / 2**20 / n,
        "extract.cpu_s": ext.executor_cpu_s / n,
        "extract.gc_s": ext.gc_s / n,
        "extract.task_skew": statistics.median(skews) if skews else 0.0,
    })
    return out


def crawl_counts(wh: Warehouse, rounds: int) -> dict:
    """Funnel counts of one crawl, summed over its rounds, read from the
    tables it wrote."""
    from pyspark.sql import functions as F

    def by(table, col, *agg):
        return {r[0]: r[1:] for r in wh.read(table).groupBy(col)
                .agg(*agg).collect()}

    count = F.count(F.lit(1))
    frontier = by("frontier", "for_round", count)
    sched = by("scheduled", "round", count)
    seen = by("seen", "round", count)
    log = {(r[0], r[1]): r[2] for r in wh.read("fetch_log")
           .groupBy("round", "status").count().collect()}
    links = wh.read("text").agg(F.sum("n_links")).first()[0] or 0
    fpp = (wh.read("bloom_stats").filter(F.col("round") == rounds)
           .agg(F.max("fpp_est")).first()[0] or 0.0)
    rs = range(1, rounds + 1)
    cand = sum(frontier.get(r, (0,))[0] for r in rs)
    n_sched = sum(sched.get(r, (0,))[0] for r in rs)
    return {
        "frontier.candidates": cand,
        "frontier.scheduled": n_sched,
        "frontier.scheduled_frac": n_sched / cand if cand else 0.0,
        "frontier.next_rows": sum(frontier.get(r + 1, (0,))[0] for r in rs),
        "robots.blocked": sum(seen.get(r, (0,))[0] - sched.get(r, (0,))[0]
                              for r in rs),
        "extract.ok": sum(log.get((r, "ok"), 0) for r in rs),
        "extract.miss": sum(log.get((r, "miss"), 0) for r in rs),
        "extract.links_out": int(links),
        "seen.bloom_fpp_est": float(fpp),
    }


def export_layers(spans: SpanLog, groups: dict[str, Group]) -> dict:
    calls = spans.named("export_corpus")
    g = groups.get("export", Group())
    n = len(calls)
    return {
        "export.export_corpus_s": sum(s.seconds for s in calls) / n,
        "export.cpu_s": g.executor_cpu_s / n,
        "export.spark_jobs": g.jobs / n,
        "export.docs_out": sum(s.attrs["docs_out"] for s in calls) / n,
        "export.text_read_mb": g.input_bytes / 2**20 / n,
    }
