"""Crawl configuration (SEMANTICS.md §11) shared by the Spark pipeline and
the pure-Python oracle crawler."""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

START_TS_DEFAULT = datetime(2026, 1, 1, tzinfo=timezone.utc)


@dataclass(frozen=True)
class CrawlConfig:
    w1: float = 1.0
    w2: float = 0.5
    decay: float = 0.5
    default_delay: float = 5.0
    round_seconds: float = 60.0
    max_per_host: int = 20
    max_round_urls: int = 10_000
    max_depth: int = 6
    agent: str = "lectura"
    start_ts: datetime = START_TS_DEFAULT
    n_shards: int = 32
    seen_capacity: int = 1_000_000  # per-shard sizing input at build time
    fpp: float = 1e-3
    host_buckets: int = 32  # pages/frontier partition key fan-out
    salt_buckets: int = 8  # mega-host salting fan-out (U6/F1)
    # Maintain an approximate seen-set filter (`seen_shards`, `bloom_stats`)
    # beside the exact `seen` table; rounds apply only the exact set.
    use_bloom: bool = False
    # Approximate seen-set backend when use_bloom is on: "bloom"
    # (bloomcore; ~14.4 bits/key at fpp 1e-3) or "cuckoo" (cuckoocore;
    # ~32 bits/key, FPP ~1.2e-4, supports delete). Both run the same
    # Spark path and differ only in kernel (lectura/seen.py).
    seen_filter: str = "bloom"
    # Broadcast-hint ceiling for round-sized sets (scheduled urls, as-of
    # winners, host_state): below this row count the small side is
    # broadcast; above it the hint is dropped so the join shuffles and AQE
    # picks the strategy — an unconditional hint OOMs the driver when a
    # cluster-scale round schedules 10^7-10^8 URLs.
    broadcast_max_rows: int = 4_000_000
    # inline pages.html stored gzipped (one member per page); bodies are
    # inflated inside the extraction workers (lectura/extract.py).
    # WARC-pointer corpora are always gzip members and ignore this.
    html_gzip: bool = False
    # Sitemap discovery as a frontier source (S11 wired into the crawl —
    # SEMANTICS.md §15): robots `Sitemap:` directives are resolved at
    # init, the sitemap XML pages fetched from the corpus (as-of
    # round_ts(0)), parsed (one level of index recursion per the
    # protocol), and their url entries join the round-1 frontier as
    # depth-0 seed-like rows scored base[0] + w2 * priority. Off by
    # default: the robots table is static across rounds, so discovery is
    # a one-time init pass, not a per-round source.
    use_sitemaps: bool = False
    # Per-round sink fan-in (VERDICT r3 #1): target rows per output file
    # for the round's sink appends (scheduled / fetch_log / seen /
    # host_state). The write funnels through ceil(n_rows /
    # sink_rows_per_file) tasks, so file count AND write parallelism
    # scale with round size — the r3 hardcoded coalesce(4) pushed every
    # cluster-scale round (10^7-10^8 urls) through 4 tasks.
    sink_rows_per_file: int = 250_000
    # Revisit rounds (C2 wired into the crawl loop — SEMANTICS.md §16):
    # `Crawler.run(rounds, recrawl_rounds=K)` appends K revisit rounds
    # after the discovery rounds. A revisit round's candidates come from
    # the recrawl_due estimator over fetch history (Poisson change-
    # interval, clamped to [min, max] seconds), NOT the frontier; keys
    # never observed to change sit at max. Defaults mirror
    # frontier.recrawl_schedule's contract defaults.
    recrawl_min_interval_s: float = 3600.0
    recrawl_max_interval_s: float = 30.0 * 86400.0
    # schedule()'s global deterministic rank (VERDICT r3 #2): at or
    # below this round cap the TakeOrderedAndProject + one
    # cap-bounded window is optimal (distributed top-k heap, tiny
    # final sort); above it that window sorts the whole round in ONE
    # task, so the rank switches to the SEL2 range-partition prefix
    # discipline (sampling.prefix_rank — same answer, >1 task).
    distributed_rank_min: int = 200_000

    def __post_init__(self):
        from lectura.seen import FILTERS

        if self.seen_filter not in FILTERS:
            raise ValueError(f"seen_filter {self.seen_filter!r} is not one "
                             f"of {FILTERS}")

    def sink_fan_in(self, n_rows: int) -> int:
        """Sink write fan-in derived from the round's row count."""
        return max(1, -(-int(n_rows) // self.sink_rows_per_file))

    def depth_base(self) -> dict[int, float]:
        """w1 * decay**d precomputed in Python once, shipped to Spark as
        literals so JVM and Python use bit-identical floats (SEMANTICS.md §3)."""
        return {d: self.w1 * (self.decay ** d) for d in range(self.max_depth + 2)}

    def round_ts(self, r: int) -> datetime:
        from datetime import timedelta

        return self.start_ts + timedelta(seconds=self.round_seconds * r)

    def epoch(self, r: int) -> float:
        """round_ts(r) as a float epoch via the SAME arithmetic in Python
        and in the Spark revisit plan (`start_epoch + round_seconds * r`,
        left-associated) — the recrawl overdue scores feed ORDER BY keys,
        so both engines must produce bit-identical doubles (SEMANTICS.md
        §4 float discipline)."""
        return self.start_ts.timestamp() + self.round_seconds * r

    def child_score(self, child_depth: int, parent_score: float) -> float:
        return self.depth_base()[child_depth] + self.w2 * parent_score

    def budget(self, delay: float | None, round_no: int,
               last_fetched_round: int | None) -> int:
        """Per-host politeness budget for this round (SEMANTICS.md §5)."""
        d = self.default_delay if delay is None else max(float(delay), 0.0)
        if d <= 0:
            d = self.default_delay
        if d <= self.round_seconds:
            b = int(self.round_seconds // d)
        else:
            if last_fetched_round is None:
                b = 1
            else:
                b = 1 if (round_no - last_fetched_round) * self.round_seconds >= d else 0
        return min(b, self.max_per_host)
