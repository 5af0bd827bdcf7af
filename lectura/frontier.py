"""Frontier scheduling: dedupe, politeness budget, priority ranking,
global deterministic cap (SURVEY.md §2.5; SEMANTICS.md §4–5).

Ordering discipline (B:14 "identical crawl-frontier ordering"): every sort
key ends with the canonical URL string — never a hash, salt, or partition
id — so results are identical at any parallelism. Salting (F1) is applied
as a *distribution* key only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lectura.config import CrawlConfig
from lectura.urlnorm import salt

FRONTIER_COLS = ["url", "host", "hrk", "path_q", "depth", "score",
                 "discovered_ts", "src_url"]


def dedupe_frontier(df: DataFrame) -> DataFrame:
    """Best row per canonical url: (score desc, depth asc, discovered_ts
    asc, src_url asc-nulls-first) — deterministic reduce (SEMANTICS.md §4).

    Window row_number, deliberately NOT groupBy(url).agg(min(struct(...))):
    a struct-typed min buffer is unsupported by HashAggregateExec, so the
    agg form plans as SortAggregate — a full sort on BOTH sides of the
    exchange (partial + final), measured ~2× the window's single
    post-shuffle sort at bench scale. Callers that can prove their input
    is already url-distinct (the frontier table is written deduped) skip
    this entirely."""
    w = Window.partitionBy("url").orderBy(
        F.desc("score"),
        F.asc("depth"),
        F.asc("discovered_ts"),
        F.asc_nulls_first("src_url"),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def with_budget(cand: DataFrame, host_delay: DataFrame, host_state: DataFrame,
                cfg: CrawlConfig, round_no: int,
                hint=F.broadcast) -> DataFrame:
    """Join per-host delay (robots R4) + last-fetched round (F4) and compute
    the politeness budget exactly as CrawlConfig.budget does in Python.

    `hint` wraps both per-host tables; the identity drops the broadcast
    hints (caller knows the per-host tables are too large — e.g. 10^8
    distinct hosts) and lets AQE pick the join strategy."""
    j = (
        cand.join(hint(host_delay), "host", "left")
        .join(hint(host_state), "host", "left")
    )
    d = F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_delay))
    d = F.when(d <= 0, F.lit(cfg.default_delay)).otherwise(d)
    rs = F.lit(float(cfg.round_seconds))
    fast = F.floor(rs / d).cast("int")
    slow = F.when(
        F.col("last_round").isNull()
        | ((F.lit(round_no) - F.col("last_round")) * rs >= d),
        F.lit(1),
    ).otherwise(F.lit(0))
    budget = F.when(d <= rs, fast).otherwise(slow)
    return j.withColumn(
        "budget", F.least(budget, F.lit(cfg.max_per_host))
    ).drop("crawl_delay", "last_round")


def rank_per_host(cand_budgeted: DataFrame, salt_buckets: int,
                  max_rank: int | None = None) -> DataFrame:
    """F1+F2: two-phase salted per-host ranking.

    Phase 1 ranks within (host, salt) — the salt spreads a mega-host over
    `salt_buckets` tasks — and keeps only each bucket's top-`budget` rows
    (the global per-host top-budget is a subset of the union of per-bucket
    top-budgets). Phase 2 ranks the ≤ salt_buckets×budget survivors per
    host. The salt never appears in an ORDER BY, so results are
    parallelism-invariant (SEMANTICS.md §4).

    `max_rank` (= cfg.max_per_host, the static ceiling on every per-host
    budget) adds a redundant LITERAL bound to the rank filters. The
    semantics are unchanged (budget ≤ max_per_host always), but Catalyst's
    InferWindowGroupLimit only fires on `row_number() <= literal` — with
    the literal conjunct both phases plan as WindowGroupLimit (per-group
    top-k maintained inside the sort) instead of a full sort + rank of
    every candidate. On a mega-host with 10^6 candidate urls that is the
    difference between sorting 10^6 rows and keeping a k-row heap.
    """
    order = [F.desc("score"), F.asc("depth"), F.asc("url")]
    w_local = Window.partitionBy("host", "_salt").orderBy(*order)
    keep_local = F.col("_lr") <= F.col("budget")
    if max_rank is not None:
        keep_local = (F.col("_lr") <= F.lit(max_rank)) & keep_local
    pruned = (
        cand_budgeted.withColumn("_salt", salt("url", salt_buckets))
        .withColumn("_lr", F.row_number().over(w_local))
        .filter(keep_local)
        .drop("_salt", "_lr")
    )
    w_host = Window.partitionBy("host").orderBy(*order)
    ranked = pruned.withColumn("host_rank", F.row_number().over(w_host))
    if max_rank is not None:
        ranked = ranked.filter(F.col("host_rank") <= F.lit(max_rank))
    return ranked


def schedule(cand_budgeted: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """F3+F5: keep rank ≤ budget, then global deterministic order + cap
    with a 1-based ``sched_rank`` following that order.

    Two physical strategies for the SAME answer, picked by the round
    cap (VERDICT r3 #2):

    * cap ≤ ``cfg.distributed_rank_min``: orderBy+limit plans as
      TakeOrderedAndProject (distributed top-k heap merge) and the
      rank window sorts only the ≤ cap survivors — one bounded task.
    * cap above it (the cluster-scale round a user raises the cap to):
      that window's single task IS the bottleneck, so the rank comes
      from sampling.prefix_rank — one range exchange on the order key,
      per-partition counts to the driver, narrow offset-carrying pass;
      partitions past the cap are pruned before any row crosses to
      Python. Same deterministic rank (total order: url is unique
      among candidates), >1 task at any round size.
    """
    kept = cand_budgeted.filter(F.col("host_rank") <= F.col("budget"))
    order = [F.desc("score"), F.asc("hrk"), F.asc("url")]
    if cfg.max_round_urls <= cfg.distributed_rank_min:
        return (
            kept.orderBy(*order)
            .limit(cfg.max_round_urls)
            .withColumn("sched_rank", F.row_number().over(
                Window.orderBy(*order)))
        )
    from lectura.sampling import prefix_rank

    # Pin the kept set once before the range-partitioned rank:
    # repartitionByRange's range-sampling pass re-executes its child
    # plan, so without this the per-host rank window — the most
    # expensive schedule stage at a 10^8-candidate round (r5 decade
    # bench, BENCH/BASELINE.md) — runs twice per round. One slim
    # materialization (≤ budget rows/host) replaces the duplicate sort.
    kept = kept.localCheckpoint()
    ranked = prefix_rank(kept, order, rank_col="sched_rank",
                         limit=cfg.max_round_urls)
    return ranked.withColumn("sched_rank",
                             F.col("sched_rank").cast("int"))


def retry_schedule(history: DataFrame, *, base_rounds: int = 1,
                   max_backoff_rounds: int = 32, max_retries: int = 5,
                   ok_status: str = "ok", key_col: str = "url",
                   round_col: str = "round",
                   status_col: str = "status") -> DataFrame:
    """Exponential-backoff retry queue from the fetch log: per url whose
    LAST attempt failed, count the consecutive failures since its last
    success (k) and schedule the next attempt at
    ``last_round + min(base·2^(k-1), max_backoff)``; urls past
    ``max_retries`` are dropped (dead). Urls whose last attempt
    succeeded produce no row — recrawl_schedule owns revisits.

    Scale shape: ONE shuffle total — the per-url window computes
    last-success round, and the groupBy that follows reuses the same
    hash partitioning (Catalyst inserts no second exchange). Same-round
    ok+miss ties resolve to the success (failures must be strictly
    after it) — a deterministic rule the oracle mirrors."""
    w = Window.partitionBy(key_col)
    h = history.withColumn(
        "_last_ok",
        F.max(F.when(F.col(status_col) == ok_status,
                     F.col(round_col))).over(w),
    )
    g = (
        h.filter((F.col(status_col) != ok_status)
                 & (F.col(round_col)
                    > F.coalesce(F.col("_last_ok"), F.lit(-1))))
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").alias("n_fails"),
             F.max(round_col).alias("last_round"))
        .filter(F.col("n_fails") <= max_retries)
    )
    # 64-bit shift with the amount capped at 31: shiftleft(1, k) is
    # 32-bit for an INT literal (wraps negative at k=31, masks at 32+),
    # so a max_retries >= 32 would schedule retries in the past; capping
    # the exponent keeps the product in long range for any sane base
    # and the outer least() applies the real bound.
    backoff = F.least(
        F.lit(base_rounds)
        * F.expr("shiftleft(CAST(1 AS BIGINT), least(n_fails - 1, 31))"),
        F.lit(max_backoff_rounds).cast("long"),
    )
    return g.withColumn("next_attempt_round",
                        F.col("last_round") + backoff)


def recrawl_schedule(history: DataFrame, now_epoch_s: int,
                     key_col: str = "url", ts_col: str = "ts",
                     changed_col: str = "changed",
                     min_interval_s: float = 3600.0,
                     max_interval_s: float = 30 * 86400.0) -> DataFrame:
    """Freshness-driven recrawl prioritization — the scheduling layer a
    continuous crawl runs between discovery rounds.

    Per key, the change interval is estimated from fetch history as
    observed span / observed changes (the max-likelihood estimator for a
    Poisson change process), clamped to [min, max]; keys never seen to
    change sit at max. `overdue` is how many estimated intervals past
    due the key is at `now_epoch_s` — the recrawl queue orders by it
    descending and feeds the same politeness/rank pipeline as discovery.

    Scale shape: ONE hash aggregation over the history (partial aggs
    map-side), no window, no join; output cardinality = distinct keys.
    `now` is an explicit epoch so plans are deterministic and replayable
    (no wall-clock in the plan)."""
    g = history.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n_obs"),
        F.sum(F.col(changed_col).cast("int")).alias("n_changes"),
        F.unix_timestamp(F.min(ts_col)).alias("first_epoch"),
        F.unix_timestamp(F.max(ts_col)).alias("last_epoch"),
    )
    span = (F.col("last_epoch") - F.col("first_epoch")).cast("double")
    est = F.when(F.col("n_changes") > 0, span / F.col("n_changes")) \
        .otherwise(F.lit(float(max_interval_s)))
    est = F.least(F.greatest(est, F.lit(float(min_interval_s))),
                  F.lit(float(max_interval_s)))
    return (
        g.withColumn("est_interval_s", F.round(est, 4))
        .withColumn(
            "overdue",
            F.round(
                (F.lit(float(now_epoch_s)) - F.col("last_epoch").cast("double")
                 - F.col("est_interval_s")) / F.col("est_interval_s"), 4),
        )
        .select("key", "n_obs", "n_changes", "last_epoch",
                "est_interval_s", "overdue")
    )


def recrawl_due(history: DataFrame, now_epoch: float,
                min_interval_s: float, max_interval_s: float) -> DataFrame:
    """The crawl-loop face of C2 (`recrawl_schedule`): due-for-revisit
    keys from per-fetch history rows (url, host, ts_epoch double,
    changed boolean), keeping only `overdue >= 0`.

    Same Poisson change-interval estimator as recrawl_schedule, with two
    differences required by the revisit-round contract (SEMANTICS.md
    §16): epochs are already-float doubles produced by
    ``CrawlConfig.epoch`` (not unix_timestamp's integer seconds), and
    NOTHING is rounded — `overdue` becomes the revisit round's ORDER BY
    score, so the Spark plan and the pure-Python oracle must agree
    bit-for-bit, which they do because both run the identical
    left-associated double arithmetic.

    Scale shape: ONE hash aggregation over the history, grouped by url
    ALONE (host is functionally dependent on url and rides along as
    max(host) — grouping by url only lets the aggregate reuse the
    url-hash partitioning the caller's lag window already produced, so
    no second exchange), no window, no join; output ≤ distinct fetched
    urls, further cut by the due filter."""
    g = history.groupBy("url").agg(
        F.max("host").alias("host"),
        F.sum(F.col("changed").cast("long")).alias("n_changes"),
        F.min("ts_epoch").alias("first_epoch"),
        F.max("ts_epoch").alias("last_epoch"),
    )
    est = F.when(
        F.col("n_changes") > 0,
        (F.col("last_epoch") - F.col("first_epoch")) / F.col("n_changes"),
    ).otherwise(F.lit(float(max_interval_s)))
    est = F.least(F.greatest(est, F.lit(float(min_interval_s))),
                  F.lit(float(max_interval_s)))
    overdue = (F.lit(float(now_epoch)) - F.col("last_epoch") - est) / est
    return (
        g.select("url", "host", overdue.alias("overdue"))
        .filter(F.col("overdue") >= 0.0)
    )


def trap_templates(urls: DataFrame, min_fanout: int = 100,
                   min_frac: float = 0.5,
                   url_col: str = "url") -> DataFrame:
    """Crawler-trap candidates by URL-template fan-out mining: collapse
    every digit run in the path to ``N`` (``/cal/2026/3/14`` →
    ``/cal/N/N/N``) and flag (host, template) pairs whose distinct-URL
    fan-out is ≥ ``min_fanout`` AND ≥ ``min_frac`` of the host's
    distinct URLs — the signature of calendar/pagination/session-id URL
    spaces, where one generative template dominates an effectively
    unbounded host. Returns (host, template, n_urls, host_urls,
    fanout_frac); schedulers demote or cap matching hosts. Input URLs
    are deduplicated first (idempotent if already unique); missing
    paths template as ''.

    Scale shape: one distinct on url (partial-aggregating — duplicate
    URLs collapse map-side), then two keyed hash aggs over slim
    (host, template) rows and an equi-join of template counts against
    per-host totals; no window, no Python — the url strings never
    survive past the first aggregation."""
    parts = (
        urls.select(F.col(url_col).alias("url"))
        .dropDuplicates(["url"])
        .select(
            # full lowercased AUTHORITY (SEMANTICS: host:port is the
            # politeness/trap unit — parse_url('HOST') would strip a
            # non-default port and merge distinct authorities); any
            # case of scheme accepted, rows with no scheme://authority
            # shape are dropped below (not crawlable URLs)
            F.lower(F.regexp_extract(
                "url", "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
             .alias("host"),
            # try_parse_url: under ANSI (this repo's default) plain
            # parse_url THROWS on a malformed URL ('http://a/x y/1')
            # and one bad frontier row would abort the whole pass;
            # NULL paths (malformed or path-less) template as ''
            F.regexp_replace(
                F.coalesce(F.expr("try_parse_url(url, 'PATH')"),
                           F.lit("")),
                "[0-9]+", "N",
            ).alias("template"),
        )
        .filter(F.col("host") != "")
    )
    tmpl = parts.groupBy("host", "template").agg(
        F.count("*").alias("n_urls"))
    hosts = tmpl.groupBy("host").agg(F.sum("n_urls").alias("host_urls"))
    frac = F.col("n_urls") / F.col("host_urls")
    return (
        tmpl.join(hosts, "host")
        .filter((F.col("n_urls") >= min_fanout) & (frac >= min_frac))
        .select("host", "template", "n_urls", "host_urls",
                F.round(frac, 4).alias("fanout_frac"))
    )


def blocklist_filter(urls: DataFrame, blocklist: DataFrame,
                     url_col: str = "url", domain_col: str = "domain",
                     max_depth: int = 5) -> DataFrame:
    """UT1-style domain-blocklist filtering (the RefinedWeb / Dolma URL
    gate — Penedo et al. 2023 §3.1 filter crawl output against the
    public UT1 adult/malware domain lists): a URL is blocked iff its
    lowercased authority, or any dot-suffix of it, appears in the
    blocklist — 'ads.x.example' is blocked by an 'x.example' entry,
    subdomain entries block only their subtree, and the MOST SPECIFIC
    (longest) matching suffix is reported. A non-default port makes a
    distinct authority (the politeness/trap-unit rule trap_templates
    also follows): 'x.example:8080' does not match an 'x.example'
    entry. Rows with no scheme://authority shape keep host='' and
    blocked=false (not crawlable, nothing to block — callers drop them
    elsewhere). Returns (url, host, matched_domain, blocked).

    Scale shape: zero shuffle on the URL side — the suffix chain is
    unrolled into ``max_depth`` scan-stage columns and matched by
    ``max_depth`` BROADCAST hash left-joins against the deduplicated
    blocklist (UT1 is ~4.5M domains ≈ tens of MB — comfortably
    broadcastable; the one shuffle in the plan is the distinct on that
    small dim). Longest-match-wins is a coalesce ordered full-host
    first, so no re-aggregation is needed after the joins; beyond
    broadcast size, swap to a shuffle join on an exploded suffix
    column."""
    host = F.lower(F.regexp_extract(
        url_col, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    labels = F.split(host, r"\.")
    base = urls.select(
        F.col(url_col).alias("url"),
        host.alias("host"),
        labels.alias("_ls"),
    )
    sufs = [F.col("host").alias("_s0")] + [
        F.when(
            F.size("_ls") > i,
            F.array_join(F.slice("_ls", F.lit(i + 1),
                                 F.size("_ls") - F.lit(i)), "."),
        ).alias(f"_s{i}")
        for i in range(1, max_depth)
    ]
    out = base.select("url", "host", *sufs)
    bl = blocklist.select(F.col(domain_col).alias("_d")).distinct()
    for i in range(max_depth):
        bl_i = bl.select(F.col("_d").alias(f"_d{i}"))
        out = out.join(F.broadcast(bl_i),
                       out[f"_s{i}"] == bl_i[f"_d{i}"], "left")
    matched = F.coalesce(*[F.col(f"_d{i}") for i in range(max_depth)])
    return out.select(
        "url", "host", matched.alias("matched_domain"),
        matched.isNotNull().alias("blocked"),
    )


def salted_join(left: DataFrame, right: DataFrame, on: str | list[str],
                n_salt: int = 8, how: str = "inner") -> DataFrame:
    """F14 — skew-safe equi-join by key salting (the classic hot-key
    mitigation AQE's skewJoin applies adaptively, exposed as an
    explicit operator for when the skew is KNOWN up front — e.g.
    joining a link table against pages where one mega-host owns 10% of
    all rows): every left row gets one of `n_salt` salts, the right
    side is replicated once per salt, and the join runs on
    (key…, salt) so a hot key's rows spread over `n_salt` tasks
    instead of one straggler. The salt never reaches the output and
    the result set is EXACTLY the plain join's (each left row joins
    the single right replica carrying its salt).

    Only inner and left joins are supported: each left row exists
    under exactly one salt, so left-outer semantics survive salting;
    right/full would see the right side's replicas as distinct
    unmatched rows. The left salt is pmod(xxhash64(random-ish row
    id)) — its distribution affects task balance only, never the
    result. Cost: the right side scans/shuffles n_salt×, so use it
    when right is small-ish but past broadcast size — the exact
    regime where one hot left key otherwise serializes the stage."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, not {how!r}")
    if "_salt" in left.columns or "_salt" in right.columns:
        raise ValueError(
            "salted_join reserves the column name '_salt'; rename the "
            "input column (silently clobbering it would corrupt data)")
    keys = [on] if isinstance(on, str) else list(on)
    l = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()),
               F.lit(n_salt)))
    r = right.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.lit(n_salt - 1).cast("long"))))
    return l.join(r, keys + ["_salt"], how).drop("_salt")
