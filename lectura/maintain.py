"""Warehouse maintenance between crawl sessions — the Iceberg
maintenance-procedures equivalent (`rewrite_data_files`,
snapshot-metadata repoint) for the long-crawl file-count problem.

A crawl appends a few files per table per round; after 10^3 rounds every
read of `seen`/`fetch_log` plans thousands of splits and the driver's
per-file footer reads become serial round-loop latency. This CLI:

1. **prunes the frontier** — rows with `for_round <= last committed
   round` are spent (each round reads only its own `for_round`; the
   seen-set, not old frontier rows, provides dedup), so they are
   dropped in a rewrite. At the 10^10-URL design point this is the
   difference between a frontier table that grows forever and one
   bounded by the live horizon;
2. **max-merges `host_state`** — collapses the per-round delta chain
   the round loop appends (crawl.py reads it through a groupBy
   max-merge; after merging, that read is a plain scan);
3. **binpacks every other table** to ~target-sized files
   (`Warehouse.compact`; `pages` is skipped — it may be a zero-copy
   registered corpus whose files the warehouse does not own);
4. **re-points the last round marker** at the rewritten snapshots —
   `Crawler.run(resume=True)` restores the marker's snapshots before
   continuing, so without the repoint a resume would roll the
   maintenance back (harmlessly, but pointlessly). Data content is
   identical by construction; old snapshots stay on disk, so a marker
   from BEFORE the maintenance still restores correctly.

Safe to run only between crawl sessions (same single-writer assumption
as the round loop itself).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lectura.checkpoint import RoundLog
from lectura.tables import Warehouse

SKIP = {"pages"}  # possibly zero-copy registered; never rewritten


def list_tables(wh: Warehouse) -> list[str]:
    return sorted(
        d for d in os.listdir(wh.root)
        if os.path.exists(os.path.join(wh.root, d, "HEAD"))
    )


def _export_baselines(wh: Warehouse) -> list[int]:
    """Text snapshots the incremental export refreshes replay from
    (every ``*_export_meta`` table with ``incremental_ok``): snapshot
    expiry on the text table must keep history from the OLDEST of
    these, or the next ``export --incremental`` finds its changelog
    baseline expired and is forced into a full re-export."""
    import pyarrow.parquet as pq

    snaps: list[int] = []
    for name in list_tables(wh):
        if not name.endswith("_export_meta"):
            continue
        # a dangling meta (its output table was dropped) must not pin
        # text retention forever
        if not wh.exists(name[: -len("_export_meta")]):
            continue
        try:
            m = pq.read_table(wh._files(name)[0]).to_pylist()[0]
        except (OSError, IndexError, KeyError):
            continue
        if m.get("incremental_ok"):
            snaps.append(int(m["text_snapshot"]))
    return snaps


def maintain(wh: Warehouse, *, target_file_bytes: int = 128 << 20,
             prune_frontier: bool = True,
             expire_keep: int | None = None) -> dict:
    """Run all maintenance passes; returns per-table actions taken.

    ``expire_keep``: when set, finish with
    ``Warehouse.expire_snapshots(keep_last=expire_keep)`` per table,
    anchored at the (re-pointed) last round marker's snapshot
    (``keep_from``) so a checkpoint resume stays restorable — history
    OLDER than the marker is dropped and its data files reclaimed.
    The text table is additionally anchored at the oldest
    incremental-capable export baseline (``_export_baselines``), so a
    retention sweep between corpus refreshes never breaks the
    changelog chain ``export --incremental`` replays; once a refresh
    commits (advancing its recorded baseline to HEAD), the next sweep
    reclaims the history behind it — retention stays bounded by the
    newest export, not by full history.
    Default None keeps every snapshot (the pre-expiry behavior: markers
    from before the maintenance still restore)."""
    log = RoundLog(wh.root)
    last = log.last_committed()
    actions: dict[str, str] = {}

    # A crashed round may have left committed table snapshots with no
    # round marker (the state resume normally discards). Roll back to
    # the last committed marker FIRST — otherwise the rewrites below
    # would bake the dangling writes into the compacted tables and the
    # marker repoint would bless them as round-`last` state.
    if last is not None:
        log.restore(wh, last)
        actions["_restore"] = f"rolled back to round-{last} snapshots"

    if prune_frontier and last is not None and wh.exists("frontier"):
        n_before = wh.approx_rows("frontier")
        live = wh.read("frontier").filter(F.col("for_round") > last)
        wh.overwrite("frontier", live)
        actions["frontier"] = (
            f"pruned rounds <= {last} ({n_before} -> "
            f"{wh.approx_rows('frontier')} rows)"
        )

    if wh.exists("host_state"):
        merged = (
            wh.read("host_state")
            .groupBy("host")
            .agg(F.max("last_round").alias("last_round"))
        )
        wh.overwrite("host_state", merged)
        actions["host_state"] = "delta chain max-merged"

    for name in list_tables(wh):
        if name in SKIP:
            continue
        snap = wh.compact(name, target_file_bytes=target_file_bytes)
        if snap is not None:
            actions[name] = (actions.get(name, "") +
                             f" + binpacked (snap {snap})").lstrip(" +")

    if last is not None:
        snaps = log.snapshots(last)
        for name in snaps:
            if name in actions and wh.exists(name):
                snaps[name] = wh.snapshot(name)
        log.commit(last, snaps, log.stats(last))
        actions["_round_log"] = f"round-{last} marker re-pointed"

    if expire_keep is not None:
        marker = log.snapshots(last) if last is not None else {}
        baselines = _export_baselines(wh)
        for name in list_tables(wh):
            if name in SKIP:
                continue
            keep_from = marker.get(name)
            if name == "text" and baselines:
                lo = min(baselines)
                keep_from = lo if keep_from is None else min(keep_from, lo)
            stats = wh.expire_snapshots(
                name, keep_last=expire_keep,
                keep_from=keep_from)
            if stats["expired"] or stats["files_deleted"]:
                actions[name] = (
                    actions.get(name, "")
                    + f" + expired {len(stats['expired'])} snapshots "
                    f"({stats['files_deleted']} files, "
                    f"{stats['bytes_freed']} B)").lstrip(" +")
    return actions


def audit_politeness(wh: Warehouse, *, round_seconds: float = 60.0,
                     default_delay: float = 5.0, sub: int = 64):
    """Politeness audit (D9b composition over the real fetch_log —
    VERDICT r4 #5): per host, the distribution of implied inter-fetch
    gaps vs the crawl-delay that host's robots declared, flagging hosts
    whose observed minimum gap PROVABLY undercuts their declared delay.

    Gap model (the round loop has no per-fetch wall timestamps — budget
    is the contract): a round in which a host got n fetch attempts
    implies n−1 gaps of round_seconds/n (the tightest spacing the
    budget permits — a compliant scheduler guarantees round_seconds/n ≥
    delay because n ≤ budget = ⌊round_seconds/delay⌋); consecutive
    FETCHED rounds r1 < r2 imply one cross-round gap of
    (r2−r1)·round_seconds (the multi-round-delay regime, budget rule
    (rnd−last)·round_seconds ≥ delay). 'miss' rows count — a scheduled
    fetch consumed budget whether or not the page existed.

    Sketch + soundness margin: gaps stream through the D9b grouped
    log-linear quantile sketch (textops.log_quantile_sketch,
    group_col=host — per-host state bounded at 64·sub bins), whose
    estimate is the LOWER bin edge: est ∈ (true/(1+1/sub), true]. A
    host is flagged only when est < delay_ms·sub/(sub+1) − 1, which
    implies true_gap < delay_ms — the detector can miss a violation
    inside the (1+1/sub) band but never flags a compliant host.

    Scale shape: one partial-aggregating groupBy(host, round) over the
    slim (host, round) projection of fetch_log, a per-host lag window
    whose partitions are #rounds long (bounded by crawl length, not
    corpus size), the bounded-state sketch, and a broadcast join
    against the per-host delay table. Returns one row per host with
    ≥1 implied gap: (host, declared_delay_s, defaulted, n_fetches,
    p1_gap_s, p50_gap_s, p99_gap_s, violating)."""
    from pyspark.sql import Window

    from lectura.robots import host_delay_table
    from lectura.textops import log_quantile_sketch

    rs_ms = int(round(round_seconds * 1000))
    per_round = (
        wh.read("fetch_log").select("host", "round")
        .groupBy("host", "round").agg(F.count("*").alias("n"))
    )
    within = (
        per_round.filter(F.col("n") > 1)
        .select(
            "host",
            F.explode(
                F.array_repeat(
                    F.expr(f"{rs_ms} div n"),
                    (F.col("n") - 1).cast("int"))).alias("gap_ms"),
        )
    )
    w = Window.partitionBy("host").orderBy("round")
    across = (
        per_round
        .withColumn("_prev", F.lag("round").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "host",
            ((F.col("round") - F.col("_prev"))
             * F.lit(rs_ms).cast("long")).alias("gap_ms"),
        )
    )
    gaps = within.unionByName(across)
    sk = log_quantile_sketch(
        gaps, "gap_ms",
        quantiles=((1, 100), (50, 100), (99, 100)),
        sub=sub, group_col="host")
    pivot = sk.groupBy("host").agg(
        F.max("n").alias("n_gaps"),
        *[F.max(F.when((F.col("q_num") == qn) & (F.col("q_den") == 100),
                       F.col("est"))).alias(name)
          for qn, name in ((1, "p1_ms"), (50, "p50_ms"), (99, "p99_ms"))],
    )
    delays = host_delay_table(wh.read("rules"))
    fetches = per_round.groupBy("host").agg(F.sum("n").alias("n_fetches"))
    d_eff = F.coalesce(
        F.when(F.col("crawl_delay") > 0, F.col("crawl_delay")),
        F.lit(float(default_delay)))
    out = (
        pivot.join(F.broadcast(delays), "host", "left")
        .join(fetches, "host")
        .withColumn("declared_delay_s", d_eff)
        .withColumn("defaulted", F.col("crawl_delay").isNull()
                    | ~(F.col("crawl_delay") > 0))
        .withColumn(
            "violating",
            F.col("p1_ms")
            < (F.col("declared_delay_s") * 1000.0 * sub / (sub + 1) - 1.0))
    )
    to_s = lambda c: F.round(F.col(c) / 1000.0, 3)  # noqa: E731
    return out.select(
        "host", "declared_delay_s", "defaulted", "n_fetches",
        to_s("p1_ms").alias("p1_gap_s"),
        to_s("p50_ms").alias("p50_gap_s"),
        to_s("p99_ms").alias("p99_gap_s"),
        "violating",
    )


def main(argv: list[str] | None = None) -> int:
    import argparse
    import json

    from lectura.session import get_spark

    ap = argparse.ArgumentParser(
        description="Compact/prune a crawl warehouse between sessions.")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--target-file-mb", type=int, default=128)
    ap.add_argument("--no-prune-frontier", action="store_true")
    ap.add_argument("--expire-keep", type=int, default=None,
                    help="keep only the last N snapshots per table "
                         "(plus the round marker's) and reclaim the "
                         "rest's data files; default keeps all history")
    ap.add_argument("--audit", action="store_true",
                    help="politeness audit instead of maintenance: "
                         "per-host implied inter-fetch-gap p1/p50/p99 "
                         "(D9b sketch over fetch_log) vs the declared "
                         "crawl-delay; prints one JSON line per host, "
                         "violations first")
    ap.add_argument("--round-seconds", type=float, default=60.0,
                    help="with --audit: the crawl's round length")
    ap.add_argument("--default-delay", type=float, default=5.0,
                    help="with --audit: delay assumed for hosts whose "
                         "robots declared none")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(master=args.master, app_name="lectura-maintain")
    wh = Warehouse(args.warehouse, spark)
    if args.audit:
        # streamed a partition at a time: the driver never holds one row
        # per host
        rows = audit_politeness(
            wh, round_seconds=args.round_seconds,
            default_delay=args.default_delay,
        ).orderBy(F.desc("violating"), "host").toLocalIterator()
        n_hosts = n_bad = 0
        for r in rows:
            print(json.dumps(r.asDict()))
            n_hosts += 1
            n_bad += bool(r.violating)
        print(json.dumps({"_summary": {"hosts_audited": n_hosts,
                                       "violations": n_bad}}))
        return 1 if n_bad else 0
    actions = maintain(
        wh, target_file_bytes=args.target_file_mb << 20,
        prune_frontier=not args.no_prune_frontier,
        expire_keep=args.expire_keep,
    )
    print(json.dumps(actions))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
