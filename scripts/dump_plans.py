"""Regenerate the plan skeletons in PLANS.md from a committed warehouse.

Usage:
    PYSPARK_SUBMIT_ARGS="--driver-memory 16g pyspark-shell" \
    python scripts/dump_plans.py <warehouse_dir> [next_round]

Rebuilds the crawl's hot-query DataFrames exactly as run_round does
(schedule pipeline, as-of winner pick, WARC fetch+extract) against the
given warehouse state and prints each `explain("formatted")` skeleton —
the operator-tree portion, with the per-node detail sections elided.
Paste the output into PLANS.md and re-check the annotations.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def skeleton(df, max_lines: int = 60) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0].splitlines()
    return "\n".join(tree[:max_lines] + (["..."] if len(tree) > max_lines else []))


def main() -> int:
    wh_dir = sys.argv[1]
    rnd = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from pyspark.sql import functions as F

    from lectura.config import CrawlConfig
    from lectura.crawl import asof_fetch
    from lectura.frontier import rank_per_host, schedule, with_budget
    from lectura.robots import apply_robots, host_delay_table
    from lectura.session import get_spark
    from lectura.tables import Warehouse

    spark = get_spark(master="local[4]", app_name="dump-plans",
                      shuffle_partitions=8)
    wh = Warehouse(wh_dir, spark)
    cfg = CrawlConfig()

    frontier = wh.read("frontier").filter(F.col("for_round") == rnd)
    rules = wh.read("rules")
    host_state = (
        wh.read("host_state").groupBy("host")
        .agg(F.max("last_round").alias("last_round"))
    )
    cand = frontier.drop("for_round")
    allowed = apply_robots(cand, rules).filter(F.col("allowed")).drop("allowed")
    budgeted = with_budget(allowed, host_delay_table(rules), host_state,
                           cfg, rnd, broadcast_hint=True)
    sched = schedule(rank_per_host(budgeted, cfg.salt_buckets,
                                   max_rank=cfg.max_per_host), cfg).select(
        "sched_rank", "url", "host", "hrk", "path_q", "depth", "score")
    print("## SCHEDULE\n")
    print(skeleton(sched))

    prev = wh.read("scheduled").filter(F.col("round") == rnd - 1).drop(
        "round", "host_bucket")
    n_sched = prev.count()
    pages = wh.read("pages")
    fetch = asof_fetch(pages, prev, cfg.round_ts(rnd - 1), cfg,
                       n_scheduled=n_sched, n_extract_parts=8)
    print(f"\n## FETCH (warc={'warc_file' in fetch.columns}, "
          f"n_scheduled={n_sched})\n")
    print(skeleton(fetch))

    # pushdown evidence for the operator contract
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    proj = li.filter(F.col("l_quantity") > 45).select("l_orderkey",
                                                      "l_quantity")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        proj.explain("formatted")
    txt = buf.getvalue()
    print("\n## PUSHDOWN (scan_filter_project)\n")
    print(skeleton(proj))
    for line in txt.splitlines():
        if re.search(r"PushedFilters|ReadSchema", line):
            print(line.strip())
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
