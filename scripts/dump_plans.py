"""Regenerate the plan skeletons in PLANS.md from a committed warehouse.

Usage:
    PYSPARK_SUBMIT_ARGS="--driver-memory 16g pyspark-shell" \
    python scripts/dump_plans.py <warehouse_dir> [next_round]

Prints the `explain("formatted")` operator tree of the DataFrames the
crawler's own phase builders return: the schedule of next_round (default:
the round after the last committed one), and the fetch+extract and
frontier(r+1) of the committed round before it. Paste the output into
PLANS.md and re-check the annotations.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def show(title: str, df) -> None:
    """Print a section: the operator tree, per-node details elided."""
    print(f"\n## {title}\n")
    print(explain(df).split("\n\n")[0])


def main() -> int:
    import pyarrow.parquet as pq
    from pyspark.sql import Observation, functions as F

    from lectura.crawl import Crawler, Schedule
    from lectura.session import get_spark
    from lectura.tables import Warehouse

    spark = get_spark(master="local[4]", app_name="dump-plans",
                      shuffle_partitions=8)
    crawler = Crawler(spark, Warehouse(sys.argv[1], spark))
    wh, log = crawler.wh, crawler.log
    rnd = int(sys.argv[2]) if len(sys.argv) > 2 else log.last_committed() + 1
    allowed = crawler._candidates(rnd, revisit=False).allowed
    show("SCHEDULE", crawler._schedule_frame(rnd, allowed, Observation("d")))

    # the committed round's Schedule, as _schedule returned it
    prev = rnd - 1
    files = wh.files_added("scheduled", log.snapshots(prev)["scheduled"])
    buckets = pq.read_table(files, columns=["host_bucket"]).column(0)
    sched = Schedule(crawler._written("scheduled", prev),
                     wh.count_rows(files), set(buckets.to_pylist()))
    show(f"FETCH+EXTRACT (n_scheduled={sched.n})",
         crawler._text_frame(prev, sched))
    nxt = crawler._next_frontier(prev, crawler._candidates(prev, False),
                                 sched, crawler._written("text", prev))
    show("FRONTIER(r+1)", nxt.frontier)

    # pushdown evidence for the operator contract
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    proj = li.filter(F.col("l_quantity") > 45).select("l_orderkey",
                                                      "l_quantity")
    show("PUSHDOWN (scan_filter_project)", proj)
    for line in explain(proj).splitlines():
        if re.search(r"PushedFilters|ReadSchema", line):
            print(line.strip())
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
