"""Per-partition lineage + fetch metrics (SURVEY.md §2.7, A1–A7; B:6
"writing per-partition lineage and fetch metrics").

Lineage tags every output row with its physical partition id inside the
same Arrow pass that writes it (mapInPandas + TaskContext), then rolls up
(round, part_id) → row counts + url_key range + checksum, so a resumed
round can prove it re-produced identical partitions (ST8).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "part_id int, input_rows long, min_url_key long, max_url_key long, "
    "sha256 string"
)


def _lineage_per_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """partition_lineage's per-task pass. Module-level, so the pickled UDF
    refers to it by name and the worker imports lectura to run it."""
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    n = 0
    mn: int | None = None
    mx: int | None = None
    h = hashlib.sha256()
    urls: list[str] = []
    for pdf in batches:
        n += len(pdf)
        if len(pdf):
            lo, hi = int(pdf["_uk"].min()), int(pdf["_uk"].max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
            urls.extend(pdf["_u"].tolist())
    for u in sorted(urls):
        h.update(u.encode())
    yield pd.DataFrame(
        {
            "part_id": [pid],
            "input_rows": [n],
            "min_url_key": [mn],
            "max_url_key": [mx],
            "sha256": [h.hexdigest()],
        }
    )


def partition_lineage(df: DataFrame, url_col: str = "url") -> DataFrame:
    """One row per physical partition: counts, url_key range, and a
    content checksum over the sorted canonical URLs (A6)."""
    keyed = df.withColumn("_uk", F.xxhash64(url_col)).select(
        F.col(url_col).alias("_u"), "_uk"
    )
    return keyed.mapInPandas(_lineage_per_part, LINEAGE_SCHEMA)


def fetch_metrics(fetch_log: DataFrame) -> DataFrame:
    """A1: per (round, host) rollup of the fetch log."""
    return fetch_log.groupBy("round", "host").agg(
        F.count("*").alias("n_fetches"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("status") == "miss", 1).otherwise(0)).alias("n_miss"),
        F.sum("bytes").alias("total_bytes"),
        F.sum("n_links").alias("total_links"),
    )
