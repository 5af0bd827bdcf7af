"""SparkSession builder with all pipeline tuning confs (SURVEY.md §4).

On a real cluster the same builder is used by `spark-submit --py-files
lectura.zip -m lectura.crawl`; the Iceberg catalog confs are added there
(see lectura/tables.py docstring) — this sandbox has no Iceberg jar
(SURVEY.md §0.1), so local runs use the parquet-manifest warehouse.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-plan, partition coalescing, skew-join split for
    # mega-hosts (B:6 "AQE skew-join hints").
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64m",
    # Arrow path for pandas UDFs; html bodies are MB-scale so cap the batch
    # row count (SURVEY.md §4.2 "Arrow batch shaping").
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.session.timeZone": "UTC",
    # Python DataSource filter pushdown (S16 lectura_warc: pushed
    # lang/url filters prune index rows before any packfile byte is
    # read); off by default in Spark 4, no effect on other plans.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Broadcast threshold covers robots rule tables and bloom-shard dims.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # Local mode: ContextCleaner only reclaims shuffle/broadcast blocks
    # after a driver GC; with a large heap that may never happen and
    # accumulated blocks turn into G1 full-GC storms by round 3 of a
    # crawl. Force a periodic GC so cleanup keeps pace with the round
    # loop (no-op overhead on a real cluster).
    "spark.cleaner.periodicGC.interval": "15s",
    # List manifest file sets driver-side (local stat is microseconds);
    # the default threshold of 32 files turns every accumulated-table read
    # into a "listing leaf files" Spark job — serial round-loop latency.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
    # Generated-class cache (static; default 100 entries): one crawl round
    # compiles ~145 classes, so at 100 the LRU evicted each round's classes
    # before the next round could reuse them, and every round recompiled
    # (and re-JITted) ~130 of them.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    master: str | None = None,
    app_name: str = "lectura",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("LECTURA_MASTER", "local[*]")
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in _DEFAULTS.items():
        b = b.config(k, v)
    if shuffle_partitions is None:
        # local[N] → N reduce tasks, not the 200 default; AQE coalesces
        # further at runtime, skew-split grows the hot ones
        n = os.cpu_count() or 8
        if master.startswith("local[") and master[6:-1].isdigit():
            n = int(master[6:-1])
        shuffle_partitions = max(8, n)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
