"""Partitioned Bloom URL-seen set (SURVEY.md §2.3, D1–D6; SEMANTICS.md §7).

Shards are disjoint hash ranges: `shard_id = pmod(xxhash64(url), n_shards)`
(JVM-side). Bits are built/merged per shard with numpy inside
`applyInPandas` (one output row per shard) and probed by joining candidates
to their shard blob (broadcast — shards total ≤ a few GB even at the 10^10
design point, and a round only touches shards with candidates) followed by
a vectorized membership UDF. The exact-set path (D4/D5) is the plain
`left_anti` join the crawl runs when it writes frontier(r+1)
(`crawl.Crawler.run_round`); it is the only seen filter a round applies,
and the exact `seen` table doubles as the oracle for this module's FPP
bound (B:14).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lectura.pure import bloomcore, cuckoocore

SHARD_SCHEMA = (
    "shard_id int, bits binary, n_inserted long, m_bits long, k int, "
    "capacity long"
)


def with_shard(df: DataFrame, n_shards: int, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "shard_id", F.pmod(F.xxhash64(url_col), F.lit(n_shards)).cast("int")
    ).withColumn("url_key", F.xxhash64(url_col))


def bloom_build(urls: DataFrame, n_shards: int, capacity_per_shard: int,
                fpp: float) -> DataFrame:
    """D1: urls df (any cols incl. `url`) -> one (shard_id, bits, …) row per
    shard. m/k sized from configured capacity + FPP (B:6)."""
    m_bits, k = bloomcore.size_for(capacity_per_shard, fpp)

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_key"].to_numpy(dtype=np.int64)
        bits = bloomcore.build(h, m_bits, k)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "bits": [bits.tobytes()],
                "n_inserted": [len(h)],
                "m_bits": [m_bits],
                "k": [k],
                "capacity": [capacity_per_shard],
            }
        )

    keyed = with_shard(urls.select("url"), n_shards)
    return keyed.groupBy("shard_id").applyInPandas(build_shard, SHARD_SCHEMA)


def bloom_merge(shards: DataFrame) -> DataFrame:
    """D2: OR-combine same-shard blobs across rounds."""

    def merge_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        m_bits = int(pdf["m_bits"].iloc[0])
        merged = bloomcore.merge(list(pdf["bits"]), m_bits)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "bits": [merged.tobytes()],
                "n_inserted": [int(pdf["n_inserted"].sum())],
                "m_bits": [m_bits],
                "k": [int(pdf["k"].iloc[0])],
                "capacity": [int(pdf["capacity"].max())],
            }
        )

    return shards.groupBy("shard_id").applyInPandas(merge_shard, SHARD_SCHEMA)


def bloom_upsert(shards: DataFrame, urls: DataFrame, n_shards: int,
                 capacity_per_shard: int, fpp: float) -> DataFrame:
    """D1+D2 fused: insert this round's urls into the existing shard blobs
    in ONE cogrouped Arrow pass (per shard: the url keys + the one blob
    row meet in a single task). The unfused path (build new shards, union
    with old, merge) shuffles the blob set twice and runs two Python
    passes; at bench scale the fused pass halves the dominant sink cost.

    Shards with no new urls pass through untouched; shards not yet in the
    table are built fresh at (capacity_per_shard, fpp) sizing. When a blob
    exists, its recorded m/k govern (a resized filter keeps its larger
    sizing)."""
    m_default, k_default = bloomcore.size_for(capacity_per_shard, fpp)
    keyed = with_shard(urls.select("url"), n_shards)

    def upsert(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty and right.empty:
            return pd.DataFrame(
                columns=["shard_id", "bits", "n_inserted", "m_bits", "k",
                         "capacity"]
            )
        if right.empty:
            sid = int(left["shard_id"].iloc[0])
            m, k, cap = m_default, k_default, capacity_per_shard
            base = bloomcore.empty_bits(m)
            n0 = 0
        else:
            sid = int(right["shard_id"].iloc[0])
            m = int(right["m_bits"].iloc[0])
            k = int(right["k"].iloc[0])
            cap = int(right["capacity"].iloc[0])
            base = np.frombuffer(bytes(right["bits"].iloc[0]),
                                 dtype=np.uint8).copy()
            n0 = int(right["n_inserted"].iloc[0])
        if not left.empty:
            h = left["url_key"].to_numpy(dtype=np.int64)
            base |= bloomcore.build(h, m, k)
            n0 += len(h)
        return pd.DataFrame(
            {"shard_id": [sid], "bits": [base.tobytes()],
             "n_inserted": [n0], "m_bits": [m], "k": [k],
             "capacity": [cap]}
        )

    return (
        keyed.groupBy("shard_id")
        .cogroup(shards.groupBy("shard_id"))
        .applyInPandas(upsert, SHARD_SCHEMA)
    )


def shard_stats(shards: DataFrame) -> DataFrame:
    """Per-shard health: estimated FPP from the standard Bloom formula
    (1 - e^(-k*n/m))^k plus a saturation flag. n_inserted counts attempted
    inserts (upper bound on distinct keys), so fpp_est is conservative.
    The configured FPP bound (B:6) holds only while n ≤ capacity — a crawl
    that outlives its sizing must detect this (VERDICT r1 #4) rather than
    let the filter silently degrade into an accept-nothing sieve."""
    n = F.col("n_inserted").cast("double")
    m = F.col("m_bits").cast("double")
    k = F.col("k").cast("double")
    return shards.select(
        "shard_id",
        "n_inserted",
        "capacity",
        F.pow(F.lit(1.0) - F.exp(-k * n / m), k).alias("fpp_est"),
        (F.col("n_inserted") > F.col("capacity")).alias("saturated"),
    )


def bloom_probe(cand: DataFrame, shards: DataFrame, n_shards: int) -> DataFrame:
    """D3: add `maybe_seen` to candidates.

    Implemented as a COGROUP on shard_id: each task receives one shard's
    candidate rows and that shard's single blob row, so a blob crosses the
    JVM↔Python boundary once per (shard, task) — never once per candidate
    row (joining the blob onto rows would ship |cand|×|blob| bytes through
    Arrow, which measured ~100 GB at a 10^5-URL round)."""
    keyed = with_shard(cand, n_shards)
    out_schema = T.StructType(
        list(keyed.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
    )

    def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series([], dtype=bool))
        if right.empty:
            return left.assign(maybe_seen=False)
        h = left["url_key"].to_numpy(dtype=np.int64)
        hit = bloomcore.probe(
            h,
            right["bits"].iloc[0],
            int(right["m_bits"].iloc[0]),
            int(right["k"].iloc[0]),
        )
        return left.assign(maybe_seen=hit)

    return (
        keyed.groupBy("shard_id")
        .cogroup(shards.groupBy("shard_id"))
        .applyInPandas(probe_group, out_schema)
    )


# --- cuckoo-filter backend (B:2 "Bloom/cuckoo"; lectura/pure/cuckoocore) ---
# Same sharding, same SHARD_SCHEMA, same cogrouped probe/upsert shapes as
# the Bloom backend so the crawl swaps backends with a config switch.
# Column reinterpretation for cuckoo shards: m_bits := bucket count,
# k := slots per bucket (4). The blob is self-describing (header carries
# both) — the columns exist for driver-side stats reads only.
# Extra over Bloom: DELETE support (cuckoo_delete) and ~8x lower FPP at
# ~2x the bits; the overflow stash keeps no-false-negatives absolute even
# past saturation.


def cuckoo_build(urls: DataFrame, n_shards: int,
                 capacity_per_shard: int) -> DataFrame:
    n_buckets = cuckoocore.size_for(capacity_per_shard)

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_key"].to_numpy(dtype=np.int64)
        table, stash = cuckoocore.build(h, n_buckets)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "bits": [cuckoocore.serialize(table, stash)],
                "n_inserted": [len(np.unique(h))],
                "m_bits": [n_buckets],
                "k": [cuckoocore.SLOTS],
                "capacity": [capacity_per_shard],
            }
        )

    keyed = with_shard(urls.select("url"), n_shards)
    return keyed.groupBy("shard_id").applyInPandas(build_shard, SHARD_SCHEMA)


def cuckoo_upsert(shards: DataFrame, urls: DataFrame, n_shards: int,
                  capacity_per_shard: int) -> DataFrame:
    """Fused insert-into-existing-shards, one cogrouped Arrow pass per
    shard (same shape as bloom_upsert)."""
    n_default = cuckoocore.size_for(capacity_per_shard)
    keyed = with_shard(urls.select("url"), n_shards)

    def upsert(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty and right.empty:
            return pd.DataFrame(
                columns=["shard_id", "bits", "n_inserted", "m_bits", "k",
                         "capacity"]
            )
        if right.empty:
            sid = int(left["shard_id"].iloc[0])
            table, stash = cuckoocore.empty(n_default), []
            cap, n0 = capacity_per_shard, 0
        else:
            sid = int(right["shard_id"].iloc[0])
            table, stash = cuckoocore.deserialize(right["bits"].iloc[0])
            cap = int(right["capacity"].iloc[0])
            n0 = int(right["n_inserted"].iloc[0])
        if not left.empty:
            h = left["url_key"].to_numpy(dtype=np.int64)
            n0 += cuckoocore.insert_hashes(table, stash, h)
        return pd.DataFrame(
            {"shard_id": [sid],
             "bits": [cuckoocore.serialize(table, stash)],
             "n_inserted": [n0], "m_bits": [table.shape[0]],
             "k": [cuckoocore.SLOTS], "capacity": [cap]}
        )

    return (
        keyed.groupBy("shard_id")
        .cogroup(shards.groupBy("shard_id"))
        .applyInPandas(upsert, SHARD_SCHEMA)
    )


def cuckoo_probe(cand: DataFrame, shards: DataFrame,
                 n_shards: int) -> DataFrame:
    """D3 with the cuckoo backend — identical cogrouped shape to
    bloom_probe (blob crosses Arrow once per task, never per row)."""
    keyed = with_shard(cand, n_shards)
    out_schema = T.StructType(
        list(keyed.schema.fields)
        + [T.StructField("maybe_seen", T.BooleanType())]
    )

    def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series([], dtype=bool))
        if right.empty:
            return left.assign(maybe_seen=False)
        h = left["url_key"].to_numpy(dtype=np.int64)
        table, stash = cuckoocore.deserialize(right["bits"].iloc[0])
        hit = cuckoocore.probe(h, table,
                               np.asarray(stash, dtype=np.uint64))
        return left.assign(maybe_seen=hit)

    return (
        keyed.groupBy("shard_id")
        .cogroup(shards.groupBy("shard_id"))
        .applyInPandas(probe_group, out_schema)
    )


def cuckoo_delete(shards: DataFrame, urls: DataFrame,
                  n_shards: int) -> DataFrame:
    """Remove urls from the seen set (the operation Bloom cannot do —
    e.g. forced re-crawl of expired pages). One cogrouped pass; callers
    must only delete previously-inserted urls (cuckoocore.delete)."""
    keyed = with_shard(urls.select("url"), n_shards)

    def del_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            return pd.DataFrame(
                columns=["shard_id", "bits", "n_inserted", "m_bits", "k",
                         "capacity"]
            )
        sid = int(right["shard_id"].iloc[0])
        table, stash = cuckoocore.deserialize(right["bits"].iloc[0])
        n0 = int(right["n_inserted"].iloc[0])
        if not left.empty:
            h = np.unique(left["url_key"].to_numpy(dtype=np.int64))
            removed = cuckoocore.delete(table, stash, h)
            n0 -= int(removed.sum())
        return pd.DataFrame(
            {"shard_id": [sid],
             "bits": [cuckoocore.serialize(table, stash)],
             "n_inserted": [n0], "m_bits": [table.shape[0]],
             "k": [cuckoocore.SLOTS],
             "capacity": [int(right["capacity"].iloc[0])]}
        )

    return (
        keyed.groupBy("shard_id")
        .cogroup(shards.groupBy("shard_id"))
        .applyInPandas(del_group, SHARD_SCHEMA)
    )
