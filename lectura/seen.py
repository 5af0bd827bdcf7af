"""Partitioned Bloom/cuckoo URL-seen set (SURVEY.md §2.3, D1–D6;
SEMANTICS.md §7).

Shards are disjoint hash ranges: `shard_id = pmod(xxhash64(url), n_shards)`
(JVM-side), one `(shard_id, bits, …)` row per shard. Both filter kinds run
ONE Spark path and differ only in their numpy kernel (`_size`, `_insert`,
`_probe` dispatch on `kind`; lectura/pure/bloomcore.py and cuckoocore.py):

- `shard_upsert` inserts urls into existing shard blobs (one cogroup on
  shard_id: a shard's url keys and its one blob row meet in a single
  task), or builds fresh shards (one `groupBy.applyInPandas`) when there
  are none yet — the same per-shard function either way.
- `shard_probe` adds `maybe_seen` to candidates, also one cogroup: a blob
  crosses the JVM↔Python boundary once per (shard, task), never once per
  candidate row.

The exact-set path (D4/D5) is the plain `left_anti` join the crawl runs
when it writes frontier(r+1) (`crawl.Crawler._next_frontier`); it is the only
seen filter a round applies, and the exact `seen` table doubles as the
oracle for this module's FPP bound (B:14).

Column reading for cuckoo shards: m_bits := bucket count, k := slots per
bucket (4). The cuckoo blob is self-describing (its header carries both).
Cuckoo costs ~2x the bits of bloom for ~8x lower FPP and supports DELETE
(`cuckoo_delete`); its overflow stash keeps no-false-negatives absolute
even past saturation. `bloom_merge` (D2) and `cuckoo_delete` belong to one
kind each.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lectura.pure import bloomcore, cuckoocore

FILTERS = ("bloom", "cuckoo")

SHARD_SCHEMA = (
    "shard_id int, bits binary, n_inserted long, m_bits long, k int, "
    "capacity long"
)
_SHARD_COLS = ["shard_id", "bits", "n_inserted", "m_bits", "k", "capacity"]


def _unknown(kind: str) -> ValueError:
    return ValueError(f"unknown seen filter {kind!r}; expected one of "
                      f"{FILTERS}")


def _size(kind: str, capacity: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k) columns of a fresh shard sized for `capacity` keys."""
    if kind == "bloom":
        return bloomcore.size_for(capacity, fpp)
    if kind == "cuckoo":
        return cuckoocore.size_for(capacity), cuckoocore.SLOTS
    raise _unknown(kind)


def _insert(kind: str, blob, m: int, k: int,
            h: np.ndarray) -> tuple[bytes, int]:
    """Insert key hashes into `blob` (None: a fresh m/k filter). Returns
    the new blob and the insert count (bloom: attempted inserts; cuckoo:
    the batch's distinct keys)."""
    if kind == "bloom":
        bits = bloomcore.build(h, m, k)
        if blob is not None:
            bits |= np.frombuffer(bytes(blob), dtype=np.uint8)
        return bits.tobytes(), len(h)
    if kind == "cuckoo":
        if blob is None:
            table, stash = cuckoocore.empty(m), []
        else:
            table, stash = cuckoocore.deserialize(blob)
        n =cuckoocore.insert_hashes(table, stash, h)
        return cuckoocore.serialize(table, stash), n
    raise _unknown(kind)


def _probe(kind: str, blob, m: int, k: int, h: np.ndarray) -> np.ndarray:
    """Boolean membership (True = possibly seen, False = definitely new)."""
    if kind == "bloom":
        return bloomcore.probe(h, blob, m, k)
    if kind == "cuckoo":
        table, stash = cuckoocore.deserialize(blob)
        return cuckoocore.probe(h, table, np.asarray(stash, dtype=np.uint64))
    raise _unknown(kind)


def fpp_est(kind: str, n, m, k) -> float:
    """Estimated FPP of a shard from its (n_inserted, m_bits, k) columns.
    bloom: (1 - e^(-k*n/m))^k; n counts attempted inserts (an upper bound
    on distinct keys), so the estimate is conservative. cuckoo: a probe
    compares 2k slots at `load` occupancy of 16-bit fingerprints."""
    n, m, k = float(n), float(m), float(k)
    if kind == "bloom":
        return (1.0 - math.exp(-k * n / m)) ** k
    if kind == "cuckoo":
        load = min(1.0, n / max(1.0, m * k))
        return 1.0 - (1.0 - 1.0 / 65535.0) ** (2 * k * load)
    raise _unknown(kind)


def with_shard(df: DataFrame, n_shards: int, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "shard_id", F.pmod(F.xxhash64(url_col), F.lit(n_shards)).cast("int")
    ).withColumn("url_key", F.xxhash64(url_col))


def shard_upsert(shards: DataFrame | None, urls: DataFrame, n_shards: int,
                 capacity_per_shard: int, fpp: float = 1e-3,
                 kind: str = "bloom") -> DataFrame:
    """D1 (+D2 fused): insert `urls` into the shard blobs, one output row
    per shard. `shards=None` builds fresh shards; otherwise one cogrouped
    Arrow pass per shard (the unfused build + union + merge shuffles the
    blob set twice and runs two Python passes).

    Shards with no new urls pass through untouched; shards not yet in the
    table are built fresh at (capacity_per_shard, fpp) sizing (B:6). When
    a blob exists, its recorded m/k govern (a resized filter keeps its
    larger sizing)."""
    m0, k0 = _size(kind, capacity_per_shard, fpp)

    def upsert(keys: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
        if keys.empty and old.empty:
            return pd.DataFrame(columns=_SHARD_COLS)
        if keys.empty:
            return old
        h = keys["url_key"].to_numpy(dtype=np.int64)
        if old.empty:
            sid, blob, n0 = int(keys["shard_id"].iloc[0]), None, 0
            m, k, cap = m0, k0, capacity_per_shard
        else:
            r = old.iloc[0]
            sid, blob, n0 = int(r["shard_id"]), r["bits"], int(r["n_inserted"])
            m, k, cap = int(r["m_bits"]), int(r["k"]), int(r["capacity"])
        bits, n = _insert(kind, blob, m, k, h)
        return pd.DataFrame(
            {"shard_id": [sid], "bits": [bits], "n_inserted": [n0 + n],
             "m_bits": [m], "k": [k], "capacity": [cap]}
        )

    keyed = with_shard(urls.select("url"), n_shards).groupBy("shard_id")
    if shards is None:
        none = pd.DataFrame()
        return keyed.applyInPandas(lambda keys: upsert(keys, none),
                                   SHARD_SCHEMA)
    return keyed.cogroup(shards.groupBy("shard_id")).applyInPandas(
        upsert, SHARD_SCHEMA)


def bloom_merge(shards: DataFrame) -> DataFrame:
    """D2: OR-combine same-shard bloom blobs across rounds."""

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


def shard_probe(cand: DataFrame, shards: DataFrame, n_shards: int,
                kind: str = "bloom") -> DataFrame:
    """D3: add `maybe_seen` to candidates (cogrouped on shard_id — joining
    the blob onto rows would ship |cand|×|blob| bytes through Arrow, which
    measured ~100 GB at a 10^5-URL round)."""
    if kind not in FILTERS:
        raise _unknown(kind)
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
        r = right.iloc[0]
        hit = _probe(kind, r["bits"], int(r["m_bits"]), int(r["k"]),
                     left["url_key"].to_numpy(dtype=np.int64))
        return left.assign(maybe_seen=hit)

    return (
        keyed.groupBy("shard_id")
        .cogroup(shards.groupBy("shard_id"))
        .applyInPandas(probe_group, out_schema)
    )


def cuckoo_delete(shards: DataFrame, urls: DataFrame,
                  n_shards: int) -> DataFrame:
    """Remove urls from a cuckoo seen set (the operation Bloom cannot do —
    e.g. forced re-crawl of expired pages). One cogrouped pass; callers
    must only delete previously-inserted urls (cuckoocore.delete)."""
    keyed = with_shard(urls.select("url"), n_shards)

    def del_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            return pd.DataFrame(columns=_SHARD_COLS)
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
