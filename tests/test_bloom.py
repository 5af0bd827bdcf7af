"""D1–D3 bloom subsystem: no false negatives ever, FPP ≤ bound, merge,
Spark build/probe round-trip (SURVEY.md §5.3)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lectura.pure import bloomcore


def test_sizing_math():
    m, k = bloomcore.size_for(10**6, 1e-3)
    assert 14.3 < m / 10**6 < 14.5  # ~14.38 bits/key at 1e-3
    assert k == 10


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(-(2**63), 2**63 - 1), max_size=500))
def test_no_false_negatives(hashes):
    h = np.array(hashes, dtype=np.int64)
    m, k = bloomcore.size_for(max(len(h), 16), 1e-3)
    bits = bloomcore.build(h, m, k)
    assert bloomcore.probe(h, bits, m, k).all()


def test_fpp_bound():
    rng = np.random.default_rng(7)
    n = 20_000
    h = rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
    m, k = bloomcore.size_for(n, 1e-3)
    bits = bloomcore.build(h, m, k)
    probe = rng.integers(-(2**63), 2**63 - 1, size=200_000, dtype=np.int64)
    fpp = bloomcore.probe(probe, bits, m, k).mean()
    assert fpp <= 1.5e-3, fpp  # ≤ 1.5× configured bound (B:14)


def test_merge_is_union():
    rng = np.random.default_rng(11)
    a = rng.integers(-(2**63), 2**63 - 1, size=1000, dtype=np.int64)
    b = rng.integers(-(2**63), 2**63 - 1, size=1000, dtype=np.int64)
    m, k = bloomcore.size_for(4000, 1e-3)
    merged = bloomcore.merge(
        [bloomcore.build(a, m, k).tobytes(), bloomcore.build(b, m, k).tobytes()], m
    )
    both = np.concatenate([a, b])
    assert bloomcore.probe(both, merged, m, k).all()


def test_merge_size_mismatch_rejected():
    with pytest.raises(ValueError):
        bloomcore.merge([b"\x00" * 8, b"\x00" * 16], 64)


def test_spark_build_probe_merge(spark):
    """Spark bloom over urls: every inserted url probes True; FPP on
    held-out urls ≤ 1.5× bound; exact anti-join agrees on definite-new."""
    from pyspark.sql import functions as F
    from lectura.seen import bloom_merge, shard_probe, shard_upsert

    n_shards, fpp = 8, 1e-3
    urls = spark.range(0, 5000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url")
    )
    held_out = spark.range(5000, 105000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url")
    )
    shards = shard_upsert(None, urls, n_shards, 5000, fpp).cache()
    assert shards.count() == n_shards
    probed = shard_probe(urls, shards, n_shards)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # no false negatives
    fp = shard_probe(held_out, shards, n_shards).filter(F.col("maybe_seen")).count()
    assert fp / 100000 <= 1.5 * fpp, fp
    # merge with a second batch still finds both
    urls2 = spark.range(200000, 201000).select(
        F.concat(F.lit("http://x.example/"), F.col("id").cast("string")).alias("url")
    )
    merged = bloom_merge(
        shards.unionByName(shard_upsert(None, urls2, n_shards, 5000, fpp)))
    assert (
        shard_probe(urls.unionByName(urls2), merged, n_shards)
        .filter(~F.col("maybe_seen")).count() == 0
    )
    # fused upsert (the round-loop path) must produce bit-identical shards
    # to the unfused build+merge
    upserted = shard_upsert(shards, urls2, n_shards, 5000, fpp)
    got = {r["shard_id"]: (bytes(r["bits"]), r["n_inserted"], r["m_bits"],
                           r["k"]) for r in upserted.collect()}
    want = {r["shard_id"]: (bytes(r["bits"]), r["n_inserted"], r["m_bits"],
                            r["k"]) for r in merged.collect()}
    assert got == want
    shards.unpersist()


def _shard_keys(urls, n_shards):
    """{shard_id: int64 xxhash64 keys} collected from Spark."""
    from pyspark.sql import functions as F

    rows = urls.select(
        F.pmod(F.xxhash64("url"), F.lit(n_shards)).cast("int").alias("sid"),
        F.xxhash64("url").alias("h"),
    ).collect()
    out: dict[int, list[int]] = {}
    for r in rows:
        out.setdefault(r.sid, []).append(r.h)
    return {s: np.array(h, dtype=np.int64) for s, h in out.items()}


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_shard_upsert_matches_pure_core(spark, kind):
    """The one shard path is the pure kernel per shard: every blob that
    shard_upsert(None, urls) writes equals the pure core's build over that
    shard's keys, and a two-step upsert replays the same kernel — bloom
    bytes equal a one-shot build, cuckoo has no false negatives."""
    from pyspark.sql import functions as F

    from lectura.pure import cuckoocore
    from lectura.seen import shard_probe, shard_upsert

    n_shards, cap, fpp = 8, 600, 1e-3
    urls = spark.range(3000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 37).cast("string"),
                 F.lit(".example/q/"), F.col("id").cast("string")).alias("url")
    )

    def pure_build(h):
        if kind == "bloom":
            m, k = bloomcore.size_for(cap, fpp)
            return bloomcore.build(h, m, k).tobytes()
        return cuckoocore.serialize(
            *cuckoocore.build(h, cuckoocore.size_for(cap)))

    built = shard_upsert(None, urls, n_shards, cap, fpp, kind).collect()
    keys = _shard_keys(urls, n_shards)
    assert sorted(r["shard_id"] for r in built) == sorted(keys)
    for r in built:
        assert bytes(r["bits"]) == pure_build(keys[r["shard_id"]])
        assert r["capacity"] == cap
        assert r["n_inserted"] == len(np.unique(keys[r["shard_id"]]))

    first = urls.filter(F.col("url").endswith("7"))
    rest = urls.subtract(first)
    step = shard_upsert(shard_upsert(None, first, n_shards, cap, fpp, kind),
                        rest, n_shards, cap, fpp, kind).cache()
    if kind == "bloom":
        assert ({r["shard_id"]: bytes(r["bits"]) for r in step.collect()}
                == {r["shard_id"]: bytes(r["bits"]) for r in built})
    else:
        assert (shard_probe(urls, step, n_shards, kind)
                .filter(~F.col("maybe_seen")).count() == 0)
    step.unpersist()


def test_unknown_filter_kind_rejected(spark):
    from lectura.config import CrawlConfig
    from lectura.seen import shard_probe, shard_upsert

    urls = spark.createDataFrame([("http://a.example/",)], "url string")
    with pytest.raises(ValueError, match="unknown seen filter"):
        shard_upsert(None, urls, 2, 1024, kind="Cuckoo")
    with pytest.raises(ValueError, match="unknown seen filter"):
        shard_probe(urls, urls, 2, kind="Cuckoo")
    with pytest.raises(ValueError, match="bloom"):
        CrawlConfig(seen_filter="Cuckoo")
