"""ANN decade-scale evidence (similarity-search track): run the
composed IVF-PQ index (ANN4, vectorops.ivfpq_topk) and the exact
brute-force baseline (ANN0) over deterministic 64-dim vectors at two
sizes a decade apart (default 10^6 and 10^7), and report walls plus
recall@k of IVF-PQ against the exact top-k at BOTH sizes as one JSON
line.

What this evidences that the sf0.1 contract row cannot: the index's
cost structure at the scale where it matters — quantizer training is
bounded-state (train_mod subsamples), encoding is one Arrow-batched
numpy pass, and the probe scans only n_probe cells' codes — so the
probe wall should grow far slower than the decade while the recall row
stays meaningful. The exact scan is the honest comparator and also the
ground truth.

Vectors are family-structured (synth_vectors; hash lattice, no RNG):
row i = center(i // 16) + 0.05 * noise(i), where dim j of a lattice
vector is (pmod(xxhash64(key * dim + j, salt), 2001) - 1000) / 1000 —
each row has ~15 true neighbours at cosine ≈ 0.99. Each query is a
row's own vector, so the exact top-1 must be that id with cosine 1.0 —
a self-asserting plant at every scale.

Usage: python scripts/bench_ann_scale.py [--n-small 1000000]
           [--n-big 10000000] [--dim 64] [--k 10]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


FAMILY = 16  # rows per planted near-dup family


def synth_vectors(spark, n: int, dim: int):
    """Family-structured vectors (hash lattice, no RNG): row i =
    center(i // FAMILY) + 0.05 * noise(i). Uniform-random vectors have
    NO neighbor structure (all pairwise cosines concentrate near 0, so
    recall@k measures quantizer noise, not search quality — the reason
    every public ANN benchmark uses real or clustered data); the family
    model gives each row ~15 true neighbors at cosine ≈ 0.99 against a
    ~0 background, which is the regime an embedding near-dup /
    similarity index actually serves."""
    from pyspark.sql import functions as F

    rows = spark.range(0, n, numPartitions=64)

    def lattice(key, salt):
        return ((F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(2001))
                 - 1000) / 1000.0).cast("double")

    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: lattice((F.col("id") / FAMILY).cast("long") * dim + j,
                          "ctr")
        + 0.05 * lattice(F.col("id") * dim + j, "nz"),
    )
    return rows.select(F.col("id").alias("vec_id"), emb.alias("embedding"))


def run_point(spark, n: int, dim: int, k: int, qid: int,
              n_centroids: int, n_probe: int,
              n_queries: int = 5) -> dict:
    """Build the IVFADC index ONCE (the one-time cost a deployment
    amortizes), then serve `n_queries` planted queries against it —
    probe latency is the steady-state number; each probe's recall@k is
    scored against its own exact brute-force top-k."""
    from pyspark.sql import functions as F

    from lectura.vectorops import (brute_force_topk, build_ivfpq_index,
                                   ivfpq_query)

    t0 = time.time()
    df = synth_vectors(spark, n, dim).localCheckpoint()
    gen_sec = round(time.time() - t0, 1)

    t0 = time.time()
    centroids, books, enc = build_ivfpq_index(
        df, n_centroids=n_centroids,
        train_mod=max(1, n // 100_000))
    build_sec = round(time.time() - t0, 2)

    # queries = FAMILY-strided row vectors starting at qid, so each
    # lands in a different planted family (and usually a different cell)
    qids = [(qid + i * 97 * FAMILY) % n for i in range(n_queries)]
    qrows = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in df.filter(F.col("vec_id").isin(qids)).collect()}
    exact_secs, probe_secs, recalls = [], [], []
    for q in qids:
        qvec = qrows[q]
        t0 = time.time()
        exact = [(r["vec_id"], r["cosine"])
                 for r in brute_force_topk(df, qvec, k).collect()]
        exact_secs.append(time.time() - t0)
        assert exact[0][0] == q and exact[0][1] == 1.0, (q, exact[:3])
        t0 = time.time()
        approx = [r["vec_id"] for r in
                  ivfpq_query(centroids, books, enc, qvec, k,
                              n_probe=n_probe, rerank=10 * k).collect()]
        probe_secs.append(time.time() - t0)
        recalls.append(len(set(approx) & {i for i, _ in exact}) / k)
    return {"n": n, "gen_sec": gen_sec,
            "index_build_sec": build_sec,
            "exact_scan_sec_mean": round(sum(exact_secs) / len(qids), 2),
            "probe_sec_mean": round(sum(probe_secs) / len(qids), 2),
            "probe_sec_max": round(max(probe_secs), 2),
            "recall_at_k_mean": round(sum(recalls) / len(qids), 2),
            "n_queries": n_queries,
            "self_hit": True}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-small", type=int, default=1_000_000)
    ap.add_argument("--n-big", type=int, default=10_000_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--query-id", type=int, default=12345)
    ap.add_argument("--n-centroids", type=int, default=64)
    ap.add_argument("--n-probe", type=int, default=8)
    ap.add_argument("--master", default="local[32]")
    args = ap.parse_args()

    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--driver-memory 16g --driver-java-options "
        '"-XX:+ExplicitGCInvokesConcurrent -XX:+ParallelRefProcEnabled" '
        "pyspark-shell")
    from lectura.session import get_spark

    scratch = os.environ.get("LECTURA_SCRATCH", "/dev/shm")
    local_dir = os.path.join(scratch, f"lectura_ann_scale_{os.getpid()}")
    os.makedirs(local_dir, exist_ok=True)
    try:
        spark = get_spark(master=args.master, shuffle_partitions=64,
                          extra={"spark.ui.showConsoleProgress": "false",
                                 "spark.local.dir": local_dir})
        out = {"metric": "ann_ivfpq_scale", "dim": args.dim, "k": args.k,
               "n_centroids": args.n_centroids, "n_probe": args.n_probe,
               "points": []}
        for n in (args.n_small, args.n_big):
            out["points"].append(
                run_point(spark, n, args.dim, args.k, args.query_id,
                          args.n_centroids, args.n_probe))
        small, big = out["points"]
        out["build_wall_ratio"] = round(
            big["index_build_sec"] / small["index_build_sec"], 2)
        out["probe_wall_ratio"] = round(
            big["probe_sec_mean"] / max(small["probe_sec_mean"], 1e-9), 2)
        out["size_ratio"] = big["n"] / small["n"]
        ok = all(p["recall_at_k_mean"] >= 0.6 for p in out["points"])
        out["recall_ok"] = ok
        print(json.dumps(out))
        return 0 if ok else 1
    finally:
        shutil.rmtree(local_dir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
