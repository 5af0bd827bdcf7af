"""Crawl-path decade-scale bench (r5): the two largest unmeasured
decades this sandbox can reach on the NORTH-RULE path itself
(URLs scheduled+extracted — BASELINE.json metric).

Phase `schedule` — the frontier-scheduling core (F1–F5: politeness
budget join → salted per-host rank → global deterministic cap) over
10^8 synthetic frontier candidates with exact planted arithmetic:

  * 10^6 hosts, one mega-host owning 20% of all candidates (the skew
    case host-salting exists for), every other host ~80 candidates;
  * no host declares a delay ≠ default ⇒ per-host budget is exactly
    floor(round_seconds/default_delay) = 12 ⇒ kept = 12 × 10^6 rows;
  * cap 10^7 < kept ⇒ the distributed prefix-rank path schedules
    EXACTLY the cap. Asserted: count == cap, per-host ≤ 12, mega == 12.

  The stage is JVM except prefix_rank's narrow Arrow rank pass over
  the kept rows (≤ budget×hosts ≪ candidates). Legs run as
  subprocesses on the SAME parquet input; local[8]→local[32] is the
  saturated pair on this VM (documented hypervisor knee ~8 runnable
  procs — BENCH/BASELINE.md scaling ladder); the flat-zone gate pair
  remains bench.py's local[1]→local[4].

Phase `round` — a full crawl (schedule → as-of fetch join → pandas-UDF
extract → sinks) over a 10^7-URL / ~1 KB-page WARC corpus, one decade
above the 10^6-URL headline recipe, at an n/4 round cap (2.5M at 10^7 —
12× the headline's). Reports urls/s for the whole pipeline through the
spark-submit entry (`python -m lectura.crawl --corpus`).

Usage:
  python scripts/bench_crawl_scale.py --phase schedule [--n 100000000]
  python scripts/bench_crawl_scale.py --phase round    [--n 10000000]

One JSON line per phase; artifacts land in BENCH/ by redirecting stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

JVM = ('--driver-memory 24g --driver-java-options '
       '"-XX:+ExplicitGCInvokesConcurrent -XX:+ParallelRefProcEnabled" '
       'pyspark-shell')

MEGA_FRAC = 0.2


def _n_hosts(n: int) -> int:
    # ~80 candidates per normal host at any n (10^8 -> 10^6 hosts)
    return max(100, n // 100)


def _env() -> dict:
    """Leg subprocess env. LECTURA_EVLOG=<dir> turns the Spark event log
    on for every leg (per-job/stage timings for profiling runs)."""
    env = dict(os.environ)
    confs = ""
    evlog = os.environ.get("LECTURA_EVLOG")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        confs = ("--conf spark.eventLog.enabled=true "
                 f"--conf spark.eventLog.dir={evlog} "
                 "--conf spark.eventLog.compress=false ")
    env["PYSPARK_SUBMIT_ARGS"] = confs + JVM
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    return env


def _steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


# ---------------------------------------------------------------------------
# schedule phase
# ---------------------------------------------------------------------------

def gen_schedule_input(n: int, root: str) -> None:
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", JVM)
    from pyspark.sql import functions as F

    from lectura.session import get_spark

    spark = get_spark(master="local[32]", app_name="crawl-scale-gen",
                      shuffle_partitions=64,
                      extra={"spark.local.dir": os.path.join(root, "sl")})
    t0 = time.time()
    mega = int(n * MEGA_FRAC)
    n_hosts = _n_hosts(n)
    ids = spark.range(n)
    host_id = (F.when(F.col("id") < mega, F.lit(0))
               .otherwise(F.pmod(F.col("id"), F.lit(n_hosts - 1)) + 1))
    hs = host_id.cast("string")
    cand = ids.select(
        F.concat(F.lit("http://h"), hs, F.lit(".example/p"),
                 F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), hs, F.lit(".example")).alias("host"),
        # host-reverse sort key shape (U3); only its ORDER matters here
        F.concat(F.lit("example,h"), hs, F.lit("/p"),
                 F.col("id").cast("string")).alias("hrk"),
        F.concat(F.lit("/p"), F.col("id").cast("string")).alias("path_q"),
        F.lit(1).alias("depth"),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(100_000)) / 100_000.0
         ).alias("score"),
        F.current_timestamp().alias("discovered_ts"),
        F.lit(None).cast("string").alias("src_url"),
    )
    cand.write.mode("overwrite").parquet(os.path.join(root, "cand"))
    hosts = spark.range(n_hosts).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.when(F.pmod(F.col("id"), F.lit(2)) == 0, F.lit(5.0))
        .otherwise(F.lit(None).cast("double")).alias("crawl_delay"),
    )
    hosts.write.mode("overwrite").parquet(os.path.join(root, "host_delay"))
    hosts.select("host", F.lit(0).alias("last_round")).write.mode(
        "overwrite").parquet(os.path.join(root, "host_state"))
    print(f"gen_sec={time.time() - t0:.1f}", flush=True)
    spark.stop()


def schedule_leg(master: str, root: str, cap: int) -> None:
    """One timed leg: read candidates, run the F1–F5 pipeline, WRITE the
    scheduled set (the real round materializes it), assert the planted
    arithmetic. Prints LEG_RESULT {json}."""
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", JVM)  # set by _env()
    from pyspark.sql import functions as F

    from lectura.config import CrawlConfig
    from lectura.frontier import rank_per_host, schedule, with_budget
    from lectura.session import get_spark

    cores = int(master.split("[")[1].rstrip("]"))
    extra = {"spark.local.dir": os.path.join(root, "sl"),
             "spark.ui.showConsoleProgress": "false"}
    spark = get_spark(master=master, app_name="crawl-scale-sched",
                      shuffle_partitions=max(8, 2 * cores),
                      extra=extra)
    cfg = CrawlConfig(max_round_urls=cap)  # budget = 60/5 = 12 per host
    cand = spark.read.parquet(os.path.join(root, "cand"))
    host_delay = spark.read.parquet(os.path.join(root, "host_delay"))
    host_state = spark.read.parquet(os.path.join(root, "host_state"))
    out = os.path.join(root, f"sched_{cores}")
    t0 = time.time()
    b = with_budget(cand, host_delay, host_state, cfg, round_no=1,
                    hint=lambda df: df)  # 10^6-host dims: AQE picks
    r = rank_per_host(b, cfg.salt_buckets, max_rank=cfg.max_per_host)
    s = schedule(r, cfg)
    s.write.mode("overwrite").parquet(out)
    wall = time.time() - t0
    got = spark.read.parquet(out)
    n_sched = got.count()
    per_host = got.groupBy("host").count()
    mx = per_host.agg(F.max("count")).collect()[0][0]
    mega = per_host.filter(F.col("host") == "h0.example").collect()
    assert n_sched == cap, (n_sched, cap)
    assert mx <= 12, mx
    assert mega and mega[0]["count"] == 12, mega
    rng = got.agg(F.min("sched_rank"), F.max("sched_rank")).collect()[0]
    assert (rng[0], rng[1]) == (1, cap), rng
    print("LEG_RESULT " + json.dumps(
        {"master": master, "wall_sec": round(wall, 1),
         "cand_per_sec": round(cand.count() / wall),
         "n_scheduled": n_sched}), flush=True)
    spark.stop()


def run_schedule(n: int, cap: int, root: str) -> dict:
    assert cap < 12 * _n_hosts(n), "cap must bind (kept = 12/host)"
    if not os.path.exists(os.path.join(root, "cand", "_SUCCESS")):
        gen_schedule_input(n, root)
    legs = {}
    for master in ("local[2]", "local[8]", "local[32]"):
        s0, t0 = _steal()
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--phase",
             "schedule-leg", "--master", master, "--root", root,
             "--cap", str(cap)],
            capture_output=True, text=True, env=_env(), cwd=REPO)
        s1, t1 = _steal()
        for line in p.stdout.splitlines():
            if line.startswith("LEG_RESULT "):
                leg = json.loads(line[len("LEG_RESULT "):])
                leg["steal_pct"] = round(100 * (s1 - s0) / (t1 - t0), 2)
                legs[master] = leg
                break
        else:
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
            raise RuntimeError(f"schedule leg failed at {master}")
    thr2 = legs["local[2]"]["cand_per_sec"]
    thr8 = legs["local[8]"]["cand_per_sec"]
    thr32 = legs["local[32]"]["cand_per_sec"]
    return {"phase": "schedule", "n_candidates": n, "cap": cap,
            "n_hosts": _n_hosts(n), "mega_frac": MEGA_FRAC,
            "planted_kept": 12 * _n_hosts(n), "legs": legs,
            "eff_2_to_8": round((thr8 / thr2) / 4.0, 3),
            "eff_8_to_32_saturated": round((thr32 / thr8) / 4.0, 3)}


# ---------------------------------------------------------------------------
# round phase
# ---------------------------------------------------------------------------

def run_round(n: int, root: str) -> dict:
    corpus = os.path.join(root, "corpus")
    if not os.path.exists(os.path.join(corpus, "pages", "_SUCCESS")):
        os.environ.setdefault("PYSPARK_SUBMIT_ARGS", JVM)
        from lectura.config import CrawlConfig
        from lectura.session import get_spark
        from lectura.synth import SynthParams
        from lectura.synth_spark import write_corpus

        spark = get_spark(master="local[32]", app_name="crawl-scale-gen",
                          shuffle_partitions=64,
                          extra={"spark.local.dir": os.path.join(root, "sl")})
        t0 = time.time()
        p = SynthParams(n_urls=n, n_hosts=max(50, n // 100),
                        n_seeds=max(200, n // 5), body_kb=1.0,
                        with_text=False)
        write_corpus(spark, p, corpus, CrawlConfig().host_buckets)
        gen_sec = round(time.time() - t0, 1)
        print(f"gen_sec={gen_sec}", flush=True)
        spark.stop()
    else:
        gen_sec = None

    wh = os.path.join(root, "wh")
    shutil.rmtree(wh, ignore_errors=True)
    s0, t0 = _steal()
    cmd = [sys.executable, "-m", "lectura.crawl",
           "--master", "local[32]", "--corpus", corpus, "--warehouse", wh,
           "--rounds", "3", "--max-round-urls", str(n // 4),
           "--max-per-host", "50000", "--default-delay", "0.001",
           "--round-seconds", "300", "--seen-capacity", "20000000",
           "--use-bloom"]
    env = _env()
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, "sl")
    p = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       cwd=REPO)
    s1, t1 = _steal()
    lines = [json.loads(x) for x in p.stdout.splitlines()
             if x.startswith("{")]
    if p.returncode != 0 or not lines or "crawl_s" not in lines[-1]:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise RuntimeError("round phase crawl failed")
    *rounds, summary = lines
    shutil.rmtree(wh, ignore_errors=True)
    return {"phase": "round", "n_urls": n, "body_kb": 1.0,
            "gen_sec": gen_sec, **summary,
            "rounds": {f"round{s['round']}": s["seconds"] for s in rounds},
            "urls_per_sec": round((summary["scheduled"]
                                   + summary["extracted"])
                                  / summary["crawl_s"], 1),
            "steal_pct": round(100 * (s1 - s0) / (t1 - t0), 2)}


# ---------------------------------------------------------------------------
# seen phase (D1/D3 at the 10^8 decade)
# ---------------------------------------------------------------------------

def run_seen(n: int, root: str, backend: str = "bloom") -> dict:
    """Bloom URL-seen set one decade above its test scale: build shards
    over 10^8 urls, probe 10^7 candidates — half planted members (zero
    false negatives asserted), half novel (FPP bound asserted at 2x the
    configured 1e-3). Shard sizing follows the 10^10 design note
    (BENCH/BASELINE.md): pmod(xxhash64) sharding, capacity from load."""
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", JVM)
    from pyspark.sql import functions as F

    from lectura.seen import shard_probe, shard_upsert
    from lectura.session import get_spark

    n_shards = 64
    cap = int(n / n_shards / 0.8)  # ~0.8 load factor
    fpp = 1e-3
    spark = get_spark(master="local[32]", app_name="crawl-scale-seen",
                      shuffle_partitions=64,
                      extra={"spark.local.dir": os.path.join(root, "sl"),
                             "spark.ui.showConsoleProgress": "false"})

    def urls_of(ids):
        return ids.select(F.concat(
            F.lit("http://h"), F.pmod(F.col("id"), F.lit(1_000_000))
            .cast("string"), F.lit(".example/p"),
            F.col("id").cast("string")).alias("url"))

    seen_urls = urls_of(spark.range(n))
    t0 = time.time()
    shards = shard_upsert(None, seen_urls, n_shards, cap, fpp, backend)
    shards.write.mode("overwrite").parquet(os.path.join(root, "shards"))
    build_s = time.time() - t0

    n_probe = n // 10
    members = urls_of(spark.range(0, n, 20)).withColumn(
        "planted", F.lit(True))
    novel = urls_of(spark.range(n, n + n_probe // 2)).withColumn(
        "planted", F.lit(False))
    cand = members.unionByName(novel)
    cand.write.mode("overwrite").parquet(os.path.join(root, "probe_in"))
    cand = spark.read.parquet(os.path.join(root, "probe_in"))
    sh = spark.read.parquet(os.path.join(root, "shards"))
    t1 = time.time()
    probed = shard_probe(cand, sh, n_shards, backend)
    agg = (probed.groupBy("planted")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("maybe_seen").cast("long")).alias("hits"))
           .collect())
    probe_s = time.time() - t1
    by = {bool(r.planted): (int(r.n), int(r.hits)) for r in agg}
    n_mem, mem_hits = by[True]
    n_nov, nov_hits = by[False]
    assert mem_hits == n_mem, (mem_hits, n_mem)  # zero false negatives
    fpp_meas = nov_hits / n_nov
    # cuckoo's 16-bit fingerprints sit far below the bloom bound
    assert fpp_meas <= 2 * fpp, fpp_meas
    spark.stop()
    return {"phase": "seen", "backend": backend, "n_seen": n,
            "n_shards": n_shards,
            "capacity_per_shard": cap, "fpp_configured": fpp,
            "build_sec": round(build_s, 1),
            "build_urls_per_sec": round(n / build_s),
            "n_probed": n_mem + n_nov,
            "probe_sec": round(probe_s, 1),
            "probe_urls_per_sec": round((n_mem + n_nov) / probe_s),
            "false_negatives": n_mem - mem_hits,
            "fpp_measured": round(fpp_meas, 6)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--phase", required=True,
                    choices=["schedule", "schedule-leg", "round", "seen"])
    ap.add_argument("--n", type=int, default=None)
    ap.add_argument("--cap", type=int, default=None)
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--root", default="/dev/shm/lectura_crawl_scale")
    ap.add_argument("--backend", default="bloom",
                    choices=["bloom", "cuckoo"])
    args = ap.parse_args()
    os.makedirs(args.root, exist_ok=True)
    if args.phase == "schedule-leg":
        schedule_leg(args.master, args.root, args.cap)
        return
    if args.phase == "schedule":
        n = args.n or 100_000_000
        out = run_schedule(n, args.cap or n // 10, args.root)
    elif args.phase == "seen":
        out = run_seen(args.n or 100_000_000, args.root, args.backend)
    else:
        out = run_round(args.n or 10_000_000, args.root)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
