"""Export-ladder scale evidence (VERDICT r4 #8 — the last unmeasured
decade this sandbox can reach): run the FULL export_corpus dedup ladder
(gates → exact fingerprint dedup → simhash banding → connected
components → winner join → write) over a synthetic text-table warehouse
at two sizes a decade apart (default 10^6 and 10^7 docs) and report
both walls + docs/s as ONE JSON line, with the wall ratio as the
sub-quadratic check: a quadratic ladder would cost ~100× at 10×; the
counted-cap banding + partial-agg groupBys should land near ~10×
(minus fixed job-latency amortization at the small point).

Corpus model — the regime the band_max_df cap exists for: web corpora
are boilerplate-heavy, so most docs' simhashes pile into a few thousand
HOT values (df ≈ 1000 here — parked-domain/calendar pages: identical
simhash, distinct rolling fingerprints) while true near-dup families
sit in small buckets. Without the cap the banding self-join is
quadratic on such data (Σ df² candidates); with it the hot buckets are
counted and dropped and the ladder stays linear. Uniform-RANDOM
signatures would be even worse (~n²/65536 candidates with NO bucket
over any sane cap — 4×16 pigeonhole banding's true worst case) but are
not what extraction produces; the template model is the honest scale
story and makes the cap's n_hot stat part of the reported evidence.

Deterministic plants, exactly asserted at BOTH sizes (correctness
oracles live in tests/contract; this measures throughput at scale):
- per 100-id block, ids ≡ 0,1 share a fingerprint → one exact-dup pair
  (survivors drop by n/100);
- ids ≡ 2,3,4 share a simhash base with ≤2 flipped bits → one 3-doc
  near-dup cluster per block (drop 2·n/100 more);
- ids ≡ 5..99 carry template simhashes (n/1000 templates × ~1000 docs).
Planted sim values set bit 0 of every 16-bit lane while template and
exact-dup values clear it (variant flips use bits 1 and 20), so a
planted bucket can NEVER collide with a hot template bucket — the cap
drops boilerplate buckets only and the survivor count stays exact
arithmetic: n − 3·(n div 100).

The big point additionally measures the C9 incremental-refresh
composition: append a 1% crawl increment, refresh with
`export_corpus_incremental` (S17 append-only changelog fast path),
and prove equivalence against a fresh full export at the same HEAD
by order-independent table signature (count + sum of per-row
xxhash64) — the corpus-refresh operation a 100-TB deployment
actually runs, evidenced at the largest scale this sandbox reaches.

Usage: python scripts/bench_export_scale.py [--n-small 1000000]
           [--n-big 10000000] [--chars 150] [--band-max-df 256]
           [--inc-delta N]
"""

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LANE_LSB = 0x0001000100010001  # bit 0 of each 16-bit simhash lane


def _plant_df(spark, start: int, end: int, chars: int,
              n_templates: int):
    """Planted-dup rows for ids [start, end) — shared by the base
    table and the incremental-delta append (same per-id formulas, so
    every 100-aligned block carries exactly one exact-dup pair and one
    3-doc near-dup cluster regardless of where the range starts).

    All columns are JVM expressions of `id` (no Python): the export
    treats fingerprint/simhash as opaque longs, so planting dup
    structure in them directly benches the ladder without a 10^7-doc
    Python enrichment pass; `text` is a ~`chars`-byte filler that makes
    the winner join + write move realistic bytes."""
    from pyspark.sql import functions as F

    ids = spark.range(start, end, numPartitions=64)
    r = F.col("id") % 100
    block = F.col("id") - r
    fingerprint = F.when(r == 1, F.xxhash64(block)) \
                   .otherwise(F.xxhash64(F.col("id")))
    # planted near-dup base: bit 0 of every lane SET
    sim_base = F.xxhash64(block + 2, F.lit("simbase")) \
        .bitwiseOR(F.lit(LANE_LSB))
    # boilerplate template / exact-dup sims: bit 0 of every lane CLEAR
    even = lambda c: c.bitwiseAND(F.lit(~LANE_LSB))  # noqa: E731
    template = even(F.xxhash64(F.pmod(F.col("id"), F.lit(n_templates)),
                               F.lit("tmpl")))
    simhash = (
        F.when(r == 2, sim_base)
        .when(r == 3, sim_base.bitwiseXOR(F.lit(2)))          # bit 1
        .when(r == 4, sim_base.bitwiseXOR(F.lit(1 << 20)))    # bit 20
        .when(r <= 1, even(F.xxhash64(block, F.lit("exdup"))))
        .otherwise(template)
    )
    text = F.concat(
        F.lit("doc "), F.col("id").cast("string"), F.lit(" "),
        F.repeat(F.lit("lorem ipsum dolor sit amet "),
                 max(1, chars // 27)),
    )
    df = ids.select(
        F.format_string("http://h%d.example/p%d",
                        F.pmod(F.col("id"), F.lit(10_000)),
                        F.col("id")).alias("url"),
        text.alias("text"),
        F.lit(100).alias("n_tokens"),
        F.lit(0.9).alias("quality"),
        F.lit("en").alias("lang_guess"),
        fingerprint.alias("fingerprint"),
        simhash.alias("simhash"),
    )
    return df


def synth_text_table(spark, wh, n: int, chars: int) -> None:
    """Write the base `text` table of n docs with planted dup families
    (hot templates sized n//1000 — the boilerplate regime the
    band_max_df cap exists for)."""
    wh.overwrite("text",
                 _plant_df(spark, 0, n, chars, max(1, n // 1000)))


def run_point(spark, root: str, n: int, chars: int,
              band_max_df: int | None) -> dict:
    from lectura.export import export_corpus
    from lectura.tables import Warehouse

    wh = Warehouse(root, spark)
    t0 = time.time()
    synth_text_table(spark, wh, n, chars)
    gen_sec = round(time.time() - t0, 1)
    t0 = time.time()
    stats = export_corpus(wh, min_tokens=20, max_hamming=3,
                          band_max_df=band_max_df)
    wall = round(time.time() - t0, 2)
    # plant arithmetic: each 100-block loses 1 exact dup + 2 near dups
    expected = n - 3 * (n // 100)
    assert stats["n_docs"] == expected, (stats, expected)
    # the boilerplate cap must actually have engaged (the scale story)
    assert stats["n_hot_buckets_dropped"] > 0, stats
    return {"n": n, "gen_sec": gen_sec, "export_wall_sec": wall,
            "docs_per_sec": round(n / wall, 1),
            "n_docs_out": stats["n_docs"],
            "n_hot_buckets_dropped": stats["n_hot_buckets_dropped"]}


def _tbl_sig(df) -> tuple:
    """Order-independent table signature: (row count, sum of per-row
    xxhash64 over every column, name-sorted). One scan, no shuffle."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    # decimal(38,0) accumulator: 10^7 64-bit terms overflow a long sum
    # under ANSI mode
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def run_incremental(spark, wh, n: int, chars: int,
                    band_max_df: int | None, delta: int) -> dict:
    """The C9 composition at the decade point: append a `delta`-doc
    crawl increment (same plant recipe — template pool stays the base
    table's, so the hot buckets stay hot), refresh via
    export_corpus_incremental (the S17 append-only changelog fast
    path), and prove at-scale equivalence by running a fresh FULL
    export at the same HEAD and comparing order-independent table
    signatures bit-for-bit."""
    from lectura.export import export_corpus, export_corpus_incremental

    assert delta % 100 == 0, "delta must be 100-block aligned"
    t0 = time.time()
    wh.append("text",
              _plant_df(spark, n, n + delta, chars, max(1, n // 1000)))
    append_sec = round(time.time() - t0, 1)

    t0 = time.time()
    inc = export_corpus_incremental(wh, min_tokens=20, max_hamming=3,
                                    band_max_df=band_max_df)
    inc_wall = round(time.time() - t0, 2)
    total = n + delta
    expected = total - 3 * (total // 100)
    assert inc["n_docs"] == expected, (inc, expected)
    assert inc["n_changed"] == delta, inc
    # append-only NEW urls: min(url) winners never move to an old loser
    assert inc["n_promoted_fetched"] == 0, inc

    t0 = time.time()
    full = export_corpus(wh, min_tokens=20, max_hamming=3,
                         band_max_df=band_max_df,
                         out_table="train_docs_fullchk")
    full_wall = round(time.time() - t0, 2)
    assert full["n_docs"] == expected, (full, expected)
    sig_inc = _tbl_sig(wh.read("train_docs"))
    sig_full = _tbl_sig(wh.read("train_docs_fullchk"))
    assert sig_inc == sig_full, (sig_inc, sig_full)
    return {"n_base": n, "n_delta": delta, "append_sec": append_sec,
            "incremental_wall_sec": inc_wall,
            "full_reexport_wall_sec": full_wall,
            "speedup_vs_full": round(full_wall / inc_wall, 2),
            "n_docs_out": inc["n_docs"],
            "equivalent_to_full": True}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-small", type=int, default=1_000_000)
    ap.add_argument("--n-big", type=int, default=10_000_000)
    ap.add_argument("--chars", type=int, default=150)
    ap.add_argument("--band-max-df", type=int, default=256)
    ap.add_argument("--inc-delta", type=int, default=None,
                    help="incremental-refresh append size at the big "
                         "point (default n_big // 100); 0 disables")
    ap.add_argument("--master", default="local[32]")
    args = ap.parse_args()
    for n in (args.n_small, args.n_big):
        if n % 100:
            ap.error(f"--n-small/--n-big must be multiples of 100, got {n}: "
                     "the expected survivor count n - 3*(n div 100) "
                     "assumes whole 100-id plant blocks")

    # self-sufficient heap sizing (the 10^7 point OOMs the 1 g default)
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--driver-memory 16g --driver-java-options "
        '"-XX:+ExplicitGCInvokesConcurrent -XX:+ParallelRefProcEnabled" '
        "pyspark-shell")
    from lectura.session import get_spark

    spark = get_spark(master=args.master, shuffle_partitions=64,
                      extra={"spark.ui.showConsoleProgress": "false"})
    scratch = os.environ.get("LECTURA_SCRATCH", "/dev/shm")
    out: dict = {"metric": "export_dedup_ladder_scale",
                 "band_max_df": args.band_max_df, "points": []}
    from lectura.tables import Warehouse

    for n in (args.n_small, args.n_big):
        root = os.path.join(scratch, f"lectura_export_scale_{n}")
        try:
            out["points"].append(
                run_point(spark, root, n, args.chars, args.band_max_df))
            if n == args.n_big:
                delta = (args.inc_delta if args.inc_delta is not None
                         else n // 100)
                if delta:
                    out["incremental"] = run_incremental(
                        spark, Warehouse(root, spark), n, args.chars,
                        args.band_max_df, delta)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    small, big = out["points"]
    ratio = round(big["export_wall_sec"] / small["export_wall_sec"], 2)
    size_ratio = big["n"] / small["n"]
    out["wall_ratio"] = ratio
    out["size_ratio"] = size_ratio
    # sub-quadratic check: quadratic would be ~size_ratio² (100× at a
    # decade); require the measured ratio stays well under that
    out["subquadratic_ok"] = ratio < size_ratio * 3
    print(json.dumps(out))
    return 0 if out["subquadratic_ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
