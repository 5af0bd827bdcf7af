"""Crawl benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_warc48k --seed 1 \
        --seconds 30 --trace 0

Run from the root of a checkout. It builds the workload's inputs from the
seed, sets up, runs the measured closed loop for ``--seconds``, checks
every job's output and prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
ones. Everything it writes stays under ``perfbench/_work`` and is removed
at exit, except the per-seed output digests kept to compare runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DRIVER_MEMORY = "3g"
# bench.py's GC flags; -UsePerfData keeps the JVM from writing its
# counters file under /tmp, outside the checkout
JVM_OPTIONS = ("-XX:+ExplicitGCInvokesConcurrent -XX:+ParallelRefProcEnabled "
               "-XX:-UsePerfData")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def set_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} --driver-java-options "
        f'"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}" pyspark-shell')
    # spark-submit first starts a short-lived launcher JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("LECTURA_TRACE", None)
    # PySpark workers import the program's modules too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str, name: str, traced: bool):
    from lectura.session import get_spark

    extra = {"spark.local.dir": os.path.join(work, "spark-local"),
             "spark.ui.showConsoleProgress": "false"}
    if traced:
        os.makedirs(os.path.join(work, "evlog"))
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": os.path.join(work, "evlog"),
                      "spark.eventLog.compress": "false"})
    ncpu = len(os.sched_getaffinity(0))
    return get_spark(master=f"local[{ncpu}]", app_name=f"perfbench-{name}",
                     extra=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM and
    the PySpark workers below it. ``spark.stop()`` leaves the JVM running;
    PySpark keeps its process handle on the gateway, and the JVM exits
    when its stdin closes. The workers exit after the JVM, as orphans this
    process cannot wait for, so their pids are polled."""
    import procstat
    from pyspark import SparkContext

    below = set(procstat.tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in below if procstat.alive(p)]
        if not left:
            return
        time.sleep(0.05)
    for p in left:
        os.kill(p, signal.SIGKILL)


def end_to_end(jobs, setup_s: float) -> dict:
    med = statistics.median
    per_round = [med(x) for x in zip(*(j.rounds_s for j in jobs))]
    return {
        "setup_s": setup_s,
        "crawl_urls_per_s": med((j.scheduled + j.extracted) / j.crawl_s
                                for j in jobs),
        "crawl_cpu_ms_per_url": med(1e3 * j.crawl_cpu_s / j.scheduled
                                    for j in jobs),
        "round_s_p50": med(s for j in jobs for s in j.rounds_s),
        # the slowest round number, at its median over jobs
        "round_s_max": max(per_round),
        # not bounded (too noisy): reported by traced runs only
        "export_docs_per_s": med(j.docs_in / j.export_s for j in jobs),
        "export_cpu_ms_per_doc": med(1e3 * j.export_cpu_s / j.docs_in
                                     for j in jobs),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lectura", "crawl.py")):
        return fail(f"no lectura package under {ROOT}: run from the root "
                    "of a checkout")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError as e:
        return fail(f"cannot read BENCHMARK.json: {e}")
    sys.path.insert(1, ROOT)  # after this directory: the program's package
    import workloads

    if args.workload not in workloads.SPECS:
        return fail(f"unknown workload {args.workload!r}; one of "
                    f"{sorted(workloads.SPECS)}")
    base = os.path.join(HERE, "_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    set_environment(work)
    try:
        result, diagnostics = run(args, workloads, work,
                                  os.path.join(base, "digests.json"))
    except Exception:
        # a crashed run fails every operation it would have made: each
        # round's cap of scheduled urls, and as many export input docs
        traceback.print_exc()
        spec = workloads.SPECS[args.workload]
        planned = 2 * spec.rounds * spec.max_round_urls
        print(json.dumps({"correct": False, "attempted": planned,
                          "failed": planned, "metrics": {}}), flush=True)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
    if missing:
        return fail(f"metrics not measured: {missing}")
    result["metrics"] = {m["name"]: {"value": result["metrics"][m["name"]],
                                     "unit": m["unit"]} for m in wanted}
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps(result), flush=True)
    return 0


def run(args, workloads, work: str, digest_file: str):
    import procstat

    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_spark(work, args.workload, traced)
    session_s = time.perf_counter() - t0
    runner = workloads.Runner(spark, args.workload, args.seed, work, traced)
    try:
        runner.setup()
        setup_s = session_s + sum(runner.timings.values())
        ticks0 = procstat.host_ticks()
        jobs = runner.measure(args.seconds)
        steal = procstat.steal_pct(ticks0, procstat.host_ticks())
        peak_rss_mb = procstat.sample().peak_rss_mb
        layers = trace_extras(runner) if traced else {}
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t_stop

    problems = [p for j in jobs for p in j.problems]
    for i, j in enumerate(jobs[1:], 1):
        if j.digests != jobs[0].digests:
            problems.append(f"job {i} output digests differ from job 0's")
    problems += workloads.checks.check_digests(
        digest_file, f"{args.workload}:{args.seed}:{runner.spec}",
        jobs[0].digests)
    attempted = sum(j.scheduled + j.docs_in for j in jobs)
    metrics = end_to_end(jobs, setup_s)
    if traced:
        metrics = finish_trace(runner, work, layers, metrics, steal,
                               session_s, peak_rss_mb)
    diagnostics = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "steal_pct": round(steal, 3), "peak_rss_mb": round(peak_rss_mb, 1),
        "jobs": len(jobs),
        "crawl_s": [round(j.crawl_s, 3) for j in jobs],
        "crawl_cpu_s": [round(j.crawl_cpu_s, 3) for j in jobs],
        "export_s": [round(j.export_s, 3) for j in jobs],
        "check_s": [round(j.check_s, 3) for j in jobs],
        "scheduled": [j.scheduled for j in jobs],
        "docs": [[j.docs_in, j.docs_out] for j in jobs],
        "setup": {"session_s": round(session_s, 3),
                  **{k: round(v, 3) for k, v in runner.timings.items()}},
        "stop_s": round(stop_s, 3),
        "problems": problems[:20],
    }
    return ({"correct": not problems, "attempted": attempted,
             "failed": attempted if problems else 0, "metrics": metrics},
            diagnostics)


def trace_extras(runner) -> dict:
    """Per-layer figures that need the live session or the corpus: the
    last crawl's funnel counts and the kernel timings."""
    import kernels
    import tracing
    from lectura.tables import Warehouse

    runner.describe("bench:counts")
    out = tracing.crawl_counts(Warehouse(runner.last_wh, runner.spark),
                               runner.spec.rounds)
    runner.describe(None)
    out.update(kernels.time_kernels(runner.corpus["pages_dir"], runner.seed))
    return out


def finish_trace(runner, work, layers, e2e, steal, session_s,
                 peak_rss_mb) -> dict:
    import evlog
    import tracing

    groups = evlog.group_by_description(
        evlog.read_events(os.path.join(work, "evlog")))
    out = dict(layers)
    out.update(tracing.crawl_layers(runner.spans, groups))
    out.update(tracing.export_layers(runner.spans, groups))
    out["session.start_s"] = session_s
    out["host.steal_pct"] = steal
    out["peak_rss_mb"] = peak_rss_mb
    # the traced run's own end-to-end figures: set against an untraced
    # run's, they give the tracing overhead
    out["trace.crawl_urls_per_s"] = e2e["crawl_urls_per_s"]
    out["trace.export_docs_per_s"] = e2e["export_docs_per_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
