"""Physical-plan regression tests (VERDICT r1 #7): the efficient plan
shapes documented in PLANS.md are asserted here so they cannot silently
rot — a reorder that shuffles html, de-broadcasts the rules join, or
turns the global cap back into a full sort fails these tests.

Checked via `explain("formatted")` text: operator presence
(BroadcastHashJoin / TakeOrderedAndProject / WindowGroupLimit) and, for
the fetch join, that no width-changing Exchange carries the html column."""

import contextlib
import io
import re

import pandas as pd
from pyspark.sql import functions as F

from lectura.config import CrawlConfig
from lectura.crawl import Crawler, asof_fetch, extract_fan_out
from lectura.frontier import rank_per_host, schedule
from lectura.robots import apply_robots
from lectura.tables import Warehouse
from tests.conftest import corpus_dfs


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def exchange_inputs(plan: str) -> list[str]:
    """The `Input [n]: [...]` line of every Exchange block in a formatted
    plan — the columns that physically cross that shuffle."""
    out = []
    for block in re.split(r"\n\(\d+\) ", plan):
        if block.startswith("Exchange") or block.startswith(
            "AQEShuffleRead"
        ):
            m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
            if m:
                out.append(m.group(1))
    return out


def _cand(spark, n=200):
    rows = [
        {"url": f"http://h{i % 7}.example/p{i}", "host": f"h{i % 7}.example",
         "hrk": f"example.h{i % 7}/p{i}", "path_q": f"/p{i}",
         "depth": i % 3, "score": 1.0 / (1 + i), "budget": 5}
        for i in range(n)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_rank_per_host_uses_window_group_limit(spark):
    """The two-phase salted rank must plan as WindowGroupLimit (rank
    filter pushed into the sort) twice — once per phase — not as full
    per-partition sorts."""
    plan = plan_of(rank_per_host(_cand(spark), salt_buckets=4, max_rank=5))
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_schedule_plans_take_ordered(spark):
    """The global deterministic cap must plan as TakeOrderedAndProject
    (distributed top-k: per-partition heads + merge), never a total sort
    of the full candidate set."""
    ranked = rank_per_host(_cand(spark), salt_buckets=4)
    plan = plan_of(schedule(ranked, CrawlConfig(max_round_urls=50)))
    assert "TakeOrderedAndProject" in plan, plan


def test_schedule_distributed_rank_same_answer_multitask(spark):
    """VERDICT r3 #2: above cfg.distributed_rank_min the sched_rank
    comes from the range-partition prefix discipline — the SAME
    (url, sched_rank) assignment as the TakeOrdered+window path, with
    NO partition-less window in the plan and >1 output task."""
    rows = [
        {"url": f"http://h{i % 7}.example/p{i}", "host": f"h{i % 7}.example",
         "hrk": f"example.h{i % 7}/p{i}", "path_q": f"/p{i}",
         "depth": i % 3, "score": 1.0 / (1 + i % 50), "budget": 40}
        for i in range(600)
    ]
    ranked = rank_per_host(spark.createDataFrame(pd.DataFrame(rows)),
                           salt_buckets=4)
    cap = 90
    small = schedule(ranked, CrawlConfig(max_round_urls=cap))
    big = schedule(ranked, CrawlConfig(max_round_urls=cap,
                                       distributed_rank_min=10))
    want = {(r.url, r.sched_rank) for r in small.collect()}
    got = {(r.url, r.sched_rank) for r in big.collect()}
    assert got == want and len(got) == cap
    # brute force: the rank IS the position in the global order
    kept = ranked.filter(F.col("host_rank") <= F.col("budget")).collect()
    order = sorted(kept, key=lambda r: (-r.score, r.hrk, r.url))[:cap]
    assert got == {(r.url, i + 1) for i, r in enumerate(order)}

    assert big.rdd.getNumPartitions() > 1
    assert "Window" not in plan_of(big)  # no single-task rank window
    assert dict(big.dtypes)["sched_rank"] == "int"


def test_sink_fan_in_scales_with_round_size():
    """VERDICT r3 #1: sink fan-in is config-derived from row count."""
    cfg = CrawlConfig(sink_rows_per_file=250_000)
    assert cfg.sink_fan_in(0) == 1
    assert cfg.sink_fan_in(10_000) == 1
    assert cfg.sink_fan_in(250_000) == 1
    assert cfg.sink_fan_in(250_001) == 2
    assert cfg.sink_fan_in(10_000_000) == 40
    assert "coalesce(4)" not in open("lectura/crawl.py").read()


def test_extract_fan_out_scales_with_round_size():
    """The fetch+extract fan-out follows the round's row count: one task
    per core for small rounds, one per Arrow batch beyond that, capped at
    4 × shuffle.partitions (each Python task has a fixed cost)."""
    def fan(n, par=8, parts=16, batch=1024):
        return extract_fan_out(n, par, parts, batch)

    assert fan(0) == 8
    assert fan(150) == fan(8 * 1024) == 8
    assert fan(9 * 1024) == 9
    assert fan(20 * 1024 + 1) == 21
    assert fan(64 * 1024) == fan(10**8) == 64  # the 4 × shuffle.partitions cap
    assert fan(10**8, parts=8) == 32
    assert fan(10**8, par=4, parts=2) == 8  # the cap wins over parallelism
    assert fan(10**6, batch=0) == 8  # unbounded batches: one per core
    assert fan(0, par=0, parts=0) == 1


def test_small_round_writes_one_text_file_per_core_at_most(
        spark, corpus, cfg, tmp_path):
    """A round of a few dozen rows must not fan out into
    4 × shuffle.partitions Python tasks (and as many text files)."""
    wh = Warehouse(str(tmp_path / "wh"), spark)
    crawler = Crawler(spark, wh, cfg)
    crawler.init_tables(*corpus_dfs(spark, corpus))
    crawler.run(2)
    files = wh.files_added("text", wh.snapshot("text"))  # round 2's
    cores = spark.sparkContext.defaultParallelism
    assert wh.count_rows(files) > cores
    assert len(files) <= cores, files


def test_apply_robots_broadcasts_rules(spark):
    rules = spark.createDataFrame(
        pd.DataFrame([
            {"host": "h0.example", "rule_type": "disallow", "pattern": "/x",
             "regex": "^/x", "priority": 2, "crawl_delay": 1.0},
        ])
    )
    plan = plan_of(apply_robots(_cand(spark), rules))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _pages_table(spark, tmp_path, warc: bool):
    rows = []
    for i in range(100):
        r = {"url": f"http://h{i % 7}.example/p{i}",
             "warc_ts": pd.Timestamp("2025-06-01") + pd.Timedelta(hours=i),
             "host_bucket": i % 4}
        if warc:
            r.update(warc_file="/dev/null", warc_offset=i * 100, warc_len=90)
        else:
            r.update(html=b"<html><body>hi</body></html>")
        rows.append(r)
    wh = Warehouse(str(tmp_path / ("whw" if warc else "whh")), spark)
    wh.overwrite("pages", spark.createDataFrame(pd.DataFrame(rows)))
    return wh.read("pages")


def _sched(spark):
    return spark.createDataFrame(pd.DataFrame([
        {"url": f"http://h{i % 7}.example/p{i}", "depth": 0, "score": 1.0}
        for i in range(50)
    ]))


def test_warc_fetch_plan_no_wide_exchange_and_broadcasts(spark, tmp_path):
    """WARC path: every Exchange moves only slim pointer columns; the
    winner/scheduled joins are broadcast when under the gate."""
    pages = _pages_table(spark, tmp_path, warc=True)
    df = asof_fetch(pages, _sched(spark), pd.Timestamp("2026-01-01"),
                    CrawlConfig(), n_scheduled=50, n_extract_parts=8)
    assert "warc_file" in df.columns and "html" not in df.columns
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    for cols in exchange_inputs(plan):
        assert "html" not in cols and "bits" not in cols, plan


def test_warc_fetch_plan_two_broadcast_builds(spark, tmp_path):
    """The fetch join builds exactly TWO broadcasts per round — the
    scheduled set (winner-pick filter) and the winners — because
    depth/score ride through the as-of window instead of a second
    scheduled join-back. A third BroadcastExchange means the join-back
    crept back in (one broadcast build per round is serial latency)."""
    pages = _pages_table(spark, tmp_path, warc=True)
    df = asof_fetch(pages, _sched(spark), pd.Timestamp("2026-01-01"),
                    CrawlConfig(), n_scheduled=50, n_extract_parts=8)
    plan = plan_of(df)
    n_builds = len(
        [b for b in re.split(r"\n\(\d+\) ", plan)
         if b.startswith("BroadcastExchange")]
    )
    assert n_builds == 2, plan
    assert "depth" in df.columns and "score" in df.columns


def test_html_fetch_plan_shuffles_html_only_final_roundrobin(spark, tmp_path):
    """HTML path: the winner-pick and join-back never put html through a
    hash/single-partition Exchange; the one permitted html shuffle is the
    final bounded round-robin redistribution before extraction."""
    pages = _pages_table(spark, tmp_path, warc=False)
    df = asof_fetch(pages, _sched(spark), pd.Timestamp("2026-01-01"),
                    CrawlConfig(), n_scheduled=50, n_extract_parts=8)
    assert "html" in df.columns and "warc_file" not in df.columns
    plan = plan_of(df)
    for block in re.split(r"\n\(\d+\) ", plan):
        if not block.startswith("Exchange"):
            continue
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        cols = m.group(1) if m else ""
        if "html" in cols:
            assert "RoundRobinPartitioning" in block, plan


def test_html_fetch_plan_gated_broadcast_off(spark, tmp_path):
    """With the broadcast gate forced off (cluster-scale round), no
    broadcast HINT may be pinned on the round-sized sets — whatever
    broadcasting remains is Catalyst/AQE deciding from size statistics,
    which is exactly the fallback the gate exists to enable. The hint vs
    statistics distinction lives in the logical plan (ResolvedHint)."""
    pages = _pages_table(spark, tmp_path, warc=False)

    def logical(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(extended=True)
        return buf.getvalue().split("== Physical Plan ==")[0]

    gated = asof_fetch(pages, _sched(spark), pd.Timestamp("2026-01-01"),
                       CrawlConfig(broadcast_max_rows=0),
                       n_scheduled=50, n_extract_parts=8)
    hinted = asof_fetch(pages, _sched(spark), pd.Timestamp("2026-01-01"),
                        CrawlConfig(), n_scheduled=50, n_extract_parts=8)
    assert "ResolvedHint" not in logical(gated)
    assert "ResolvedHint" in logical(hinted)


def test_corpus_export_single_exchange(spark):
    """corpus_export's only shuffle is the text_sha hash-partition for
    the dedup window; the gates must run before it (scan-stage filters),
    so exactly ONE Exchange appears and it carries no raw text column."""
    from lectura.textops import corpus_export

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(i, "the and of to a word here now then soon " * 5,
              "en", "s") for i in range(30)],
            columns=["doc_id", "text", "lang", "source"],
        )
    )
    plan = plan_of(corpus_export(docs))
    exchanges = [b for b in re.split(r"\n\(\d+\) ", plan)
                 if b.startswith("Exchange")]
    assert len(exchanges) == 1, plan
    # column pruning must drop the raw text/words before the shuffle
    for cols in exchange_inputs(plan):
        toks = [c.strip() for c in cols.split(",")]
        assert not any(
            t.startswith("text#") or t.startswith("words#") for t in toks
        ), plan


def test_recrawl_schedule_is_one_hash_agg(spark):
    """recrawl_schedule must plan as partial+final HashAggregate around
    a single Exchange — no window, no join."""
    from lectura.frontier import recrawl_schedule

    hist = spark.createDataFrame(
        pd.DataFrame(
            [("u", pd.Timestamp("2025-01-01"), True)],
            columns=["url", "ts", "changed"],
        ),
        schema="url string, ts timestamp, changed boolean",
    )
    plan = plan_of(recrawl_schedule(hist, 1753920000))
    exchanges = [b for b in re.split(r"\n\(\d+\) ", plan)
                 if b.startswith("Exchange")]
    assert len(exchanges) == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_sort_agg_delegation_a7(spark):
    """A7: the engine deliberately delegates hash-vs-sort aggregation to
    Catalyst. Pin BOTH sides of that delegation: a primitive-typed agg
    plans as HashAggregate; a struct-typed min (no mutable-buffer
    support) falls back to SortAggregate/ObjectHashAggregate. If a Spark
    upgrade changes the fallback, this test localizes it."""
    df = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "v": [3.0, 4.0]})
    )
    hash_plan = plan_of(df.groupBy("k").agg(F.sum("v")))
    assert "HashAggregate" in hash_plan, hash_plan
    assert "SortAggregate" not in hash_plan, hash_plan

    struct_plan = plan_of(
        df.groupBy("k").agg(F.min(F.struct("v", "k")).alias("m"))
    )
    assert ("SortAggregate" in struct_plan
            or "ObjectHashAggregate" in struct_plan), struct_plan


def test_bucketed_join_has_no_shuffle_s12(spark, tmp_path):
    """S12: both sides hash-bucketed by the join key at write time →
    the equi-join plans with NO shuffle Exchange at all (broadcast
    disabled so the co-location, not a broadcast, is what removes it)."""
    from lectura.sources import write_bucketed

    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("a")
    )
    right = spark.range(0, 500).select(
        F.col("id").alias("k2"), (F.col("id") % 7).alias("b")
    )
    write_bucketed(left, "tp_bleft", "k", 4, str(tmp_path / "l"),
                   sort_cols=("k",))
    write_bucketed(right, "tp_bright", "k2", 4, str(tmp_path / "r"),
                   sort_cols=("k2",))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("tp_bleft").join(
            spark.table("tp_bright"), F.col("k") == F.col("k2")
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert not exchange_inputs(plan), plan  # zero shuffle exchanges
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_corpus_export_dedup_partial_aggregates(spark):
    """VERDICT r2 perf finding: exact dedup must be a partial+final
    HashAggregate pair (map-side combine collapses the hottest duplicate
    before the exchange), NOT a Window.partitionBy(text_sha) — a window
    cannot partial-aggregate, so every copy of a mega-duplicate
    (parked-domain boilerplate) would sort inside one task."""
    from lectura.textops import corpus_export

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "lang": ["en"] * 3,
                "source": ["web"] * 3,
                "text": ["the and a of to in is it for on " * 4] * 3,
            }
        )
    )
    plan = plan_of(corpus_export(docs, min_words=5))
    assert "Window" not in plan, plan
    # partial + final aggregate around a single exchange (min_by's
    # struct buffer makes Catalyst pick SortAggregate — the delegation
    # pinned by test_sort_agg_delegation_a7 — but the PARTIAL pass is
    # what kills the hot-duplicate skew, and it's present either way)
    aggs = [b for b in re.split(r"\n\(\d+\) ", plan)
            if b.startswith(("HashAggregate", "SortAggregate",
                             "ObjectHashAggregate"))]
    assert len(aggs) >= 2, plan
    assert any("Functions" in a and "partial_" in a for a in aggs), plan
    exchanges = [b for b in re.split(r"\n\(\d+\) ", plan)
                 if b.startswith("Exchange")]
    assert len(exchanges) == 1, plan
    # the raw text never crosses the shuffle — only the sha + slim metrics
    for cols in exchange_inputs(plan):
        toks = [c.strip() for c in cols.split(",")]
        assert not any(
            t.startswith("text#") or t.startswith("words#") for t in toks
        ), plan


def test_lang_id_zero_shuffle(spark):
    """The stopword langid must be a pure scan-stage classifier: no
    Exchange anywhere (tokenize, IN-set counts, struct-max argmax all
    narrow JVM expressions), no Python evaluation node."""
    from lectura.textops import lang_id

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["the and of", "der und"]}))
    plan = plan_of(lang_id(df))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan


def test_line_dedup_global_partial_aggs_no_window(spark):
    """Global line dedup must build its hot-line set through
    partial-aggregating hash aggs (the hottest boilerplate line combines
    map-side, never flooding one reducer) and must not plan a Window —
    the document rebuild is a keyed agg, not a full-copy window sort."""
    from lectura.textops import line_dedup_global

    df = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "b"], "text": ["x\ny", "x\nz"]}))
    plan = plan_of(line_dedup_global(df))
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final pairs


def test_semantic_dedup_candidates_banded_equi_join(spark):
    """Candidate generation must be the LSH banding equi-join — never an
    all-pairs product — and the sign-band signature must be a pure
    scan-stage expression (no Exchange, no Python)."""
    from lectura.vectorops import semantic_candidates, sign_bands

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2],
                      "embedding": [[1.0] * 16, [-1.0] * 16]}))
    bplan = plan_of(sign_bands(df, n_bands=4, band_bits=4))
    assert "Exchange" not in bplan, bplan
    assert "Python" not in bplan and "BatchEval" not in bplan, bplan

    cplan = plan_of(semantic_candidates(df, n_bands=4, band_bits=4))
    assert "CartesianProduct" not in cplan, cplan
    assert "BroadcastNestedLoop" not in cplan, cplan


def test_dsir_weight_table_broadcasts(spark):
    """The DSIR weight table (<= n_buckets rows) must broadcast into the
    corpus occurrence stream — the only wide operator over corpus-sized
    data is the final per-doc aggregation."""
    from lectura.sampling import dsir_logratios

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b c", "c d", "e"]}))
    plan = plan_of(dsir_logratios(df.filter("doc_id > 1"),
                                  df.filter("doc_id = 1"), n_buckets=16))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_trap_templates_partial_aggs_no_window(spark):
    """Template mining must be groupBy-shaped (partial aggregation —
    the hottest template combines map-side) with no Window and no
    Python node; urls never survive past the first aggregation."""
    from lectura.frontier import trap_templates

    df = spark.createDataFrame(
        pd.DataFrame({"url": ["http://a.example/p/1",
                              "http://a.example/p/2"]}))
    plan = plan_of(trap_templates(df))
    assert "Window" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_pii_scrub_zero_shuffle(spark):
    """The PII pass must be pure scan-stage JVM expressions — no
    Exchange, no Python node; text never leaves its input partition."""
    from lectura.textops import pii_scrub

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a@b.co 1.2.3.4"]}))
    plan = plan_of(pii_scrub(df))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan


def test_dup_span_stats_hashes_before_exchange(spark):
    """Duplicated-span counting must shuffle 64-bit span hashes, never
    gram strings (no Exchange block may reference the gram column), and
    must be window-free with partial-aggregating hash aggs."""
    from lectura.textops import dup_span_stats

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d", "a b c e"]}))
    plan = plan_of(dup_span_stats(df, k=3))
    assert "Window" not in plan, plan
    exchanges = [b for b in re.split(r"\n\(\d+\) ", plan)
                 if b.startswith("Exchange")]
    assert exchanges, plan
    assert not any("gram#" in e for e in exchanges), plan
    assert plan.count("HashAggregate") >= 4, plan


def test_tfidf_top_terms_plan_shape(spark):
    """TF-IDF: one doc-partitioned top-k window (bounded by per-doc
    vocabulary — no hot key), no cartesian products, and partial
    aggregation for the tf/df counts."""
    from lectura.textops import tfidf_top_terms

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b a", "b c"]}))
    plan = plan_of(tfidf_top_terms(df, k=2))
    assert "CartesianProduct" not in plan, plan
    windows = [b for b in re.split(r"\n\(\d+\) ", plan)
               if b.startswith("Window\n")]
    assert len(windows) == 1, plan
    assert "windowspecdefinition(id#" in windows[0], plan
    # rank<=k plans as a partial+final WindowGroupLimit pair: rows
    # beyond the top-k drop map-side, before the doc-key exchange
    limits = [b for b in re.split(r"\n\(\d+\) ", plan)
              if b.startswith("WindowGroupLimit")]
    assert any("Partial" in b for b in limits), plan
    assert plan.count("HashAggregate") >= 4, plan


def test_salted_join_plan_and_key(spark):
    """salted_join must (1) join on (key, _salt) — the salt actually
    participates in the exchange hash, spreading a hot key — (2) carry
    a Generate (explode) on the replicated right side, and (3) never
    emit _salt in the output schema."""
    import pyspark.sql.functions as F

    from lectura.frontier import salted_join

    # parquet-backed sides so ConvertToLocalRelation cannot pre-fold the
    # replication explode out of the physical plan
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    left = nat.select(F.col("n_regionkey").alias("k"),
                      F.col("n_nationkey").alias("v"))
    right = (spark.read.parquet("/root/testdata/sf0.001/region.parquet")
             .select(F.col("r_regionkey").alias("k"),
                     F.col("r_name").alias("w")))
    out = salted_join(left, right, "k", n_salt=4)
    assert out.columns == ["k", "v", "w"]
    plan = plan_of(out)
    assert "Generate" in plan and "explode" in plan, plan
    keys = [ln for ln in plan.splitlines()
            if ln.strip().startswith(("Left keys", "Right keys"))]
    assert keys and all("_salt" in ln for ln in keys), plan
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in left.join(right, "k").collect())
    assert got == want and len(got) == 25


def test_sql_view_scan_keeps_pushdown(spark):
    """The SQL face must not cost plan quality: a filtered projection
    through a registered temp view still reaches the parquet scan as
    PushedFilters + a pruned ReadSchema, identical to the direct
    read."""
    from lectura.sqlapi import run_sql

    df = run_sql(
        spark, "/root/testdata/sf0.001",
        "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45.0")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), " in plan, plan
    assert "GreaterThan(l_quantity,45.0)" in plan, plan
    assert "l_extendedprice" not in plan.split("ReadSchema")[1], plan
    # re-registration is idempotent
    n1 = df.count()
    n2 = run_sql(spark, "/root/testdata/sf0.001",
                 "SELECT l_orderkey FROM lineitem "
                 "WHERE l_quantity > 45.0").count()
    assert n1 == n2 > 0


def test_runtime_bloom_filter_injection(spark):
    """Catalyst's InjectRuntimeFilter: a selective predicate on the dim
    side of a shuffle join injects might_contain(bloom(join_key)) into
    the FACT side's scan filter — rows that cannot join drop before the
    exchange. Default thresholds target cluster-sized inputs
    (creationSide ≤ 10MB, applicationSide scan ≥ 10GB); the test
    re-points them at local scale to pin the mechanism itself."""
    old = {
        k: spark.conf.get(k)
        for k in ("spark.sql.optimizer.runtime.bloomFilter"
                  ".applicationSideScanSizeThreshold",
                  "spark.sql.autoBroadcastJoinThreshold")
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter"
                       ".applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        o = (spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
             .filter("o_orderpriority = '1-URGENT'"))
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "l_orderkey" in [ln for ln in plan.splitlines()
                                if "might_contain" in ln][0], plan
        # result unchanged by the filter
        rows = {(r[0], r[1]) for r in j.collect()}
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter"
                       ".applicationSideScanSizeThreshold", "10GB")
        j2 = (li.join(o, li.l_orderkey == o.o_orderkey)
              .groupBy("o_orderpriority").count())
        assert {(r[0], r[1]) for r in j2.collect()} == rows
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_script_profile_zero_shuffle(spark):
    """X3c must be pure scan-stage JVM expressions — no Exchange, no
    Python node; six regexp strip-counts and a when-chain only."""
    from lectura.textops import script_profile

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["abc xyz"]}))
    plan = plan_of(script_profile(df))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan


def test_quantile_sketch_partial_agg_histogram(spark):
    """D9's only corpus-sized operator must be ONE partial-aggregating
    hash agg on the (e, m) bin key — map-side combine collapses every
    task to <= 64*sub rows before the exchange (the mergeable-sketch
    point); no Python, no corpus-sized window."""
    from lectura.textops import log_quantile_sketch

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "x": [7, 40]}))
    plan = plan_of(log_quantile_sketch(df, "x"))
    # no Python EXECUTION node (the quantile-literal 3-row scan prints
    # 'applySchemaToPythonRDD', which is driver-side construction)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, plan
    # partial then final agg on the bin key around the bin exchange
    blocks = re.split(r"\n\(\d+\) ", plan)
    hash_aggs = [b for b in blocks if b.startswith("HashAggregate")]
    assert any("partial_count" in b or "Partial" in b
               for b in hash_aggs), plan
    bin_exchanges = [b for b in blocks if b.startswith("Exchange")
                     and "e#" in b and "m#" in b]
    assert bin_exchanges, plan


def test_resolve_chains_join_rounds(spark):
    """Pointer doubling at cap 32 must plan exactly 5 state self-joins
    (log2(32)) plus the terminal-flag join — never 32 sequential
    probes. Counted as SortMergeJoin/BroadcastHashJoin/ShuffledHashJoin
    LeftOuter blocks over the localCheckpoint-truncated lineage of the
    LAST round (each round's plan is truncated, so the final plan shows
    one round: one left join + the terminal join)."""
    from lectura.graphops import resolve_chains

    df = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 3], "dst": [0, 1, 2]}))
    out = resolve_chains(df, max_hops=32)
    plan = plan_of(out)
    # lineage truncation: the visible plan is the final round + the
    # resolved-flag join only — bounded regardless of the cap
    joins = [b for b in re.split(r"\n\(\d+\) ", plan)
             if "Join" in b.split("\n")[0]]
    assert 1 <= len(joins) <= 3, plan


def test_revisit_due_slim_window_agg_fusion(spark):
    """SEMANTICS §16 revisit candidates (crawl.revisit_due): the history
    join + lag window + recrawl_due agg must (a) never move the text
    column through an Exchange — only the slim (url, host, round,
    fingerprint) stream shuffles — (b) partition the lag window by url
    (never a single-partition window), and (c) let the final hash agg
    REUSE the window's url partitioning: at most 3 Exchanges total (two
    join sides + the window), none between the Window and the
    HashAggregates."""
    from lectura.crawl import revisit_due

    fl = spark.createDataFrame(
        pd.DataFrame({
            "url": [f"http://h.example/p{i % 5}" for i in range(20)],
            "host": ["h.example"] * 20,
            "round": [i // 5 + 1 for i in range(20)],
            "status": ["ok"] * 20,
        }))
    tx = spark.createDataFrame(
        pd.DataFrame({
            "url": [f"http://h.example/p{i % 5}" for i in range(20)],
            "round": [i // 5 + 1 for i in range(20)],
            "fingerprint": [i % 3 for i in range(20)],
            "text": ["BODY " * 50] * 20,
        }))
    plan = plan_of(revisit_due(tx.sparkSession.createDataFrame(
        fl.toPandas()), tx, CrawlConfig(), rnd=9))
    for cols in exchange_inputs(plan):
        assert "text" not in cols, plan  # text never crosses a shuffle
    blocks = re.split(r"\n\(\d+\) ", plan)
    exchanges = [b for b in blocks if b.startswith("Exchange")]
    assert len(exchanges) <= 3, plan
    win = [b for b in blocks if b.startswith("Window")]
    assert win and "url" in win[0], plan  # url-keyed, never global
    # the partial+final agg pair rides the window's url partitioning —
    # as SortAggregate it additionally reuses the window's SORT (the A7
    # delegation idiom): no Exchange (and no re-sort) above the Window
    aggs = [b for b in blocks
            if b.startswith(("HashAggregate", "SortAggregate"))]
    assert len(aggs) >= 2, plan
    above_window = plan.split("== Physical Plan ==")[1].split("Window")[0]
    assert "Exchange" not in above_window, plan
