"""Driver-contract query registry (SURVEY.md §3.2; E:21–45).

One entry per SQL/SQL≈ operator row of SURVEY.md §2 plus the
training-data-pipeline operators (dedupe / similarity / text analysis /
multimodal plumbing) over the fixture tables. Each Spark callable takes
(spark, sf_dir) and must hash-match its DuckDB oracle SQL at sf0.01:
same column names (aliased identically on both sides), doubles rounded to
fixed decimals so IEEE summation-order differences between engines can't
flip the value hash, timestamps emitted as formatted strings.

Non-SQL-expressible operators register with sql=None → the driver records
a rows-only check and the real verification lives in tests/ (e.g. the
crawl itself is verified against tests/oracle_crawler.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lectura import oracle_sql as _osql

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# S10 / U7 — scan + filter + project (pushdown-friendly: filter and
# projection reach the parquet scan)
# ---------------------------------------------------------------------------
@q(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue
    FROM lineitem WHERE l_quantity > 45
    """,
)
def scan_filter_project(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "revenue"
        ),
    )


# S10 — generic json/csv scans (SURVEY.md §2.1): the fixture table is
# exported once per call to JSON-lines / CSV on scratch space, read back
# through lectura.sources.read_table with an EXPLICIT schema (no inference
# pass — at corpus scale inference is a full extra read), and must
# round-trip value-exactly vs DuckDB reading the original parquet.
def _s10_export(sf_dir: str, table: str, fmt: str) -> str:
    import pandas as pd  # noqa: F401 (pyarrow-backed read)

    out_dir = f"/dev/shm/lectura_s10/{os.path.basename(os.path.normpath(sf_dir))}"
    os.makedirs(out_dir, exist_ok=True)
    out = f"{out_dir}/{table}.{fmt}"
    pdf = pd.read_parquet(f"{sf_dir}/{table}.parquet")
    if fmt == "json":
        pdf.to_json(out, orient="records", lines=True,
                    date_format="iso", date_unit="us")
    else:
        pdf.to_csv(out, index=False)  # RFC-4180 doubled-quote escaping
    return out


@q(
    "scan_csv_s10",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_acctbal > 1000
    """,
)
def scan_csv_s10(spark, sf_dir):
    from lectura.sources import read_table

    path = _s10_export(sf_dir, "customer", "csv")
    df = read_table(
        spark, path, "csv",
        schema="c_custkey long, c_name string, c_nationkey int, "
               "c_acctbal double, c_mktsegment string",
    )
    return df.filter(F.col("c_acctbal") > 1000)


@q(
    "scan_json_s10",
    """
    SELECT event_id, ts, user_id, event_type, round(value, 4) AS value_r
    FROM events WHERE event_type IN ('click', 'view')
    """,
)
def scan_json_s10(spark, sf_dir):
    from lectura.sources import read_table

    path = _s10_export(sf_dir, "events", "json")
    df = read_table(
        spark, path, "json",
        schema="event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string",
    )
    return df.filter(F.col("event_type").isin("click", "view")).select(
        "event_id", "ts", "user_id", "event_type",
        F.round("value", 4).alias("value_r"),
    )


# S12 — bucketed tables: both join sides hash-bucketed by the join key
# at write time, so the recurring join plans with NO Exchange (the plan
# shape is pinned in tests/test_plans.py; this query checks the values
# survive the bucketed round-trip). Money summed in exact cents — a
# float sum's addition order differs between engines.
@q(
    "bucketed_join_s12",
    """
    SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def bucketed_join_s12(spark, sf_dir):
    from lectura.sources import write_bucketed

    root = f"/dev/shm/lectura_s12/{os.path.basename(os.path.normpath(sf_dir))}"
    write_bucketed(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice"),
        "b_orders", "o_custkey", 8, f"{root}/orders",
        sort_cols=("o_custkey",),
    )
    write_bucketed(
        t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        "b_customer", "c_custkey", 8, f"{root}/customer",
        sort_cols=("c_custkey",),
    )
    return (
        spark.table("b_orders")
        .join(spark.table("b_customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("total_cents"),
        )
    )


# S15 — warehouse MERGE/upsert (Iceberg copy-on-write MERGE INTO
# equivalent): a REAL warehouse on scratch — base committed, updates
# merged (every 3rd key updated, every 5th re-keyed as an insert), the
# post-merge table read back through the snapshot manifest. The oracle
# states the upsert relationally.
@q(
    "merge_upsert_s15",
    """
    WITH base AS (
      SELECT c_custkey AS k, c_nationkey AS nation, 'base' AS src
      FROM customer
    ), upd AS (
      SELECT c_custkey AS k, c_nationkey + 100 AS nation, 'upd' AS src
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 1000000 AS k, c_nationkey AS nation, 'new' AS src
      FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT k, nation, src FROM upd
    UNION ALL
    SELECT k, nation, src FROM base
    WHERE k NOT IN (SELECT k FROM upd)
    """,
)
def merge_upsert_s15(spark, sf_dir):
    import shutil

    from lectura.tables import Warehouse

    root = f"/dev/shm/lectura_s15/{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root, spark)
    c = t(spark, sf_dir, "customer")
    base = c.select(F.col("c_custkey").alias("k"),
                    F.col("c_nationkey").cast("long").alias("nation"),
                    F.lit("base").alias("src"))
    upd = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(F.col("c_custkey").alias("k"),
                (F.col("c_nationkey") + 100).cast("long").alias("nation"),
                F.lit("upd").alias("src"))
        .unionByName(
            c.filter(F.col("c_custkey") % 5 == 0)
            .select((F.col("c_custkey") + 1000000).alias("k"),
                    F.col("c_nationkey").cast("long").alias("nation"),
                    F.lit("new").alias("src")))
    )
    wh.overwrite("m", base)
    wh.merge("m", upd, "k")
    return wh.read("m")


# S17 — snapshot changelog, diff-join path (Warehouse.changelog): two
# overwrite snapshots of a REAL warehouse on scratch, every change class
# present — k%3 updates (before+after rows), k%7 deletes, +1000000-keyed
# inserts, everything else unchanged and therefore ABSENT from the output.
@q(
    "changelog_s17",
    """
    WITH v1 AS (
      SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS nation,
             'base' AS src
      FROM customer
    ),
    v2 AS (
      SELECT k,
             CASE WHEN k % 3 = 0 THEN nation + 100 ELSE nation END AS nation,
             CASE WHEN k % 3 = 0 THEN 'upd' ELSE 'base' END AS src
      FROM v1 WHERE k % 7 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, CAST(c_nationkey AS BIGINT), 'new'
      FROM customer WHERE c_custkey % 5 = 0
    ),
    diff AS (
      SELECT v1.k, v1.nation AS nation1, v1.src AS src1,
             v2.nation AS nation2, v2.src AS src2
      FROM v1 JOIN v2 ON v1.k = v2.k
      WHERE v1.nation <> v2.nation OR v1.src <> v2.src
    )
    SELECT 'insert' AS _change_type, k, nation, src FROM v2
    WHERE k NOT IN (SELECT k FROM v1)
    UNION ALL
    SELECT 'delete' AS _change_type, k, nation, src FROM v1
    WHERE k NOT IN (SELECT k FROM v2)
    UNION ALL
    SELECT 'update_before' AS _change_type, k, nation1 AS nation,
           src1 AS src FROM diff
    UNION ALL
    SELECT 'update_after' AS _change_type, k, nation2 AS nation,
           src2 AS src FROM diff
    """,
)
def changelog_s17(spark, sf_dir):
    import shutil

    from lectura.tables import Warehouse

    root = f"/dev/shm/lectura_s17/{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root, spark)
    c = t(spark, sf_dir, "customer")
    v1 = c.select(F.col("c_custkey").alias("k"),
                  F.col("c_nationkey").cast("long").alias("nation"),
                  F.lit("base").alias("src"))
    upd3 = F.col("k") % 3 == 0
    v2 = (
        v1.filter(F.col("k") % 7 != 0)
        .select("k",
                F.when(upd3, F.col("nation") + 100)
                 .otherwise(F.col("nation")).alias("nation"),
                F.when(upd3, F.lit("upd"))
                 .otherwise(F.lit("base")).alias("src"))
        .unionByName(
            c.filter(F.col("c_custkey") % 5 == 0)
            .select((F.col("c_custkey") + 1000000).alias("k"),
                    F.col("c_nationkey").cast("long").alias("nation"),
                    F.lit("new").alias("src")))
    )
    s1 = wh.overwrite("m", v1)
    s2 = wh.overwrite("m", v2)
    return wh.changelog("m", "k", from_snapshot=s1, to_snapshot=s2)


# S17b — snapshot changelog, append fast path: the incremental read costs
# O(new files) — the physical plan is a bare scan of the appended files
# (ZERO joins/shuffles; pinned in tests/test_plans.py), Iceberg's
# incremental append scan shape.
@q(
    "changelog_append_s17b",
    """
    SELECT 'insert' AS _change_type, c_custkey, c_nationkey, c_mktsegment
    FROM customer WHERE c_custkey % 2 = 1
    """,
)
def changelog_append_s17b(spark, sf_dir):
    import shutil

    from lectura.tables import Warehouse

    root = f"/dev/shm/lectura_s17b/{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root, spark)
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment")
    s1 = wh.overwrite("m", c.filter(F.col("c_custkey") % 2 == 0))
    wh.append("m", c.filter(F.col("c_custkey") % 2 == 1))
    return wh.changelog("m", "c_custkey", from_snapshot=s1)


# S18 — Z-order (Morton) clustering key: the multi-dimensional sort key
# behind Iceberg/Delta ZORDER file layouts; engine-invariant pure BIGINT
# shift/mask arithmetic (lectura/sources.py:zorder_key). The layout half
# (write_zordered) is verified by tests/test_zorder.py's footer-stat
# pruning evidence — file min/max envelopes tighten in BOTH dimensions.
@q(
    "zorder_key_s18",
    _osql.zorder_sql("events", "user_id", "event_id", "event_id"),
)
def zorder_key_s18(spark, sf_dir):
    from lectura.sources import zorder_key

    return (
        t(spark, sf_dir, "events")
        .select("event_id",
                zorder_key("user_id", "event_id").alias("zkey"))
    )


# U7 — string functions
@q(
    "string_fns",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           length(p_name) AS name_len,
           substring(p_type, 1, 5) AS type5,
           concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word
    FROM part
    """,
)
def string_fns(spark, sf_dir):
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
    )


# U8 — date/time functions
@q(
    "date_fns",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS month_price
    FROM orders GROUP BY 1
    """,
)
def date_fns(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month"
            )
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("month_price"),
        )
    )


# U9 — math functions
@q(
    "math_fns",
    """
    SELECT p_partkey,
           round(ln(p_retailprice), 6) AS log_price,
           round(sqrt(p_retailprice), 6) AS sqrt_price,
           round(pow(1.05, p_size), 6) AS growth,
           greatest(p_size, 25) AS size_floor,
           least(p_size, 25) AS size_cap
    FROM part WHERE p_retailprice > 0
    """,
)
def math_fns(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter(F.col("p_retailprice") > 0)
    return p.select(
        "p_partkey",
        F.round(F.log("p_retailprice"), 6).alias("log_price"),
        F.round(F.sqrt("p_retailprice"), 6).alias("sqrt_price"),
        F.round(F.pow(F.lit(1.05), F.col("p_size")), 6).alias("growth"),
        F.greatest("p_size", F.lit(25)).alias("size_floor"),
        F.least("p_size", F.lit(25)).alias("size_cap"),
    )


# U10 / X7 — array explode + re-aggregate
@q(
    "array_explode",
    """
    SELECT label, count(*) AS n_elems,
           round(avg(e), 4) AS avg_elem,
           round(max(e), 4) AS max_elem
    FROM (SELECT label, unnest(embedding) AS e FROM embeddings)
    GROUP BY label
    """,
)
def array_explode(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.explode("embedding").alias("e"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_elems"),
            F.round(F.avg("e"), 4).alias("avg_elem"),
            F.round(F.max("e"), 4).alias("max_elem"),
        )
    )


# U12 — JSON functions
@q(
    "json_fns",
    """
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_fns(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("bigint")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


# U13 — binary functions (byte-exactness primitives used by B:15 checks)
@q(
    "binary_fns",
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           sha256(text) AS text_sha
    FROM documents
    """,
)
def binary_fns(spark, sf_dir):
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.sha2("text", 256).alias("text_sha"),
    )


# D4 — distinct
@q(
    "distinct_d4",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_d4(spark, sf_dir):
    return t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# D5 / F8 — anti join
@q(
    "anti_join_d5",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 400000)
    """,
)
def anti_join_d5(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# F8 — semi join
@q(
    "semi_join_f8",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
    """,
)
def semi_join_f8(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem")
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


# F2 — window-ranked priority queue (per-group rank with full tie-breaks)
@q(
    "window_rank_f2",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderdate ASC,
                                         o_orderkey ASC) AS rnk
      FROM orders) WHERE rnk <= 3
    """,
)
def window_rank_f2(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


# F3 — per-group top-k with per-group budget
@q(
    "budget_topk_f3",
    """
    SELECT o_custkey, o_orderkey, rnk, budget FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk,
             o_custkey % 3 + 1 AS budget
      FROM orders) WHERE rnk <= budget
    """,
)
def budget_topk_f3(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .withColumn("budget", F.col("o_custkey") % 3 + 1)
        .filter(F.col("rnk") <= F.col("budget"))
        .select("o_custkey", "o_orderkey", "rnk", "budget")
    )


# F4 — lag window (host-delay gate analog)
@q(
    "lag_gap_f4",
    """
    SELECT o_custkey, o_orderkey, gap_days FROM (
      SELECT o_custkey, o_orderkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders) WHERE gap_days > 60
    """,
)
def lag_gap_f4(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn(
            "gap_days",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)),
        )
        .filter(F.col("gap_days") > 60)
        .select("o_custkey", "o_orderkey", "gap_days")
    )


# F5 — global deterministic top-k (TakeOrderedAndProject)
@q(
    "global_topk_f5",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue
    FROM lineitem
    ORDER BY revenue DESC, l_orderkey ASC, l_linenumber ASC LIMIT 25
    """,
)
def global_topk_f5(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(25)
    )


# F6 — multi-way equi join + aggregate (broadcast dims)
@q(
    "join_agg_f6",
    """
    SELECT c_mktsegment, n_name,
           count(*) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY c_mktsegment, n_name
    """,
)
def join_agg_f6(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# F7 — as-of join (latest capture ≤ cutoff)
@q(
    "asof_f7",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS asof_date
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-30 00:00:00'
    ) WHERE rn = 1
    """,
)
def asof_f7(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= F.lit("1997-06-30 00:00:00").cast("timestamp")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("asof_date"),
        )
    )


# F9 — range/interval predicate join (politeness window analog)
@q(
    "range_join_f9",
    """
    SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 5 MINUTE
    GROUP BY 1, 2
    """,
)
def range_join_f9(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


# F10 — union + dedupe
@q(
    "union_f10",
    """
    SELECT DISTINCT o_orderkey, o_orderpriority FROM (
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 300000
    )
    """,
)
def union_f10(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )
    b = o.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", "o_orderpriority"
    )
    return a.unionByName(b).distinct()


# F11 — except / intersect
@q(
    "setops_f11",
    """
    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_orderkey FROM orders WHERE o_totalprice < 50000
    """,
)
def setops_f11(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    b = o.filter(F.col("o_totalprice") < 50000).select("o_orderkey")
    return a.exceptAll(b).distinct()


# F12 — broadcast nested-loop theta join (pattern denylist analog)
@q(
    "theta_join_f12",
    """
    SELECT pat, count(*) AS n_parts
    FROM part, (VALUES ('%widget%'), ('%bolt%'), ('PROMO%')) pats(pat)
    WHERE p_type LIKE pat OR p_name LIKE pat
    GROUP BY pat
    """,
)
def theta_join_f12(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    pats = spark.createDataFrame(
        [("%widget%",), ("%bolt%",), ("PROMO%",)], "pat string"
    )
    return (
        p.join(
            F.broadcast(pats),
            F.expr("p_type LIKE pat OR p_name LIKE pat"),
        )
        .groupBy("pat")
        .agg(F.count("*").alias("n_parts"))
    )


# A1 — hash aggregate, partial+final (TPC-H Q1 shape)
@q(
    "hash_agg_a1",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
           round(avg(l_quantity), 4) AS avg_qty,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           count(*) AS n
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def hash_agg_a1(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count("*").alias("n"),
    )


# A2 — distinct aggregate
@q(
    "distinct_agg_a2",
    """
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_agg_a2(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
        )
    )


# A3 — rollup (metrics reporting shape)
@q(
    "rollup_a3",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_a3(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# A4 — top-k per group (skew report analog)
@q(
    "topk_group_a4",
    """
    SELECT n_name, s_suppkey, s_acctbal FROM (
      SELECT n_name, s_suppkey, s_acctbal,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ) WHERE rn <= 2
    """,
)
def topk_group_a4(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("n_name", "s_suppkey", "s_acctbal")
    )


# A5 — exact percentiles (latency/size distribution analog)
@q(
    "percentiles_a5",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           round(quantile_cont(l_quantity, 0.95), 4) AS p95,
           round(quantile_cont(l_quantity, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentiles_a5(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(l_quantity, 0.99)"), 4).alias("p99"),
        )
    )


# A8 — pivot (wide per-status rollup; quantities summed as exact longs
# so the float-addition order can't diverge between engines)
@q(
    "pivot_a8",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS BIGINT) END)
                AS BIGINT) AS qty_f,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS BIGINT) END)
                AS BIGINT) AS qty_o,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_a8(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("long")))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
    )
    counts = li.groupBy("l_returnflag").agg(F.count("*").alias("n_rows"))
    return p.join(counts, "l_returnflag")


# A9 — unpivot/melt (long-form metric rows from wide columns)
@q(
    "unpivot_a9",
    """
    SELECT l_orderkey, l_linenumber, metric, value
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount
          FROM lineitem WHERE l_orderkey < 2000)
    UNPIVOT (value FOR metric IN (l_quantity, l_extendedprice, l_discount))
    """,
)
def unpivot_a9(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "metric", "value",
        )
    )


# F13 — window-function breadth: lead / ntile / cume_dist / percent_rank
# over the per-customer order sequence (unique order key -> total order,
# so every value is deterministic; the rank ratios are exact small-int
# divisions, bit-identical across engines)
@q(
    "window_ntile_f13",
    """
    SELECT o_orderkey, o_custkey,
           lead(o_orderkey) OVER w AS next_ok,
           ntile(4) OVER w AS q4,
           cume_dist() OVER w AS cd,
           percent_rank() OVER w AS pr
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)
def window_ntile_f13(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.lead("o_orderkey").over(w).alias("next_ok"),
        F.ntile(4).over(w).alias("q4"),
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


# ST2 — tumbling-window metrics (batch equivalent of the streaming agg)
@q(
    "tumbling_st2",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_st2(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ST3 — sliding-window rates (each event lands in size/slide windows)
@q(
    "sliding_st3",
    """
    SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*) AS n
    FROM (
      -- an event at ts lands in the size/slide=2 windows starting at
      -- floor(epoch/1800)*1800 and 1800 earlier (Spark windows align to epoch)
      SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - k * 1800 AS ws
      FROM events, (VALUES (0), (1)) ks(k)
    ) GROUP BY 1
    """,
)
def sliding_st3(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
        )
    )


# ST4 — session windows (batch equivalent: gaps-and-islands in SQL)
@q(
    "session_st4",
    """
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
        FROM events)
    ) GROUP BY user_id, session_id
    """,
)
def session_st4(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


# R3 — longest-prefix rule resolution (robots semantics over fixtures)
@q(
    "prefix_rules_r3",
    """
    WITH rules(prefix, verdict) AS (
      VALUES ('Customer#00000000', 'allow'), ('Customer#0000000', 'deny'),
             ('Customer#000000', 'allow'), ('Customer#00000', 'deny')
    ), matched AS (
      SELECT c_custkey, prefix, verdict,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY length(prefix) DESC,
                                         verdict ASC) AS rn
      FROM customer JOIN rules ON starts_with(c_name, prefix)
    )
    SELECT c_custkey, prefix AS winner, verdict FROM matched WHERE rn = 1
    """,
)
def prefix_rules_r3(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    rules = spark.createDataFrame(
        [
            ("Customer#00000000", "allow"),
            ("Customer#0000000", "deny"),
            ("Customer#000000", "allow"),
            ("Customer#00000", "deny"),
        ],
        "prefix string, verdict string",
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc(F.length("prefix")), F.asc("verdict")
    )
    return (
        c.join(F.broadcast(rules), F.col("c_name").startswith(F.col("prefix")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("prefix").alias("winner"), "verdict")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}


# ===========================================================================
# Training-data-pipeline operators (dedup / similarity / text analysis /
# multimodal plumbing) — first-class alongside the §2 inventory.
# ===========================================================================

# Exact dedup: content-hash grouping (the 100-TB-safe exact pass)
@q(
    "dedup_exact",
    """
    SELECT sha256(text) AS text_sha, count(*) AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    return (
        t(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("text_sha"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


# Near-dup by word-trigram Jaccard via inverted shingle index (no cross join)
@q(
    "dedup_ngram_jaccard",
    """
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest([array_to_string(w[i:i+2], ' ')
                     for i in generate_series(1, greatest(len(w)-2, 1))]) AS s
      FROM words
    ), sh2 AS (SELECT doc_id, s FROM sh WHERE s <> ''),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
    -- hot-shingle document-frequency cap, mirrors textops max_df=1000
    keep AS (SELECT s FROM sh2 GROUP BY s HAVING count(*) <= 1000),
    sh3 AS (SELECT doc_id, s FROM sh2 SEMI JOIN keep USING (s)),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT d1, d2, inter,
           round(inter / (s1.n + s2.n - inter), 4) AS jaccard
    FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    from lectura.textops import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return ngram_jaccard_pairs(docs, n=3, min_inter=2)


# DD2b — one-sided containment pairs (the asymmetric-duplication case
# symmetric Jaccard misses: a short doc quoted wholesale inside a long
# one). Same inverted-index + max_df skeleton and fixture as DD2; the
# oracle only swaps the final ratio columns.
@q(
    "dedup_containment_dd2b",
    """
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest([array_to_string(w[i:i+2], ' ')
                     for i in generate_series(1, greatest(len(w)-2, 1))]) AS s
      FROM words
    ), sh2 AS (SELECT doc_id, s FROM sh WHERE s <> ''),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
    keep AS (SELECT s FROM sh2 GROUP BY s HAVING count(*) <= 1000),
    sh3 AS (SELECT doc_id, s FROM sh2 SEMI JOIN keep USING (s)),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT d1, d2, inter,
           round(inter / s1.n, 4) AS c12,
           round(inter / s2.n, 4) AS c21
    FROM pairs JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE greatest(round(inter / s1.n, 4), round(inter / s2.n, 4)) >= 0.05
    """,
)
def dedup_containment_dd2b(spark, sf_dir):
    from lectura.textops import containment_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return containment_pairs(docs, n=3, min_containment=0.05,
                             min_inter=2)


# MinHash+LSH near-dup. Full DuckDB oracle: the shingle/band hash is
# Spark's xxhash64, re-implemented in pure SQL (lectura/oracle_sql.py —
# HUGEINT arithmetic validated against the public XXH64 vectors and
# against Spark in tests/test_oracle_sql.py); signatures, banding and
# est_jaccard are mirrored exactly.
@q("dedup_minhash_lsh", _osql.dedup_minhash_lsh_sql(min_est_jaccard=0.4))
def dedup_minhash_lsh(spark, sf_dir):
    from lectura.textops import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return minhash_lsh_pairs(docs, k=32, bands=8, min_est_jaccard=0.4)


# SimHash near-dup. Full DuckDB oracle: FNV-1a word hashes + the 64
# per-bit majority sums + 4×16-bit pigeonhole banding in pure SQL.
@q("dedup_simhash", _osql.dedup_simhash_sql(max_hamming=8))
def dedup_simhash(spark, sf_dir):
    from lectura.textops import simhash_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return simhash_pairs(docs, max_hamming=8)


# SimHash banding with the hot-bucket document-frequency cap (the
# quadratic-join guard the export pipeline runs with): buckets holding
# more than max_df signatures are excluded from candidate generation.
# max_df=8 binds on this fixture (drops 4 buckets, 118 → 84 pairs), so
# the hash check fails if the cap over- or under-drops.
@q("dedup_simhash_capped",
   _osql.dedup_simhash_sql(max_hamming=8, max_df=8))
def dedup_simhash_capped(spark, sf_dir):
    from lectura.textops import simhash_band_pairs, simhash_udf

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sh = docs.select(F.col("doc_id").alias("id"),
                     simhash_udf(F.col("text")).alias("sh"))
    return simhash_band_pairs(sh, max_hamming=8, max_df=8)


# Embedding-cosine near-dup pairs (bounded all-pairs baseline)
@q(
    "dedup_cosine_pairs",
    """
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.vec_id < 150 AND b.vec_id < 150
    WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.35
    """,
)
def dedup_cosine_pairs(spark, sf_dir):
    from lectura.vectorops import cosine_pairs

    return cosine_pairs(t(spark, sf_dir, "embeddings"), 0.35, max_id=150)


# SemDeDup-style embedding near-dup clustering (the LSH scale path for
# what dedup_cosine_pairs does by bounded all-pairs): sign-band LSH
# candidates → cosine ≥ 0.8 edges → connected components → keeper per
# cluster. The synthetic embeddings have no genuine near-dups (max
# cross-cosine ≈ 0.5), so the fixture plants them deterministically:
# every even base vector gets a copy with 3 vec_id-dependent dimensions
# zeroed (+10000), every 6th additionally a copy with dims 16–18 zeroed
# (+20000) — pure indexed element edits, bit-exact on both engines, so
# sign bits and cosines agree exactly. Expected output: 66 two-clusters
# + 34 three-clusters, keeper = base id.
@q(
    "dedup_semantic_clusters",
    """
    WITH RECURSIVE base AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
    ), fx AS (
      SELECT vec_id, embedding FROM base
      UNION ALL
      SELECT vec_id + 10000,
             [CASE WHEN j - 1 >= (vec_id % 5) * 3
                    AND j - 1 < (vec_id % 5) * 3 + 3
                   THEN CAST(0 AS FLOAT) ELSE embedding[j] END
              for j in generate_series(1, 64)]
      FROM base WHERE vec_id % 2 = 0
      UNION ALL
      SELECT vec_id + 20000,
             [CASE WHEN j BETWEEN 16 AND 18
                   THEN CAST(0 AS FLOAT) ELSE embedding[j] END
              for j in generate_series(1, 64)]
      FROM base WHERE vec_id % 6 = 0
    ), b AS (
      SELECT vec_id, unnest(generate_series(0, 7)) AS band,
             unnest([list_aggregate(
                       [CASE WHEN embedding[bb*8 + j] >= 0
                             THEN (1 << (j - 1)) ELSE 0 END
                        for j in generate_series(1, 8)], 'sum')
                     for bb in generate_series(0, 7)]) AS key
      FROM fx
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS v1, c.vec_id AS v2
      FROM b a JOIN b c
        ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
    ), edges0 AS (
      SELECT v1, v2 FROM pairs
      JOIN fx e1 ON e1.vec_id = v1 JOIN fx e2 ON e2.vec_id = v2
      WHERE round(list_cosine_similarity(e1.embedding, e2.embedding), 4)
            >= 0.8
    ), und AS (SELECT v1 AS u, v2 AS v FROM edges0
               UNION SELECT v2, v1 FROM edges0),
    reach(a, bn) AS (
      SELECT u, v FROM und
      UNION
      SELECT r.a, u2.v FROM reach r JOIN und u2 ON r.bn = u2.u
    ), comp AS (
      SELECT a AS node, least(a, min(bn)) AS component FROM reach GROUP BY a
    ), sizes AS (
      SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT node AS vec_id, component AS keeper_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           node <> component AS is_dup
    FROM comp JOIN sizes USING (component)
    """,
)
def dedup_semantic_clusters(spark, sf_dir):
    from lectura.vectorops import semantic_dedup

    base = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200) \
        .select("vec_id", "embedding")
    lo = (F.col("vec_id") % 5) * 3
    dup1 = base.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when((i >= lo) & (i < lo + 3),
                                F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    dup2 = base.filter(F.col("vec_id") % 6 == 0).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when((i >= 15) & (i < 18),
                                F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    fx = base.unionByName(dup1).unionByName(dup2)
    return semantic_dedup(fx, min_cosine=0.8, n_bands=8, band_bits=8)


# Brute-force cosine top-k (ANN exactness baseline)
@q(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(embedding, qe), 4) AS cosine
    FROM embeddings, q
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)
def ann_cosine_topk(spark, sf_dir):
    from lectura.vectorops import brute_force_topk

    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return brute_force_topk(emb, list(qvec), k=10)


# LSH-bucketed ANN, recall@k contract (VERDICT r2 #5: out of the
# no_oracle bucket). The LSH result itself can't be SQL-expressed, but
# recall vs the exact top-k CAN be asserted: the Spark side reranks its
# candidate set and emits whether recall@10 clears the threshold; the
# oracle is the expected threshold row. Deterministic end to end —
# planes are seeded, bucketing is per-row numpy arithmetic, the rerank
# breaks cosine ties on vec_id. Measured recall: 0.8 at sf0.01 (29 % of
# the corpus as candidates, planes=8 × tables=64), 0.9 at sf0.001 and
# sf0.1 — threshold 0.6 holds at every provided sf.
@q("ann_lsh_topk", "SELECT 10 AS k, TRUE AS recall_ok")
def ann_lsh_topk(spark, sf_dir):
    from lectura.vectorops import brute_force_topk, lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0)
                .select("embedding").head()[0])
    approx = lsh_topk(emb, qvec, k=10, n_planes=8, n_tables=64)
    exact = brute_force_topk(emb, qvec, k=10)
    return (
        approx.select("vec_id").join(exact.select("vec_id"), "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(F.lit(10).alias("k"),
                (F.col("n_hits") >= 6).alias("recall_ok"))
    )


# IVF ANN recall@k contract — same shape as ann_lsh_topk. The spherical
# k-means quantizer is parallelism-invariant (hash-ordered init,
# centroids rounded per iteration — vectorops.kmeans_centroids), so the
# candidate set and recall are deterministic at a given sf. Measured
# recall probing 8 of 16 cells: 0.9 at sf0.01/sf0.1, 0.8 at sf0.001 —
# threshold 0.6 holds at every provided sf.
@q("ann_ivf_topk", "SELECT 10 AS k, TRUE AS recall_ok")
def ann_ivf_topk(spark, sf_dir):
    from lectura.vectorops import brute_force_topk, ivf_topk

    emb = t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0)
                .select("embedding").head()[0])
    approx = ivf_topk(emb, qvec, k=10, n_centroids=16, n_probe=8)
    exact = brute_force_topk(emb, qvec, k=10)
    return (
        approx.select("vec_id").join(exact.select("vec_id"), "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(F.lit(10).alias("k"),
                (F.col("n_hits") >= 6).alias("recall_ok"))
    )


# PQ ANN recall@k contract — third ANN family (compressed codes; LSH is
# data-independent, IVF partition-prunes, PQ shrinks the scanned bytes).
# Codebooks share kmeans_centroids' determinism recipe (hash-ordered
# init, 9dp-rounded means), so codes and recall are reproducible.
# Measured recall at m=16/nc=16/rerank=200: 1.0 at sf0.001 and sf0.01,
# 0.9 at sf0.1 — threshold 0.6 holds at every provided sf.
@q("ann_pq_topk", "SELECT 10 AS k, TRUE AS recall_ok")
def ann_pq_topk(spark, sf_dir):
    from lectura.vectorops import brute_force_topk, pq_topk

    emb = t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0)
                .select("embedding").head()[0])
    approx = pq_topk(emb, qvec, k=10, m=16, n_centroids=16, rerank=200)
    exact = brute_force_topk(emb, qvec, k=10)
    return (
        approx.select("vec_id").join(exact.select("vec_id"), "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(F.lit(10).alias("k"),
                (F.col("n_hits") >= 6).alias("recall_ok"))
    )


# IVF-PQ composed ANN recall@k contract (VERDICT r4 #3) — the IVFADC
# layout real billion-vector deployments use: IVF lists store the
# m-byte PQ codes of RESIDUALS, ADC scans probed lists only. Both
# quantizers reuse the deterministic recipe (hash-ordered init,
# 9dp-rounded means), residuals are JVM zip_with, ADC tables driver-
# side numpy — result parallelism-invariant. Measured recall probing
# 8/16 cells at m=16/nc=16/rerank=200: 0.8 at sf0.001, 0.9 at sf0.01
# and sf0.1 — threshold 0.6 holds at every provided sf.
@q("ann_ivfpq_topk", "SELECT 10 AS k, TRUE AS recall_ok")
def ann_ivfpq_topk(spark, sf_dir):
    from lectura.vectorops import brute_force_topk, ivfpq_topk

    emb = t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0)
                .select("embedding").head()[0])
    approx = ivfpq_topk(emb, qvec, k=10, n_centroids=16, n_probe=8,
                        m=16, pq_centroids=16, rerank=200)
    exact = brute_force_topk(emb, qvec, k=10)
    return (
        approx.select("vec_id").join(exact.select("vec_id"), "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(F.lit(10).alias("k"),
                (F.col("n_hits") >= 6).alias("recall_ok"))
    )


# ---------------------------------------------------------------------------
# Graph operators over the document-similarity graph (graphops.py):
# dup-cluster grouping (connected components) and centrality scoring
# (PageRank). Both engines derive the SAME edge set — word-trigram
# Jaccard pairs (the dedup_ngram_jaccard pipeline) at the rounded-4dp
# threshold — so floats can't perturb graph membership.
# ---------------------------------------------------------------------------
_SIM_GRAPH_CTES = r"""words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE doc_id < 300
), sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(w[i:i+2], ' ')
                 for i in generate_series(1, greatest(len(w)-2, 1))]) AS s
  FROM words
), sh2 AS (SELECT doc_id, s FROM sh WHERE s <> ''),
sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
keep AS (SELECT s FROM sh2 GROUP BY s HAVING count(*) <= 1000),
sh3 AS (SELECT doc_id, s FROM sh2 SEMI JOIN keep USING (s)),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges0 AS (
  SELECT d1, d2 FROM pairs
  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE round(inter * 1.0 / (s1.n + s2.n - inter), 4) >= 0.02
)"""


def _sim_edges(spark, sf_dir):
    from lectura.textops import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return ngram_jaccard_pairs(docs, n=3, min_inter=2).filter(
        F.col("jaccard") >= 0.02
    )


def _pagerank_oracle(iters: int = 8, d: float = 0.85) -> str:
    # Unrolled power iteration: plain chained CTEs (aggregates are not
    # allowed in a recursive term), one per iteration — mirrors the
    # fixed-iteration Spark loop exactly.
    ctes = [
        f"WITH {_SIM_GRAPH_CTES}",
        "sym AS (SELECT d1 AS u, d2 AS v FROM edges0"
        " UNION SELECT d2, d1 FROM edges0)",
        "deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u)",
        "nn AS (SELECT count(*) * 1.0 AS n FROM deg)",
        "pr0 AS (SELECT u AS node, 1.0 / nn.n AS rank FROM deg, nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"pr{i} AS (SELECT s.v AS node,"
            f" ({1.0 - d!r}) / nn.n + {d!r} * sum(p.rank / dg.deg) AS rank"
            f" FROM sym s JOIN pr{i - 1} p ON s.u = p.node"
            f" JOIN deg dg ON s.u = dg.u, nn GROUP BY s.v, nn.n)"
        )
    return (", ".join(ctes)
            + f" SELECT node, round(rank, 4) AS rank FROM pr{iters}")


@q(
    "graph_components",
    "WITH RECURSIVE " + _SIM_GRAPH_CTES + """,
und AS (SELECT d1 AS u, d2 AS v FROM edges0 UNION SELECT d2, d1 FROM edges0),
reach(a, b) AS (
  SELECT u, v FROM und
  UNION
  SELECT r.a, u2.v FROM reach r JOIN und u2 ON r.b = u2.u
)
SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a
""",
)
def graph_components(spark, sf_dir):
    """Dup-cluster grouping: connected components (large-star/small-star,
    O(log n) rounds) over the trigram-Jaccard near-dup edges; the DuckDB
    oracle computes the same labels by transitive closure."""
    from lectura.graphops import connected_components

    return connected_components(_sim_edges(spark, sf_dir), src="d1", dst="d2")


@q("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """Centrality over the similarity graph: 8 power iterations,
    damping 0.85, undirected edges; rank rounded to 4dp on both engines
    so IEEE summation order can't flip the value hash."""
    from lectura.graphops import pagerank

    return pagerank(
        _sim_edges(spark, sf_dir), src="d1", dst="d2",
        damping=0.85, iters=8, undirected=True,
    ).select("node", F.round("rank", 4).alias("rank"))


# G4 — per-node triangle counts (degree-ordered compact-forward) over a
# part co-occurrence graph: parts sharing an order are linked, so
# multi-part orders make natural cliques (61k triangles at sf0.01,
# DuckDB-verified before wiring). The oracle counts each triangle once
# from its id-ordered corner — orientation only prevents double counting,
# so the id-ordered SQL and the degree-ordered Spark plan must agree on
# the exact same triangle SET.
@q(
    "graph_triangles_g4",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem WHERE l_orderkey % 3 = 0),
    canon AS (SELECT a.p AS u, b.p AS v FROM lp a JOIN lp b
              ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM canon e1 JOIN canon e2 ON e1.v = e2.u
            JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT node, count(*) AS n_tri FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) GROUP BY node
    """,
)
def graph_triangles_g4(spark, sf_dir):
    from lectura.graphops import triangle_counts

    lp = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey").distinct()
    )
    pairs = (
        lp.alias("a")
        .join(lp.alias("b"),
              (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
              & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .select(F.col("a.l_partkey").alias("p1"),
                F.col("b.l_partkey").alias("p2"))
    )
    return triangle_counts(pairs, src="p1", dst="p2")


def _hits_oracle(iters: int = 8, edges_with: str | None = None) -> str:
    # Unrolled HITS power iteration over DIRECTED edges exposed by an
    # `edges0(d1, d2)` CTE (default: the sim-graph pipeline): four
    # chained CTEs per iteration (raw authority pull, L1-normalize,
    # raw hub pull, L1-normalize) — mirrors the fixed-iteration Spark
    # loop exactly. LEFT JOINs keep zero-degree sides at 0.0 rather
    # than dropping them.
    # edges0 inlines its whole pipeline per reference; the 8 unrolled
    # iterations reference it 16 times, so materialize one copy (and
    # every per-iteration CTE that is referenced twice) or DuckDB
    # re-opens the parquet per inline and runs out of fds.
    ctes = [
        f"WITH {edges_with if edges_with is not None else _SIM_GRAPH_CTES}",
        # defensive edge normalization mirroring graphops.hits (ADVICE
        # r4): the operator applies .distinct() and u != v before
        # iterating, so an edges_with fixture that emits a duplicate or
        # self-loop edge must not silently diverge oracle from operator
        "eh AS MATERIALIZED (SELECT DISTINCT d1, d2 FROM edges0"
        " WHERE d1 <> d2)",
        "nodes AS MATERIALIZED (SELECT d1 AS node FROM eh"
        " UNION SELECT d2 FROM eh)",
        "h0 AS (SELECT node, 1.0 AS hub FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"ar{i} AS MATERIALIZED (SELECT n.node,"
            f" coalesce(sum(h.hub), 0.0) AS a"
            f" FROM nodes n LEFT JOIN eh e ON e.d2 = n.node"
            f" LEFT JOIN h{i - 1} h ON h.node = e.d1 GROUP BY n.node)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT node,"
            f" a / (SELECT sum(a) FROM ar{i}) AS auth FROM ar{i})"
        )
        ctes.append(
            f"hr{i} AS MATERIALIZED (SELECT n.node,"
            f" coalesce(sum(a.auth), 0.0) AS h"
            f" FROM nodes n LEFT JOIN eh e ON e.d1 = n.node"
            f" LEFT JOIN a{i} a ON a.node = e.d2 GROUP BY n.node)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT node,"
            f" h / (SELECT sum(h) FROM hr{i}) AS hub FROM hr{i})"
        )
    return (
        ", ".join(ctes)
        + f" SELECT h{iters}.node, round(hub, 4) AS hub,"
        f" round(auth, 4) AS auth"
        f" FROM h{iters} JOIN a{iters} ON h{iters}.node = a{iters}.node"
    )


# G5 — HITS hubs/authorities over the directed sim edges (d1 -> d2, the
# id-ordered near-dup pairs): same float-determinism recipe as PageRank
# (fixed iterations, round to 4dp on both engines before hashing).
@q("graph_hits_g5", _hits_oracle())
def graph_hits_g5(spark, sf_dir):
    from lectura.graphops import hits

    return hits(
        _sim_edges(spark, sf_dir), src="d1", dst="d2", iters=8
    ).select("node", F.round("hub", 4).alias("hub"),
             F.round("auth", 4).alias("auth"))


def _lpa_oracle(iters: int = 4) -> str:
    # Unrolled synchronous label propagation: two CTEs per round —
    # neighbor-label counts, then the modal label with ties to the
    # smallest via the same struct-ordered min key the Spark operator
    # uses (min(struct(-cnt, label)).label — signed-correct, unlike the
    # former zero-padded printf key; ADVICE r4). Integer-only: exact
    # hash match.
    ctes = [
        f"WITH {_SIM_GRAPH_CTES}",
        "sym AS (SELECT d1 AS u, d2 AS v FROM edges0"
        " UNION SELECT d2, d1 FROM edges0)",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT s.u AS node, p.label, count(*) AS cnt"
            f" FROM sym s JOIN l{i - 1} p ON s.v = p.node"
            f" GROUP BY s.u, p.label)"
        )
        ctes.append(
            f"l{i} AS (SELECT node, (min(struct_pack(nc := -cnt,"
            f" l := label))).l AS label FROM c{i} GROUP BY node)"
        )
    return ", ".join(ctes) + f" SELECT node, label FROM l{iters}"


# G6 — synchronous label propagation communities over the sim graph:
# 4 fixed rounds, min-label tie-break, integer-exact on both engines.
@q("graph_labelprop_g6", _lpa_oracle())
def graph_labelprop_g6(spark, sf_dir):
    from lectura.graphops import label_propagation

    return label_propagation(
        _sim_edges(spark, sf_dir), src="d1", dst="d2", iters=4)


# G7 — HITS over the REAL extracted anchor graph: the X1 anchor-
# extraction UDF produces the edge list (listing page -> href target;
# a hub page every listing links, a next-page ring, and a home link
# from every third page), then the G5 operator scores it. The oracle
# constructs the same edge set arithmetically (the anchor_text_g3
# fixture discipline — extraction semantics are pinned there and in
# pure-Python spec tests) and runs the same unrolled HITS chain. This
# checks the composition: extraction output is byte-compatible with
# the graph operator's node identity (host lowercasing, absolute-href
# passthrough), not just each operator alone.
_G7_EDGES = """ks AS (SELECT s_suppkey AS k FROM supplier),
edges0 AS (
  SELECT 'http://s' || k || '.example/list' AS d1,
         'http://hub.example/' AS d2 FROM ks
  UNION ALL
  SELECT 'http://s' || k || '.example/list',
         'http://s' || (k + 1) || '.example/list' FROM ks
  UNION ALL
  SELECT 'http://s' || k || '.example/list',
         'http://s0.example/list' FROM ks WHERE k % 3 = 2
)"""


@q("anchor_hits_g7", _hits_oracle(edges_with=_G7_EDGES))
def anchor_hits_g7(spark, sf_dir):
    from lectura.extract import extract_anchors_udf
    from lectura.graphops import hits

    s = t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    base = F.format_string("http://s%d.example/list", F.col("k"))
    html = F.concat(
        F.lit("<html><body>"),
        F.lit('<a href="http://hub.example/">Hub</a>'),
        F.format_string('<a href="http://s%d.example/list">next</a>',
                        F.col("k") + 1),
        F.when(F.col("k") % 3 == 2,
               F.lit('<a href="http://s0.example/list">home</a>'))
         .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    edges = (
        s.select(base.alias("src"),
                 F.explode(extract_anchors_udf(html, base)).alias("a"))
        .select("src", F.col("a.url").alias("dst"))
    )
    return hits(edges, iters=8).select(
        "node", F.round("hub", 4).alias("hub"),
        F.round("auth", 4).alias("auth"))


# C8 — redirect-chain resolution (301/rel=canonical alias chains) by
# pointer doubling. Fixture: a deterministic next-hop map over the
# contiguous customer keys — 2-cycles at u≡1,2 (mod 500), terminals at
# u≡0 (mod 100), descending chains elsewhere — which exercises every
# case: short resolved chains, chains longer than the 32-hop cap
# (u≡33..99 mod 100), pure cycles, and chains that LEAD INTO a cycle
# (3→2→1↔2). The oracle walks the same map step-by-step with a
# recursive CTE; the operator contracts it in log2(32)=5 joins —
# identical (src, final, hops, resolved) rows either way.
@q(
    "redirect_chains_c8",
    """
    WITH RECURSIVE nodes AS (SELECT c_custkey AS u FROM customer),
    edges AS (
      SELECT u, CASE WHEN u % 500 = 1 THEN u + 1
                     WHEN u % 500 = 2 THEN u - 1
                     WHEN u % 100 = 0 THEN NULL
                     ELSE u - 1 END AS v
      FROM nodes),
    e AS (SELECT u, min(v) AS v FROM edges
          WHERE v IS NOT NULL GROUP BY u),
    walk(src, cur, h, term) AS (
      SELECT e.u, e.v, CAST(1 AS BIGINT), t.u IS NULL
      FROM e LEFT JOIN e t ON e.v = t.u
      UNION ALL
      SELECT w.src, e2.v, w.h + 1, t2.u IS NULL
      FROM walk w JOIN e e2 ON w.cur = e2.u
      LEFT JOIN e t2 ON e2.v = t2.u
      WHERE NOT w.term AND w.h < 32
    )
    SELECT src, cur AS final, h AS hops, term AS resolved
    FROM walk WHERE term OR h = 32
    """,
)
def redirect_chains_c8(spark, sf_dir):
    from lectura.graphops import resolve_chains

    u = F.col("u")
    nxt = (
        F.when(u % 500 == 1, u + 1)
        .when(u % 500 == 2, u - 1)
        .when(u % 100 == 0, F.lit(None))
        .otherwise(u - 1)
    )
    edges = (
        t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("u"))
        .select("u", nxt.alias("v"))
        .filter(F.col("v").isNotNull())
    )
    return resolve_chains(edges, src="u", dst="v", max_hops=32)


# Text quality scoring (length / stopword / vocabulary-diversity signals)
@q(
    "text_quality",
    """
    WITH w AS (
      SELECT doc_id, n_chars, string_split_regex(trim(text), '\\s+') AS words,
             len(regexp_extract_all(text,
                 '\\b(the|and|of|to|a|in|is|for|on|with)\\b')) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, len(words) AS n_words,
           round(CAST(list_aggregate(list_transform(words, x -> length(x)),
                                     'sum') AS DOUBLE) / len(words), 4)
             AS avg_word_len,
           round(CAST(n_stop AS DOUBLE) / len(words), 4) AS stopword_ratio,
           round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 4)
             AS distinct_ratio
    FROM w WHERE len(words) > 0
    """,
)
def text_quality(spark, sf_dir):
    from lectura.textops import _STOP_RX, words

    docs = t(spark, sf_dir, "documents")
    w = words(F.col("text"))
    d = docs.select(
        "doc_id",
        "n_chars",
        w.alias("words"),
        F.size(
            F.expr(
                "regexp_extract_all(text, '"
                + _STOP_RX.replace("\\", "\\\\")
                + "', 0)"
            )
        ).alias("n_stop"),
    ).filter(F.size("words") > 0)
    return d.select(
        "doc_id",
        "n_chars",
        F.size("words").alias("n_words"),
        F.round(
            F.aggregate(
                F.transform("words", lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size("words"),
            4,
        ).alias("avg_word_len"),
        F.round(F.col("n_stop").cast("double") / F.size("words"), 4).alias(
            "stopword_ratio"
        ),
        F.round(
            F.size(F.array_distinct("words")).cast("double") / F.size("words"), 4
        ).alias("distinct_ratio"),
    )


# Vocabulary-affinity classification (language-ID heuristic shape: n-gram/
# keyword scores + argmax)
@q(
    "lang_affinity",
    """
    WITH s AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '\\b(select|join|filter|group|window|sort|merge|scan|query)\\b'))
               AS sql_score,
             len(regexp_extract_all(text,
                 '\\b(data|row|table|batch|stream|value|key|line)\\b'))
               AS data_score,
             len(regexp_extract_all(text,
                 '\\b(fast|slow|small|large|cold|hot)\\b')) AS size_score
      FROM documents
    )
    SELECT doc_id, sql_score, data_score, size_score,
           CASE WHEN sql_score >= data_score AND sql_score >= size_score
                THEN 'sql'
                WHEN data_score >= size_score THEN 'data'
                ELSE 'size' END AS affinity
    FROM s
    """,
)
def lang_affinity(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    def score(rx):
        return F.size(F.expr(f"regexp_extract_all(text, '{rx}', 0)"))

    s = docs.select(
        "doc_id",
        score(r"\\b(select|join|filter|group|window|sort|merge|scan|query)\\b")
        .alias("sql_score"),
        score(r"\\b(data|row|table|batch|stream|value|key|line)\\b")
        .alias("data_score"),
        score(r"\\b(fast|slow|small|large|cold|hot)\\b").alias("size_score"),
    )
    return s.withColumn(
        "affinity",
        F.when(
            (F.col("sql_score") >= F.col("data_score"))
            & (F.col("sql_score") >= F.col("size_score")),
            F.lit("sql"),
        )
        .when(F.col("data_score") >= F.col("size_score"), F.lit("data"))
        .otherwise(F.lit("size")),
    )


# X3b — real language ID (stopword-profile argmax, textops.lang_id) over
# a deterministic multilingual fixture built from supplier: one phrase
# per language (mixed case + punctuation to exercise normalization), a
# que/Que doc that ties es-vs-fr (resolved to the lexicographically
# smaller code), and a marker-free doc that must come back 'und'.
@q(
    "lang_id_stopword",
    """
    WITH x AS (
      SELECT s_suppkey AS doc_id,
             list_value('The, OF and? it was!', 'der und die nicht ist',
                        'el los que por con', 'le les des est dans',
                        'que Que', '')[(s_suppkey % 6) + 1]
             || printf(' zz%d filler%d', s_suppkey, s_suppkey * 3) AS text
      FROM supplier
    ), tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS toks
      FROM x
    ), h AS (
      SELECT doc_id, toks,
        len(list_filter(toks, t -> list_contains(
          ['der','die','und','das','nicht','ist','ich','ein','zu','mit'],
          t))) AS h_de,
        len(list_filter(toks, t -> list_contains(
          ['the','and','of','to','in','is','that','it','for','was'],
          t))) AS h_en,
        len(list_filter(toks, t -> list_contains(
          ['el','los','y','que','en','un','por','con','una','para'],
          t))) AS h_es,
        len(list_filter(toks, t -> list_contains(
          ['le','les','des','et','est','pour','que','dans','une','la'],
          t))) AS h_fr
      FROM tok
    )
    SELECT doc_id,
      CASE WHEN greatest(h_de, h_en, h_es, h_fr) < 1 THEN 'und'
           WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
           WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
           WHEN h_es >= h_fr THEN 'es'
           ELSE 'fr' END AS lang_pred,
      CAST(greatest(h_de, h_en, h_es, h_fr) AS BIGINT) AS best_hits,
      CAST(len(toks) AS BIGINT) AS n_tokens
    FROM h
    """,
)
def lang_id_stopword(spark, sf_dir):
    from lectura.textops import lang_id

    phrases = ["The, OF and? it was!", "der und die nicht ist",
               "el los que por con", "le les des est dans", "que Que", ""]
    sup = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("doc_id"))
    docs = sup.select(
        "doc_id",
        F.concat(
            F.element_at(F.array(*[F.lit(p) for p in phrases]),
                         (F.col("doc_id") % 6 + 1).cast("int")),
            F.format_string(" zz%d filler%d",
                            F.col("doc_id"), F.col("doc_id") * 3),
        ).alias("text"),
    )
    return lang_id(docs, id_col="doc_id")


# Token counting (whitespace + BPE-ish regex tokenizer)
@q(
    "token_count",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS n_re_tokens
    FROM documents
    """,
)
def token_count(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
        ).alias("n_re_tokens"),
    )


# Rolling-hash fingerprint. Full DuckDB oracle: FNV-1a per word + the
# order-sensitive polynomial fold as HUGEINT list_reduce (oracle_sql.py);
# exact parity vs pure python additionally in tests/test_textops.py.
@q("fingerprint_rolling", _osql.fingerprint_rolling_sql())
def fingerprint_rolling(spark, sf_dir):
    from lectura.textops import rolling_fingerprint_udf

    return t(spark, sf_dir, "documents").select(
        "doc_id", rolling_fingerprint_udf("text").alias("fp")
    )


# Multimodal plumbing: opaque binary payload + typed metadata; "decode" is
# a deterministic stub (real image/audio libs absent in this container) but
# the Spark-side schema/batching/UDF plumbing is real and SQL-checked.
@q(
    "multimodal_meta",
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha,
           1 + octet_length(encode(text)) % 640 AS fake_width,
           1 + (octet_length(encode(text)) * 7) % 480 AS fake_height,
           1 + octet_length(encode(text)) % 16 AS fake_n_frames
    FROM documents
    """,
)
def multimodal_meta(spark, sf_dir):
    import hashlib
    import pandas as pd

    def decode_stub(batches):
        # stands in for image/audio decode: bytes -> typed metadata.
        for pdf in batches:
            blobs = [x.encode("utf-8") for x in pdf["text"]]
            n = [len(b) for b in blobs]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "payload_sha": [hashlib.sha256(b).hexdigest() for b in blobs],
                    "fake_width": [1 + x % 640 for x in n],
                    "fake_height": [1 + (x * 7) % 480 for x in n],
                    "fake_n_frames": [1 + x % 16 for x in n],
                }
            )

    return t(spark, sf_dir, "documents").select("doc_id", "text").mapInPandas(
        decode_stub,
        "doc_id long, n_bytes long, payload_sha string, fake_width long, "
        "fake_height long, fake_n_frames long",
    )


# Multimodal feature extraction: 16-bin byte histogram over the opaque
# payload — the "feature-extract" stage between decode (multimodal_meta)
# and sampling (frame_sample). The Spark side is the REAL plumbing a
# CLIP-style featurizer would use (mapInPandas, numpy over Arrow
# batches, one histogram pass per payload); the oracle reconstructs the
# same bins from codepoints (byte == codepoint on this ASCII fixture,
# the documented oracle_sql.py assumption). Empty/NULL payloads emit no
# rows on both engines.
@q(
    "mm_byte_hist_q14",
    """
    WITH b AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> unicode(text[i]) // 16) AS bins
      FROM documents WHERE text IS NOT NULL
    ), e AS (
      SELECT doc_id, unnest(bins) AS bin FROM b
    )
    SELECT doc_id, bin, count(*) AS n FROM e GROUP BY 1, 2
    """,
)
def mm_byte_hist_q14(spark, sf_dir):
    import numpy as np
    import pandas as pd

    def featurize(batches):
        # stands in for an image/audio featurizer: bytes -> fixed-size
        # feature vector (here: a 16-bin intensity histogram). ONE
        # numpy pass per Arrow batch: concatenate the batch's payloads,
        # key every byte by row_idx*16 + bin, and take a single
        # bincount — no per-row bincount loop.
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = [x.encode("utf-8") for x in pdf["text"]]
            lens = np.fromiter((len(b) for b in payloads), dtype=np.int64,
                               count=len(payloads))
            b = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            row_idx = np.repeat(np.arange(len(payloads)), lens)
            flat = np.bincount(row_idx * 16 + (b >> 4),
                               minlength=len(payloads) * 16)
            hist = flat.reshape(len(payloads), 16)
            rows, bins = np.nonzero(hist)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[rows],
                "bin": bins,
                "n": hist[rows, bins],
            })

    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text").filter(F.col("text").isNotNull())
        .mapInPandas(featurize, "doc_id long, bin long, n long")
    )


# Multimodal frame sampling over array payloads (every-2nd-frame averages)
@q(
    "frame_sample",
    """
    SELECT vec_id, unnest(generate_series(0, 6, 2)) AS frame_no,
           unnest([round(list_aggregate(
                       list_transform(embedding[f*8+1:f*8+8],
                                      x -> CAST(x AS DOUBLE)), 'sum') / 8, 4)
                   + 0.0
                   for f in generate_series(0, 6, 2)]) AS frame_avg
    FROM embeddings
    """,
)
def frame_sample(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    frames = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(6), F.lit(2)),
            lambda f: F.struct(
                f.alias("frame_no"),
                # + 0.0 folds IEEE -0.0 to +0.0 (x + (+0) = +0 when
                # x = -0): a near-zero negative mean otherwise rounds
                # to -0.0 on one engine and 0.0 on the other, and the
                # driver's string hash treats them as different values
                (F.round(
                    F.aggregate(
                        F.slice("embedding", f * 8 + 1, 8),
                        F.lit(0.0),
                        lambda acc, x: acc + x.cast("double"),
                    )
                    / 8,
                    4,
                ) + F.lit(0.0)).alias("frame_avg"),
            ),
        )
    )
    return emb.select("vec_id", frames.alias("fr")).select(
        "vec_id", F.col("fr.frame_no").alias("frame_no"),
        F.col("fr.frame_avg").alias("frame_avg"),
    )


# ---------------------------------------------------------------------------
# Crawl-domain operators over fixtures (U1–U5 shapes; engine-hash ops and
# the crawl itself are rows-only — their real check is the pure oracle)
# ---------------------------------------------------------------------------

# U1 canonicalization: the REAL pandas-UDF canonicalizer vs a DuckDB
# expression that constructs the expected canonical form for a
# parameterized family of messy URLs (case, default port, dot-segments,
# fragments, query preservation)
@q(
    "canonicalize_u1",
    """
    SELECT concat('HTTP://Host', c_custkey % 37, '.EXAMPLE:80/a/../p/',
                  c_custkey, '?q=', c_nationkey, '#frag') AS raw_url,
           concat('http://host', c_custkey % 37, '.example/p/',
                  c_custkey, '?q=', c_nationkey) AS url
    FROM customer
    """,
)
def canonicalize_u1(spark, sf_dir):
    from lectura.urlnorm import canonicalize_udf

    c = t(spark, sf_dir, "customer")
    raw = F.concat(
        F.lit("HTTP://Host"), (F.col("c_custkey") % 37).cast("string"),
        F.lit(".EXAMPLE:80/a/../p/"), F.col("c_custkey").cast("string"),
        F.lit("?q="), F.col("c_nationkey").cast("string"), F.lit("#frag"),
    )
    return c.select(raw.alias("raw_url")).withColumn(
        "url", canonicalize_udf("raw_url")
    )


# U3 host-reverse sort key: the crawl's own JVM expressions (url_parts)
@q(
    "host_reverse_u3",
    """
    SELECT host,
           array_to_string(list_reverse(string_split(host, '.')), ',')
             || ')/p' || CAST(c_custkey AS VARCHAR) AS hrk
    FROM (SELECT concat('www.host', c_custkey % 37, '.example.com') AS host,
                 c_custkey
          FROM customer)
    """,
)
def host_reverse_u3(spark, sf_dir):
    from lectura.urlnorm import url_parts

    c = t(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("http://www.host"), (F.col("c_custkey") % 37).cast("string"),
        F.lit(".example.com/p"), F.col("c_custkey").cast("string"),
    )
    host, hrk, _ = url_parts(url)
    return c.select(host, hrk)


# U2 URL part extraction (parse_url native fn vs regex oracle)
@q(
    "url_parts_u2",
    """
    SELECT url,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS query
    FROM (SELECT concat('http://host', o_custkey % 37, '.example/p/',
                        o_orderkey, '?q=', o_custkey) AS url FROM orders)
    """,
)
def url_parts_u2(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("http://host"), (F.col("o_custkey") % 37).cast("string"),
        F.lit(".example/p/"), F.col("o_orderkey").cast("string"),
        F.lit("?q="), F.col("o_custkey").cast("string"),
    )
    return o.select(url.alias("url")).select(
        "url",
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY')").alias("query"),
    )


# U5/U6 — host_bucket + salt distribution. Full DuckDB oracle via the
# pure-SQL xxhash64 (oracle_sql.py) + pmod, mirroring urlnorm.host_bucket.
@q("host_bucket_u5", _osql.host_bucket_u5_sql(buckets=32))
def host_bucket_u5(spark, sf_dir):
    from lectura.urlnorm import host_bucket, salt

    c = t(spark, sf_dir, "customer")
    host = F.concat(F.lit("host"), (F.col("c_custkey") % 37).cast("string"),
                    F.lit(".example"))
    return (
        c.select(host.alias("host"))
        .withColumn("bucket", host_bucket("host", 32))
        .withColumn("salt", salt("host", 8))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.countDistinct("host").alias("n_hosts"))
    )


# D6 — approx_count_distinct. HLL sketches differ per engine, so the
# approximate VALUE can't be oracle-matched — but the exact count can,
# and the approximation error bound is a checkable property (Spark's
# default rsd is 0.05; the 15 % band leaves deterministic margin).
# Same contract pattern as the ANN recall rows (VERDICT r2 #5).
@q(
    "approx_distinct_d6",
    """
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS err_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct_d6(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        (
            F.abs(F.approx_count_distinct("l_orderkey")
                  - F.countDistinct("l_orderkey"))
            <= 0.15 * F.countDistinct("l_orderkey")
        ).alias("err_ok"),
    )


# D1–D3 — partitioned bloom build + probe. The blob bytes are
# engine-internal, but the filter's defining properties ARE checkable
# against SQL: every inserted url must probe back positive (zero false
# negatives — the oracle knows the insert count exactly), and a
# disjoint novel set must stay under the FPP bound (configured 1e-3;
# the bound row asserts ≤ 1.5e-3, the same 1.5× margin the driver
# criterion allows). Deterministic: xxhash64 sharding + bit positions.
def _order_urls(spark, sf_dir, prefix):
    """Deterministic url fixture over `orders` shared by the bloom and
    cuckoo property contracts — the /o/ (inserted) vs /novel/ (disjoint
    probe) path split is load-bearing for both oracles, so it lives in
    ONE place."""
    return t(spark, sf_dir, "orders").select(
        F.concat(F.lit("http://host"),
                 (F.col("o_custkey") % 37).cast("string"),
                 F.lit(f".example/{prefix}/"),
                 F.col("o_orderkey").cast("string"))
        .alias("url")
    )


def _seen_capacity(n: int, n_shards: int = 16) -> int:
    """Per-shard capacity sized from the ACTUAL insert count (floor
    100k, 1.3× headroom): the property thresholds (FPP ≤ 1.5× bound)
    hold at ANY sf this way, instead of silently saturating when a
    larger-than-sf0.01 run exceeds a hardcoded 16×100k capacity."""
    return max(100_000, -(-13 * n // (10 * n_shards)))


@q(
    "bloom_seen_d1",
    """
    SELECT count(*) AS n_probed,
           CAST(0 AS BIGINT) AS n_false_negatives,
           TRUE AS fpp_ok
    FROM orders
    """,
)
def bloom_seen_d1(spark, sf_dir):
    from lectura.seen import shard_probe, shard_upsert

    inserted = _order_urls(spark, sf_dir, "o")
    shards = shard_upsert(None, inserted, 16,
                          _seen_capacity(inserted.count()), 1e-3)
    hits = shard_probe(inserted, shards, 16).agg(
        F.count("*").alias("n_probed"),
        F.sum((~F.col("maybe_seen")).cast("long"))
        .alias("n_false_negatives"),
    )
    novel_fp = shard_probe(_order_urls(spark, sf_dir, "novel"), shards,
                           16).agg(
        (F.sum(F.col("maybe_seen").cast("long"))
         <= F.lit(1.5e-3) * F.count("*")).alias("fpp_ok")
    )
    return hits.crossJoin(novel_fp)


# D1c — the cuckoo seen-set backend (B:2 "Bloom/cuckoo"): build shards
# over the same urls, probe them back (every inserted url must hit), and
# delete a slice (membership clears — the op bloom can't do). Blob bytes
# are engine-internal → rows-only; FPP/determinism/stash invariants in
# tests/test_cuckoo.py.
@q(
    "cuckoo_seen_d1c",
    """
    SELECT count(*) - 100 AS n_survivors,
           CAST(0 AS BIGINT) AS n_false_negatives,
           CAST(100 AS BIGINT) AS n_deleted,
           TRUE AS deleted_cleared_ok,
           TRUE AS fpp_ok
    FROM orders
    """,
)
def cuckoo_seen_d1c(spark, sf_dir):
    """Cuckoo seen-set property contract (same pattern as bloom_seen_d1,
    plus the delete cuckoo adds over bloom): after building over all
    order urls and deleting 100, every survivor still probes positive
    (no false negatives), ≥ 95 of the 100 deleted urls probe negative
    (a deleted key may still collide with another stored fingerprint —
    bounded, not zero), and a disjoint novel set stays under 1.5× the
    ~2^-16-per-slot-pair fingerprint FPP (bound set at 1e-3). Capacity
    sizes from the actual count (_seen_capacity) so the bounds hold at
    any sf."""
    from lectura.seen import cuckoo_delete, shard_probe, shard_upsert

    urls = _order_urls(spark, sf_dir, "o").cache()
    shards = shard_upsert(None, urls, 16, _seen_capacity(urls.count()),
                          kind="cuckoo")
    victims = urls.orderBy("url").limit(100).cache()
    after_delete = cuckoo_delete(shards, victims, 16)
    survivors = urls.join(victims, "url", "left_anti")
    surv = shard_probe(survivors, after_delete, 16, "cuckoo").agg(
        F.count("*").alias("n_survivors"),
        F.sum((~F.col("maybe_seen")).cast("long"))
        .alias("n_false_negatives"),
    )
    dele = shard_probe(victims, after_delete, 16, "cuckoo").agg(
        F.count("*").alias("n_deleted"),
        (F.sum(F.col("maybe_seen").cast("long")) <= F.lit(5))
        .alias("deleted_cleared_ok"),
    )
    novel = shard_probe(_order_urls(spark, sf_dir, "novel"),
                        after_delete, 16, "cuckoo").agg(
        (F.sum(F.col("maybe_seen").cast("long"))
         <= F.lit(1.5e-3) * F.count("*")).alias("fpp_ok")
    )
    return surv.crossJoin(dele).crossJoin(novel)


# A6 — per-partition lineage. Partition ids and per-partition checksums
# are runtime artifacts, but their GLOBAL rollup is exact and
# oracle-checkable: total rows, task count, and the url_key range via
# the pure-SQL xxhash64 chain (same seed-42 hash as U4).
@q("lineage_a6", _osql.lineage_a6_sql())
def lineage_a6(spark, sf_dir):
    from lectura.metrics import partition_lineage

    urls = t(spark, sf_dir, "customer").select(
        F.concat(F.lit("http://host"), (F.col("c_custkey") % 37).cast("string"),
                 F.lit(".example/c/"), F.col("c_custkey").cast("string"))
        .alias("url")
    ).repartition(8, "url")
    lin = partition_lineage(urls)
    return lin.select(
        F.sum("input_rows").alias("total_rows"),
        F.count("*").alias("n_parts"),
        F.min("min_url_key").alias("global_min_key"),
        F.max("max_url_key").alias("global_max_key"),
    )


# The flagship itself as a rows-only contract query: 2-round mini-crawl
# (full pipeline; equality vs the pure oracle is proven in tests/test_e2e.py)
@q("crawl_flagship", None)
def crawl_flagship(spark, sf_dir):
    import __spark_entry__ as e

    return e.entry(spark)


# ===========================================================================
# Structured Streaming operators (SURVEY.md §2.8) — each runs a REAL
# streaming query (file source → memory sink, availableNow trigger) over
# the fixture events and is checked against the same DuckDB SQL as its
# batch twin: streaming and batch must agree row-for-row.
# ===========================================================================

def _event_stream(spark, sf_dir):
    from lectura import streaming

    return streaming.read_event_stream(spark, f"{sf_dir}/events.parquet")


# ST9 — stream-stream interval join, streamed (append mode; the whole
# fixture arrives in one micro-batch, so no row is ever late and the
# streamed inner join equals the batch interval join the oracle runs)
@q(
    "stream_join_st9",
    """
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           date_diff('microsecond', v.ts, c.ts) AS gap_us
    FROM events v JOIN events c
      ON v.event_type = 'view' AND c.event_type = 'click'
     AND c.user_id = v.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_join_st9(spark, sf_dir):
    from lectura import streaming

    ev = _event_stream(spark, sf_dir)
    joined = streaming.view_click_attribution(ev)
    return streaming.collect_stream(joined, spark, output_mode="append")


# ST10 — stream-static enrichment join, streamed (append; stateless —
# the static dim broadcasts, the stream side never shuffles)
_DIM_ROWS = [("click", "engage", 2.0), ("view", "engage", 1.0),
             ("purchase", "convert", 10.0), ("signup", "convert", 5.0)]


@q(
    "stream_enrich_st10",
    """
    SELECT event_id, event_type, category,
           round(value * weight, 4) + 0.0 AS weighted_value
    FROM events
    JOIN (VALUES ('click', 'engage', 2.0), ('view', 'engage', 1.0),
                 ('purchase', 'convert', 10.0), ('signup', 'convert', 5.0))
         AS dim(event_type, category, weight)
    USING (event_type)
    """,
)
def stream_enrich_st10(spark, sf_dir):
    from lectura import streaming

    dim = spark.createDataFrame(
        _DIM_ROWS, "event_type string, category string, weight double")
    joined = streaming.enrich_events(_event_stream(spark, sf_dir), dim)
    return streaming.collect_stream(joined, spark, output_mode="append")


# ST2 — tumbling-window metrics, streamed (complete mode ⇒ watermark is
# advisory, so the full-input result equals the batch aggregation)
@q(
    "stream_tumbling_st2",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_st2(spark, sf_dir):
    from lectura import streaming

    agg = streaming.tumbling_metrics(_event_stream(spark, sf_dir))
    return streaming.collect_stream(agg, spark)


# ST3 — sliding-window rates, streamed
@q(
    "stream_sliding_st3",
    """
    SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*) AS n
    FROM (
      SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - k * 1800 AS ws
      FROM events, (VALUES (0), (1)) ks(k)
    ) GROUP BY 1
    """,
)
def stream_sliding_st3(spark, sf_dir):
    from lectura import streaming

    agg = streaming.sliding_rates(_event_stream(spark, sf_dir))
    return streaming.collect_stream(agg, spark)


# ST4 — session windows, streamed
@q(
    "stream_session_st4",
    """
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
        FROM events)
    ) GROUP BY user_id, session_id
    """,
)
def stream_session_st4(spark, sf_dir):
    from lectura import streaming

    agg = streaming.session_metrics(_event_stream(spark, sf_dir))
    return streaming.collect_stream(agg, spark)


# ST7 — streaming dedupe (first-occurrence-wins on the event feed);
# projected to the key column so the surviving row set is deterministic
@q(
    "stream_dedupe_st7",
    "SELECT DISTINCT event_type FROM events",
)
def stream_dedupe_st7(spark, sf_dir):
    from lectura import streaming

    ev = _event_stream(spark, sf_dir).select("event_type", "ts")
    out = streaming.stream_dedupe(ev, ["event_type"]).select("event_type")
    return streaming.collect_stream(out, spark, output_mode="append")


# ST6 — stateful per-host throttle (state across micro-batches is a
# runtime artifact → rows-only; cross-batch behavior proven in
# tests/test_streaming.py). Aggregated so the output is deterministic.
@q(
    "stream_host_throttle_st6",
    """
    SELECT 'host' || CAST(user_id % 13 AS VARCHAR) AS host,
           count(*) AS n, TRUE AS greedy_ok
    FROM events GROUP BY 1
    """,
)
def stream_host_throttle_st6(spark, sf_dir):
    """Stateful streaming throttle with a checkable oracle (the last
    stream op out of the no_oracle bucket): greedy admission is FULLY
    characterized by a per-row invariant over per-host (ts, url) order —
    the first event is admitted, and any event is admitted iff it falls
    ≥ delay_s after the previous ADMITTED event. The query re-derives
    that invariant over the streamed result with a window and emits
    per-host row counts (oracle knows them exactly) plus the invariant
    flag; a throttle that dropped, duplicated, or mis-admitted ANY row
    goes red on n or greedy_ok."""
    from lectura import streaming

    delay_s = 3600.0
    ev = _event_stream(spark, sf_dir).select(
        F.concat(F.lit("host"), (F.col("user_id") % 13).cast("string")).alias("host"),
        F.concat(F.lit("http://h/"), F.col("event_id").cast("string")).alias("url"),
        "ts",
    )
    out = streaming.host_throttle(ev, delay_s=delay_s)
    res = streaming.collect_stream(out, spark, output_mode="append")
    w = Window.partitionBy("host").orderBy("ts", "url")
    tsd = F.col("ts").cast("double")
    prev_adm = F.last(
        F.when(F.col("admitted"), tsd), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    row_ok = F.when(prev_adm.isNull(), F.col("admitted")).otherwise(
        F.col("admitted") == (tsd >= prev_adm + F.lit(delay_s))
    )
    return (
        res.withColumn("_ok", row_ok)
        .groupBy("host")
        .agg(F.count("*").alias("n"), F.min("_ok").alias("greedy_ok"))
    )


# U11 — map functions (map built+interrogated JVM-side; output is plain
# scalar columns so the DuckDB oracle computes the same values mapless)
@q(
    "map_fns",
    """
    SELECT p_partkey, p_brand AS brand, p_type AS typ,
           2 AS n_keys, 'brand,typ' AS keys_sorted
    FROM part WHERE p_partkey <= 200
    """,
)
def map_fns(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("brand").alias("k"), F.col("p_brand").alias("v")),
            F.struct(F.lit("typ").alias("k"), F.col("p_type").alias("v")),
        )
    )
    return p.select(
        "p_partkey",
        F.element_at(m, "brand").alias("brand"),
        F.element_at(m, "typ").alias("typ"),
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


# U4 — stable 64-bit url hash. Full DuckDB oracle: xxhash64 (seed 42)
# re-implemented in pure SQL (oracle_sql.py); fixed vectors additionally
# pinned in tests/test_urlnorm.py.
@q("url_hash_u4", _osql.url_hash_u4_sql())
def url_hash_u4(spark, sf_dir):
    from lectura.urlnorm import url_key

    urls = t(spark, sf_dir, "customer").select(
        F.concat(F.lit("http://host"), (F.col("c_custkey") % 97).cast("string"),
                 F.lit(".example/c/"), F.col("c_custkey").cast("string")).alias("url")
    )
    h = urls.select(url_key("url").alias("h"))
    return h.select(
        F.count("*").alias("n"),
        F.count_distinct("h").alias("n_distinct"),
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
    )


# U6 — mega-host salt key: salting must spread one host's urls near-evenly
# across salt buckets. Full DuckDB oracle via the pure-SQL xxhash64;
# parallelism invariance of downstream ordering is pytest-verified.
@q("salt_u6", _osql.salt_u6_sql(buckets=8))
def salt_u6(spark, sf_dir):
    from lectura.urlnorm import salt

    urls = t(spark, sf_dir, "orders").select(
        F.concat(F.lit("http://mega.example/o/"),
                 F.col("o_orderkey").cast("string")).alias("url")
    )
    by_bucket = urls.withColumn("s", salt("url", 8)).groupBy("s").count()
    return by_bucket.select(
        F.count("*").alias("n_buckets"),
        F.min("count").alias("min_n"),
        F.max("count").alias("max_n"),
    )


# ---------------------------------------------------------------------------
# Corpus export: end-to-end training-corpus materialization (lang gate →
# quality gates → exact dedup with lineage multiplicity) — the composition
# of the text-analysis + dedup operators a 100-TB pipeline actually ships.
# ---------------------------------------------------------------------------
@q(
    "corpus_export",
    """
    WITH w AS (
      SELECT doc_id, lang, source, text,
             string_split_regex(trim(text), '\\s+') AS words,
             len(regexp_extract_all(text,
                 '\\b(the|and|of|to|a|in|is|for|on|with)\\b')) AS n_stop
      FROM documents
    ), f AS (
      SELECT doc_id, lang, source, text, len(words) AS n_words,
             round(CAST(n_stop AS DOUBLE) / len(words), 4) AS stopword_ratio,
             round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 4)
               AS distinct_ratio
      FROM w
      WHERE lang = 'en' AND len(words) BETWEEN 20 AND 5000
    ), g AS (
      SELECT *, sha256(text) AS text_sha,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id)
               AS rn,
             count(*) OVER (PARTITION BY sha256(text)) AS n_copies
      FROM f
      WHERE stopword_ratio >= 0.005 AND distinct_ratio >= 0.2
    )
    SELECT doc_id, lang, source, n_words, stopword_ratio, distinct_ratio,
           text_sha, n_copies
    FROM g WHERE rn = 1
    """,
)
def corpus_export(spark, sf_dir):
    from lectura.textops import corpus_export as op

    return op(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Corpus selection (lectura/sampling.py): deterministic hash-mod
# stratified sampling (scan-stage filter, no shuffle) and token-budget
# shard packing (exact global prefix sum without a single-partition
# window). Oracles replicate Spark's xxhash64 bit-for-bit / the running
# sum in plain SQL.
# ---------------------------------------------------------------------------
# Benchmark decontamination: corpus = doc_id % 7 != 0, "benchmark" =
# the held-out rest (deterministic split of the fixture table); a corpus
# doc is contaminated iff it shares a distinct word 4-gram with any
# benchmark doc. n=4 binds on this fixture: 93 of 429 corpus docs hit,
# with varying shingle/bench-doc counts.
@q("decontaminate_ngrams", _osql.contamination_sql(n=4, bench_mod=7))
def decontaminate_ngrams(spark, sf_dir):
    from lectura.textops import contamination_stats

    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    return contamination_stats(corpus, bench, n=4)


# Host-level boilerplate line removal (CCNet-style): pages built from
# the supplier table share a nav header + copyright footer per host
# (boilerplate, df = 100%), keep a unique body line and a 'rare' line
# at ~33% host-df (below the 0.5 threshold -> kept).
@q(
    "boilerplate_strip",
    """
    WITH x AS (
      SELECT printf('https://h%d.example.com/p%d',
                    s_suppkey % 20, s_suppkey) AS url,
             printf('h%d.example.com', s_suppkey % 20) AS host,
             'Home | About | Contact' || chr(10) ||
             printf('article %d body words %d',
                    s_suppkey, s_suppkey * 7) || chr(10) ||
             printf('rare line %d', s_suppkey % 3) || chr(10) ||
             printf('Copyright h%d', s_suppkey % 20) AS text
      FROM supplier
    ), l0 AS (
      SELECT url, host, string_split(text, chr(10)) AS ls FROM x
    ), lines AS (
      SELECT url, host, unnest(ls) AS line,
             unnest(generate_series(1, len(ls))) AS pos
      FROM l0
    ), pc AS (
      SELECT host, count(*) AS n_pages FROM x GROUP BY 1
    ), bp AS (
      SELECT d.host, d.line
      FROM (SELECT DISTINCT host, url, line FROM lines) d
      JOIN pc USING (host)
      GROUP BY d.host, d.line, pc.n_pages
      HAVING pc.n_pages >= 2 AND count(*) >= pc.n_pages * 0.5
    ), kept AS (
      SELECT l.* FROM lines l ANTI JOIN bp USING (host, line)
    ), reb AS (
      SELECT url, host,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean,
             count(*) AS n_kept
      FROM kept GROUP BY 1, 2
    ), tot AS (
      SELECT url, host, count(*) AS n_total FROM lines GROUP BY 1, 2
    )
    SELECT t.url, t.host, coalesce(r.text_clean, '') AS text_clean,
           t.n_total - coalesce(r.n_kept, 0) AS n_lines_dropped
    FROM tot t LEFT JOIN reb r USING (url, host)
    """,
)
def boilerplate_strip(spark, sf_dir):
    from lectura.textops import boilerplate_strip as strip

    sup = t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    pages = sup.select(
        F.format_string("https://h%d.example.com/p%d",
                        F.col("k") % 20, F.col("k")).alias("url"),
        F.format_string("h%d.example.com", F.col("k") % 20).alias("host"),
        F.concat_ws(
            "\n",
            F.lit("Home | About | Contact"),
            F.format_string("article %d body words %d",
                            F.col("k"), F.col("k") * 7),
            F.format_string("rare line %d", F.col("k") % 3),
            F.format_string("Copyright h%d", F.col("k") % 20),
        ).alias("text"),
    )
    return strip(pages, min_df_frac=0.5, min_pages=2)


# Q3b — GLOBAL line-level dedup (CCNet corpus-granularity line dedup —
# the complement of Q3's per-host rule: catches cross-host template
# lines a host-scoped denominator misses). Same supplier line fixture;
# here 'Home | About | Contact' (df = all docs) and 'rare line k%3'
# (df ≈ n/3) are corpus-hot, per-article lines survive, and
# 'Copyright h%d' flips with sf (df ≈ n/20 vs max_df) — the oracle
# computes the same rule exactly, so the flip is covered, not dodged.
@q(
    "line_dedup_global",
    """
    WITH x AS (
      SELECT printf('https://h%d.example.com/p%d',
                    s_suppkey % 20, s_suppkey) AS url,
             'Home | About | Contact' || chr(10) ||
             printf('article %d body words %d',
                    s_suppkey, s_suppkey * 7) || chr(10) ||
             printf('rare line %d', s_suppkey % 3) || chr(10) ||
             printf('Copyright h%d', s_suppkey % 20) AS text
      FROM supplier
    ), l0 AS (
      SELECT url, string_split(text, chr(10)) AS ls FROM x
    ), lines AS (
      SELECT url, unnest(ls) AS line,
             unnest(generate_series(1, len(ls))) AS pos
      FROM l0
    ), hot AS (
      SELECT line FROM (SELECT DISTINCT url, line FROM lines)
      GROUP BY line HAVING count(*) > 3
    ), kept AS (
      SELECT l.* FROM lines l ANTI JOIN hot USING (line)
    ), reb AS (
      SELECT url, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
             count(*) AS n_kept
      FROM kept GROUP BY 1
    ), tot AS (
      SELECT url, count(*) AS n_total FROM lines GROUP BY 1
    )
    SELECT t.url, coalesce(r.text_clean, '') AS text_clean,
           t.n_total - coalesce(r.n_kept, 0) AS n_lines_dropped
    FROM tot t LEFT JOIN reb r USING (url)
    """,
)
def line_dedup_global(spark, sf_dir):
    from lectura.textops import line_dedup_global as ldg

    sup = t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    pages = sup.select(
        F.format_string("https://h%d.example.com/p%d",
                        F.col("k") % 20, F.col("k")).alias("url"),
        F.concat_ws(
            "\n",
            F.lit("Home | About | Contact"),
            F.format_string("article %d body words %d",
                            F.col("k"), F.col("k") * 7),
            F.format_string("rare line %d", F.col("k") % 3),
            F.format_string("Copyright h%d", F.col("k") % 20),
        ).alias("text"),
    )
    return ldg(pages, max_df=3)


# Gopher-style repetition signals (dup-word fraction array-side in the
# scan stage; modal-2-gram share via explode + two-level hash agg).
@q("repetition_metrics", _osql.repetition_sql(n=2))
def repetition_metrics(spark, sf_dir):
    from lectura.textops import repetition_stats

    return repetition_stats(
        t(spark, sf_dir, "documents").select("doc_id", "text"), n=2
    )


_SAMPLE_RATES = {"en": 0.5, "de": 0.2}


@q("sample_stratified",
   _osql.sample_stratified_sql(_SAMPLE_RATES, default_rate=0.05, salt="r2"))
def sample_stratified(spark, sf_dir):
    from lectura.sampling import stratified_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return stratified_sample(docs, "doc_id", _SAMPLE_RATES, "lang",
                             default_rate=0.05, salt="r2")


@q("shard_pack", _osql.shard_pack_sql(budget=10_000))
def shard_pack(spark, sf_dir):
    from lectura.sampling import pack_shards

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    packed = pack_shards(docs, "doc_id", "n_chars", budget=10_000)
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_weight"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# Q7 — TF-IDF top-k terms per document (keyword extraction): both
# engines tokenize on [^a-z0-9]+, smooth idf identically, pre-round idf
# to 9dp and the score to 4dp, and rank on (rounded score DESC, term
# ASC) so ranking is deterministic and engine-invariant.
@q(
    "tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               t -> t <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), nn AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    scored AS (
      SELECT doc_id, term,
             round(tf * round(ln((n + 1.0) / (df + 1.0)), 9), 4) + 0.0
               AS score
      FROM tf JOIN dfreq USING (term), nn
    ), ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def tfidf_top_terms(spark, sf_dir):
    from lectura.textops import tfidf_top_terms as tfidf

    return tfidf(t(spark, sf_dir, "documents"), k=5)


# Q6 — cross-document duplicated-span stats (the ExactSubstr gate):
# the synthetic documents naturally share ~1.1k 5-word spans across
# docs at sf0.01, so no planting is needed — both engines hash distinct
# grams with xxhash64 and count distinct-doc frequency.
@q("dup_span_stats", _osql.dup_span_sql(k=5))
def dup_span_stats(spark, sf_dir):
    from lectura.textops import dup_span_stats as spans

    return spans(t(spark, sf_dir, "documents"), k=5)


# Q6b — exact-substring span REMOVAL (the transform half of Q6,
# VERDICT r3 missing #2): both engines flag the same duplicated 5-word
# windows, excise every covered token, and re-join survivors on single
# spaces — the cleaned text itself hash-matches.
@q("dup_span_removal", _osql.dup_span_removal_sql(k=5))
def dup_span_removal(spark, sf_dir):
    from lectura.textops import remove_dup_spans

    return remove_dup_spans(t(spark, sf_dir, "documents"), k=5)


# SEL3 — DSIR importance weights (hashed-n-gram log-likelihood ratio):
# target = every 7th doc (stand-in quality reference, same split the
# decontamination fixture uses), corpus = the rest; both engines hash
# bigrams with xxhash64(seed 42) into 256 buckets and apply identical
# two-stage rounding, so the weights hash-match exactly.
@q("dsir_weights", _osql.dsir_sql(n=2, n_buckets=256, bench_mod=7))
def dsir_weights(spark, sf_dir):
    from lectura.sampling import dsir_logratios

    docs = t(spark, sf_dir, "documents")
    return dsir_logratios(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        n=2, n_buckets=256,
    )


# Q8 — CCNet-style LM perplexity bucketing: unigram model trained on
# the same every-7th-doc reference split DSIR uses, vocabulary
# rank-capped at 24 of the fixture's 31 terms so the cap AND the OOV
# path both exercise; head/middle/tail tertiles on the 4dp mean
# log-prob with doc-id tiebreak.
@q("lm_ppl_buckets", _osql.lm_ppl_sql(max_vocab=24, bench_mod=7))
def lm_ppl_buckets(spark, sf_dir):
    from lectura.textops import lm_perplexity

    docs = t(spark, sf_dir, "documents")
    return lm_perplexity(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        max_vocab=24,
    )


# Q9 — C4 heuristic cleaning over a line-structured doc built inside
# the query (fixture text has no newlines): at sf0.01 the planted
# rules hit 39 lorem / 46 brace / 30 javascript / 100 policy docs,
# 250 evens carry a second kept line, and 7 short docs exercise the
# empty-slice path (counts verified in DuckDB before wiring).
@q("c4_rules_q9", _osql.c4_rules_sql(min_words=3, min_kept_lines=2))
def c4_rules_q9(spark, sf_dir):
    from lectura.textops import c4_quality_rules

    def m(k):
        return F.col("doc_id") % k == 0

    text2 = F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 60), F.lit(".")),
        F.when(m(2), F.concat(F.substring("text", 61, 50), F.lit(" ok?")))
         .otherwise(F.substring("text", 61, 50)),
        F.lit("buy now."),
        F.when(m(13), F.lit("lorem ipsum dolor sit amet.")),
        F.when(m(11), F.lit("var config = { x: 1 };")),
        F.when(m(17), F.lit("please enable javascript to continue reading.")),
        F.when(m(5),
               F.lit("we use cookies and this privacy policy applies here.")),
    )
    docs = t(spark, sf_dir, "documents").select("doc_id",
                                                text2.alias("text"))
    return c4_quality_rules(docs, min_words=3, min_kept_lines=2)


# C6 — domain-level quality aggregation (RefinedWeb-style): one row
# per source with quality means, low-quality share, keep flag, and a
# head/middle/tail tertile; per-source mean ratios at sf0.01 spread
# 0.039–0.08 around the 0.05 doc threshold (verified in DuckDB).
@q("domain_quality_c6",
   _osql.domain_quality_sql(low_q_threshold=0.05, max_low_frac=0.5))
def domain_quality_c6(spark, sf_dir):
    from lectura.textops import domain_quality_agg

    return domain_quality_agg(t(spark, sf_dir, "documents"),
                              low_q_threshold=0.05, max_low_frac=0.5)


# Q10 — Gopher document-level quality gates over planted docs: seven
# mutually-exclusive doc_id classes each exercise one rule (empty /
# symbol-spam / too-short / ellipsis-lines / all-bullet / missing
# required stopwords / clean); at sf0.01 only the clean class keeps
# (184 of 500; per-class signal means verified in DuckDB first).
@q("gopher_rules_q10", _osql.gopher_rules_sql(min_words=10, max_words=500))
def gopher_rules_q10(spark, sf_dir):
    from lectura.textops import gopher_rules

    def m(k):
        return F.col("doc_id") % k == 0

    text2 = (
        F.when(m(19), F.lit(""))
        .when(m(13), F.trim(F.repeat(F.lit("data11 ### "), 10)))
        .when(m(11), F.substring("text", 1, 30))
        .when(m(7), F.concat_ws(
            "\n",
            F.concat(F.substring("text", 1, 100), F.lit(" see more...")),
            F.concat(F.substring("text", 101, 100), F.lit(" read on...")),
            F.lit("the data and that batch have with luck to be of use."),
        ))
        .when(m(5), F.concat_ws(
            "\n",
            F.concat(F.lit("- "), F.substring("text", 1, 80), F.lit(".")),
            F.lit("- the data and that batch."),
            F.lit("- have with luck to be of use."),
        ))
        .when(m(3), F.col("text"))
        .otherwise(F.concat(
            F.col("text"),
            F.lit(" the data and that batch have run with care to be"
                  " of use."),
        ))
    )
    docs = t(spark, sf_dir, "documents").select("doc_id",
                                                text2.alias("text"))
    return gopher_rules(docs, min_words=10, max_words=500)


# Q11 — BM25 top-k retrieval: Lucene-form idf, k1=1.2 b=0.75, both
# engines pre-round idf/avgdl/per-term contributions to 9dp and the
# summed score to 4dp with doc-id tiebreaks, so the top-20 set, scores
# and ranks hash-match exactly. 'zzzz' exercises the absent-term path.
_BM25_TERMS = ["scan", "window", "query", "zzzz"]


@q(
    "bm25_topk_q11",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               t -> t <> '')) AS term
      FROM documents
    ), dls AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n,
             round(CAST(sum(dl) AS DOUBLE) / count(*), 9) AS avgdl
      FROM dls
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM toks WHERE term IN ('scan', 'window', 'query', 'zzzz')
      GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), idf AS (
      SELECT term,
             round(ln(1.0 + (n - df + 0.5) / (df + 0.5)), 9) AS idf,
             avgdl
      FROM dfreq, stats
    ), contrib AS (
      SELECT tf.doc_id AS doc_id,
             round(idf * tf * (1.2 + 1.0)
                   / (tf + 1.2 * (1.0 - 0.75
                                  + 0.75 * dl / avgdl)), 9) AS c
      FROM tf JOIN idf USING (term) JOIN dls USING (doc_id)
    ), scored AS (
      SELECT doc_id, round(sum(c), 4) + 0.0 AS score
      FROM contrib GROUP BY 1
    ), ranked AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    )
    SELECT doc_id, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def bm25_topk_q11(spark, sf_dir):
    from lectura.textops import bm25_search

    return bm25_search(t(spark, sf_dir, "documents"), _BM25_TERMS, k=20)


# Q12 — exact-phrase search (positional posting intersection): both
# engines tokenize on [^a-z0-9]+, intersect candidate starts per
# (doc, start) group, and count all (incl. overlapping) matches. The
# sf0.01 fixture has 27 matching docs, one with 2 occurrences —
# verified in DuckDB before wiring.
@q(
    "phrase_search_q12",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS l
      FROM documents
    ), posting AS (
      SELECT doc_id, unnest(l) AS term,
             unnest(range(len(l))) AS pos
      FROM toks
    ), offsets AS (
      SELECT * FROM (VALUES ('hash', 0), ('join', 1)) AS t(term, j)
    ), hits AS (
      SELECT doc_id, pos - j AS start
      FROM posting JOIN offsets USING (term)
      WHERE pos - j >= 0
    ), starts AS (
      SELECT doc_id, start FROM hits
      GROUP BY doc_id, start HAVING count(*) = 2
    )
    SELECT doc_id, count(*) AS n_matches,
           CAST(min(start) AS BIGINT) AS first_pos
    FROM starts GROUP BY doc_id
    """,
)
def phrase_search_q12(spark, sf_dir):
    from lectura.textops import phrase_search

    return phrase_search(t(spark, sf_dir, "documents"), ["hash", "join"])


# Q13 — normalization-robust exact dedup (CCNet normalize-before-hash):
# every 17th doc gets a planted mutant (uppercased, accented vowels,
# ' '→' , ', '!!!' suffix — all normalization-invariant edits) under
# id+10^6; the groups must pair each base with exactly its mutant.
# Verified in DuckDB before wiring: 30 groups of 2 at sf0.01, zero
# natural collisions.
from lectura.textops import _ACCENT_FROM, _ACCENT_TO  # noqa: E402


@q(
    "norm_dedup_q13",
    """
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             replace(translate(upper(text), 'AEIO', 'ÁÉÍÓ'),
                     ' ', ' , ') || ' !!!'
      FROM documents WHERE doc_id % 17 = 0 AND text IS NOT NULL
    )
    SELECT sha256(trim(regexp_replace(regexp_replace(regexp_replace(
             translate(lower(coalesce(text, '')),
                       '{afrom}', '{ato}'),
             '[0-9]', '0', 'g'), '[^a-z0-9 ]+', ' ', 'g'),
             ' +', ' ', 'g'))) AS norm_sha,
           count(*) AS n_copies, min(doc_id) AS keeper
    FROM src GROUP BY 1 HAVING count(*) > 1
    """.format(afrom=_ACCENT_FROM, ato=_ACCENT_TO),
)
def norm_dedup_q13(spark, sf_dir):
    from lectura.textops import normalized_dedup_groups

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    mutants = (
        docs.filter((F.col("doc_id") % 17 == 0) & F.col("text").isNotNull())
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.replace(
                    F.translate(F.upper("text"), "AEIO",
                                "ÁÉÍÓ"),
                    F.lit(" "), F.lit(" , ")),
                F.lit(" !!!"),
            ).alias("text"),
        )
    )
    return normalized_dedup_groups(docs.unionByName(mutants))


# F14 — salted skew-join: the explicitly-salted two-phase join must
# produce EXACTLY the plain join's rows (the salt spreads hot keys
# over n_salt tasks and never reaches the output); the oracle is the
# unsalted SQL join.
@q(
    "salted_join_f14",
    """
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def salted_join_f14(spark, sf_dir):
    from lectura.frontier import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        salted_join(li, o, "o_orderkey", n_salt=4)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
             .alias("qty_cents"))
    )


# (Q17's chunk count stops at the first end-reaching window —
# CASE WHEN len<=W THEN 1 ELSE ceil((len-W)/S)+1 — matching the Spark
# side: a tail window contained in its predecessor is never emitted.)
# Q18 — training-mix report: per-source doc/token totals, token share
# (4dp), cumulative share in (share DESC, source) order; the ordered
# cumulative sum adds identical 4dp-rounded doubles in the identical
# order on both engines, so the running values hash-match.
@q(
    "mix_report_q18",
    """
    WITH per AS (
      SELECT coalesce(source, '(none)') AS source, count(*) AS n_docs,
             CAST(sum(CASE WHEN text IS NOT NULL AND trim(text) <> ''
                      THEN len(string_split_regex(trim(text), '\\s+'))
                      ELSE 0 END) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ), f AS (
      SELECT source, n_docs, n_tokens,
             CASE WHEN sum(n_tokens) OVER () > 0
                  THEN round(n_tokens
                             / CAST(sum(n_tokens) OVER () AS BIGINT), 4)
                       + 0.0
                  ELSE 0.0 END AS token_frac
      FROM per
    )
    SELECT source, n_docs, n_tokens, token_frac,
           round(sum(token_frac)
                 OVER (ORDER BY token_frac DESC, source), 4) + 0.0
             AS cum_frac
    FROM f
    """,
)
def mix_report_q18(spark, sf_dir):
    from lectura.textops import mix_report

    return mix_report(t(spark, sf_dir, "documents"))


# Q17 — training-window chunking: whitespace tokens, chunk i =
# tokens[i*stride : i*stride+window] (overlapping at stride<window),
# re-joined on single spaces — both engines slice identically.
@q(
    "chunk_docs_q17",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), idx AS (
      SELECT doc_id, l,
             unnest(range(0, CASE WHEN len(l) <= 32 THEN 1
                       ELSE CAST(ceil((len(l) - 32) / 24.0) AS BIGINT)
                            + 1 END)) AS chunk_id
      FROM toks
    )
    SELECT doc_id, chunk_id,
           CAST(len(l[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT)
             AS n_tokens,
           array_to_string(l[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
             AS chunk
    FROM idx
    """,
)
def chunk_docs_q17(spark, sf_dir):
    from lectura.textops import chunk_documents

    return chunk_documents(t(spark, sf_dir, "documents"), window=32,
                           stride=24)


# Q19 — the SQL-text face: ONE shared ANSI string (TPC-H Q1 shape,
# cents-exact sums per the S12 money discipline) evaluated VERBATIM by
# spark.sql over registered temp views AND by DuckDB as its own
# oracle — the two engines parse, plan and execute the same SQL.
_TPCH_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS sum_qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sum_base_c,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS sum_disc_c,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@q("sql_tpch_q19", _TPCH_Q1_SQL)
def sql_tpch_q19(spark, sf_dir):
    from lectura.sqlapi import run_sql

    return run_sql(spark, sf_dir, _TPCH_Q1_SQL, tables=("lineitem",))


# F15 — value-based window frames (RANGE BETWEEN, not ROWS BETWEEN):
# per event, activity within the PRECEDING HOUR of event time — the
# frame is bounded by timestamp VALUES, so ties and gaps behave unlike
# row-counted frames; counts and cents-sums are exact integers.
@q(
    "range_frame_f15",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS n_last_hour,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                AS BIGINT) AS cents_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                           AND CURRENT ROW)
    """,
)
def range_frame_f15(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    # rangeBetween needs a numeric ordering key: order by epoch
    # MICROSECONDS (unix_timestamp's second-truncation would admit
    # events up to 1s past the hour boundary that DuckDB's
    # full-precision timestamp RANGE excludes), frame =
    # [-3.6e9 µs, 0] — VALUE bounds, so simultaneous events (ties)
    # share a frame and sparse users get small frames regardless of
    # row counts
    w = (Window.partitionBy("user_id")
         # ts is TIMESTAMP_NTZ; the cast reads it as a UTC instant
         # (session tz is pinned UTC) so unix_micros accepts it
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-3_600_000_000, Window.currentRow))
    return ev.select(
        "event_id", "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w)
         .alias("cents_last_hour"),
    )


# D8 — deterministic HyperLogLog: two labeled rows exercise BOTH
# estimator branches (customer keys → raw harmonic path, fixture
# terms → linear-counting small-range path). The harmonic sum is an
# EXACT integer (Σ 2^(41−M[j])), so register order can't perturb the
# 4dp estimate, and both engines compute E from the same constants.
_HLL_CONST = repr(0.709 * 64 * 64 * float(1 << 41))


def _hll_oracle_branch(label: str, src_cte: str, pa: str, pb: str) -> str:
    from lectura import oracle_sql as _o

    return f"""
a{pa}0 AS (SELECT s0, s0 || '|i' AS s FROM {src_cte}),
{_o.xxhash64_ctes(f'a{pa}0', 's', out='xi', p=pa)},
b{pb}0 AS (SELECT s0, xi, s0 || '|r' AS s FROM {pa}7),
{_o.xxhash64_ctes(f'b{pb}0', 's', out='xr', p=pb)},
k_{label} AS (
  SELECT {_o.pmod('xi', 64)} AS j,
         CASE WHEN {_o.pmod('xr', 1 << 40)} = 0 THEN 41
              ELSE 40 - length(printf('%b', {_o.pmod('xr', 1 << 40)}))
                   + 1 END AS rho
  FROM {pb}7
), r_{label} AS (
  SELECT j, max(rho) AS mj FROM k_{label} GROUP BY 1
), f_{label} AS (
  SELECT CAST(sum(CAST(pow(2.0, 41 - mj) AS BIGINT)) AS BIGINT)
           AS s_used,
         count(*) AS n_used
  FROM r_{label}
), e_{label} AS (
  SELECT '{label}' AS src, 64 AS m, CAST(n_used AS BIGINT) AS v_used,
         round(CASE WHEN ({_HLL_CONST}
                          / (coalesce(s_used, 0)
                             + (64 - n_used) * {1 << 41}))
                         <= 160.0
                     AND (64 - n_used) > 0
               THEN 64.0 * ln(64.0 / (64 - n_used))
               ELSE {_HLL_CONST}
                    / (coalesce(s_used, 0)
                       + (64 - n_used) * {1 << 41}) END, 4)
           + 0.0 AS n_est
  FROM f_{label}
)"""


@q(
    "hll_estimate_d8",
    "WITH ck AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS s0 "
    "FROM customer WHERE c_custkey IS NOT NULL),\n"
    "tk AS (SELECT DISTINCT t AS s0 FROM (SELECT unnest(list_filter("
    "string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'), "
    "x -> x <> '')) AS t FROM documents)),"
    + _hll_oracle_branch("ck", "ck", "g", "h") + ","
    + _hll_oracle_branch("tk", "tk", "i", "j") + """
    SELECT src, CAST(m AS BIGINT) AS m, v_used, n_est FROM e_ck
    UNION ALL
    SELECT src, CAST(m AS BIGINT) AS m, v_used, n_est FROM e_tk
    """,
)
def hll_estimate_d8(spark, sf_dir):
    from lectura.textops import folded_tokens, hll_estimate

    cust = t(spark, sf_dir, "customer")
    terms = (
        t(spark, sf_dir, "documents")
        .select(F.explode(
            folded_tokens(F.col("text"), "[^a-z0-9]+")).alias("t"))
    )
    a = hll_estimate(cust, "c_custkey", p=6).select(
        F.lit("ck").alias("src"), "m", "v_used", "n_est")
    b = hll_estimate(terms, "t", p=6).select(
        F.lit("tk").alias("src"), "m", "v_used", "n_est")
    return a.unionByName(b)


def _lqs_branch(label: str, src: str, sub: int = 16) -> str:
    # One D9 sketch branch: same integer-only binning as
    # textops.log_quantile_sketch — bit_length via to_base(v, 2),
    # edges and ceil-ranks via // — so the estimate hash-matches
    # bit-for-bit (no floating log at power-of-two boundaries).
    one = "CAST(1 AS BIGINT)"
    return f"""s_{label} AS (SELECT greatest(v, 0) AS v
  FROM ({src}) WHERE v IS NOT NULL),
e_{label} AS (SELECT v, CASE WHEN v <= 0 THEN -1
  ELSE length(to_base(v, 2)) - 1 END AS e FROM s_{label}),
h_{label} AS (SELECT e, CASE WHEN e < 0 THEN CAST(0 AS BIGINT)
  ELSE ((v - ({one} << e)) * {sub}) // ({one} << e) END AS m
  FROM e_{label}),
g_{label} AS (SELECT e, m, count(*) AS c FROM h_{label} GROUP BY e, m),
c_{label} AS (SELECT e, m,
  CASE WHEN e < 0 THEN CAST(0 AS BIGINT)
    ELSE ({one} << e) + (m * ({one} << e)) // {sub} END AS est,
  CAST(sum(c) OVER (ORDER BY e, m) AS BIGINT) AS cum,
  CAST(sum(c) OVER () AS BIGINT) AS n FROM g_{label}),
q_{label} AS (SELECT '{label}' AS src, q_num, q_den, max(n) AS n,
  min_by(est, (e + 1) * {sub} + m) AS est
  FROM (VALUES (1, 2), (9, 10), (99, 100)) t(q_num, q_den)
  JOIN c_{label} ON cum >= (q_num * n + q_den - 1) // q_den
  GROUP BY q_num, q_den)"""


# D9 — mergeable log-linear histogram quantile sketch (HDR/DDSketch
# bucketing, integer-exact): medians/p90/p99 of document length and of
# a small-domain metric, both branches hash-compared to the oracle's
# identical integer pipeline.
@q(
    "quantile_sketch_d9",
    "WITH "
    + _lqs_branch("chars",
                  "SELECT n_chars AS v FROM documents")
    + ",\n"
    + _lqs_branch("qty",
                  "SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem")
    + """
    SELECT * FROM q_chars UNION ALL SELECT * FROM q_qty
    """,
)
def quantile_sketch_d9(spark, sf_dir):
    from lectura.textops import log_quantile_sketch

    a = log_quantile_sketch(
        t(spark, sf_dir, "documents"), "n_chars"
    ).select(F.lit("chars").alias("src"), "q_num", "q_den", "n", "est")
    b = log_quantile_sketch(
        t(spark, sf_dir, "lineitem"), "l_quantity"
    ).select(F.lit("qty").alias("src"), "q_num", "q_den", "n", "est")
    return a.unionByName(b)


# D9b — grouped quantile sketch (per-host gap percentiles, per-language
# length percentiles): same integer pipeline as D9 with the histogram
# keyed (group, e, m) and the windows partitioned by group — the
# single-partition global window disappears and per-group state stays
# ≤ 64·sub bins.
@q(
    "quantile_sketch_grouped_d9b",
    """
    WITH s AS (SELECT l_returnflag AS grp,
                      greatest(CAST(l_quantity AS BIGINT), 0) AS v
               FROM lineitem WHERE l_quantity IS NOT NULL),
    e AS (SELECT grp, v, CASE WHEN v <= 0 THEN -1
           ELSE length(to_base(v, 2)) - 1 END AS e FROM s),
    h AS (SELECT grp, e, CASE WHEN e < 0 THEN CAST(0 AS BIGINT)
           ELSE ((v - (CAST(1 AS BIGINT) << e)) * 16)
                // (CAST(1 AS BIGINT) << e) END AS m FROM e),
    g AS (SELECT grp, e, m, count(*) AS c FROM h GROUP BY grp, e, m),
    cum AS (SELECT grp, e, m,
      CASE WHEN e < 0 THEN CAST(0 AS BIGINT)
        ELSE (CAST(1 AS BIGINT) << e)
             + (m * (CAST(1 AS BIGINT) << e)) // 16 END AS est,
      CAST(sum(c) OVER (PARTITION BY grp ORDER BY e, m) AS BIGINT)
        AS cum,
      CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n FROM g)
    SELECT grp, q_num, q_den, max(n) AS n,
           min_by(est, (e + 1) * 16 + m) AS est
    FROM (VALUES (1, 2), (9, 10), (99, 100)) t(q_num, q_den)
    JOIN cum ON cum >= (q_num * n + q_den - 1) // q_den
    GROUP BY grp, q_num, q_den
    """,
)
def quantile_sketch_grouped_d9b(spark, sf_dir):
    from lectura.textops import log_quantile_sketch

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), "l_quantity")
    return log_quantile_sketch(li, "l_quantity", group_col="grp")


# SEL4 — Efraimidis–Spirakis weighted sampling: deterministic keyed
# uniform (pmod(xxhash64(key|salt), 2^20)+0.5)/2^20, rank key
# round(ln(u)/w, 9) DESC — both engines pick the identical weighted
# top-40 of documents by n_chars.
@q(
    "weighted_sample_sel4",
    """
    WITH src AS (
      SELECT doc_id, n_chars,
             CAST(doc_id AS VARCHAR) || '|es1' AS s
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    """ + _osql.xxhash64_ctes("src", "s") + """
    , keyed AS (
      SELECT doc_id, n_chars,
             round(ln(({pm} + 0.5) / 1048576.0) / n_chars, 9) AS es
      FROM x7
    ), ranked AS (
      SELECT doc_id, n_chars, es,
             row_number() OVER (ORDER BY es DESC, doc_id) AS rank
      FROM keyed
    )
    SELECT doc_id, n_chars, es, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 40
    """.format(pm=_osql.pmod("xx", 1 << 20)),
)
def weighted_sample_sel4(spark, sf_dir):
    from lectura.sampling import weighted_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=40, salt="es1")


# X8/Q20 — Python UDTF surface: the registered table function runs
# through spark.sql LATERAL; the oracle re-derives the same sentence
# rows relationally with the identical dialect-safe regexes.
@q(
    "sentence_udtf_q20",
    r"""
    WITH l AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 regexp_split_to_array(text, '[.!?]+\s+'),
                 x -> regexp_replace(regexp_replace(x, '[.!?]+$', ''),
                                     '^\s+|\s+$', '', 'g')),
               x -> x <> '') AS sents
      FROM documents WHERE text IS NOT NULL
    ), e AS (
      SELECT doc_id, unnest(range(len(sents))) AS sent_id,
             unnest(sents) AS sentence
      FROM l
    )
    SELECT doc_id, CAST(sent_id AS BIGINT) AS sent_id, sentence,
           CAST(len(string_split_regex(sentence, '\s+')) AS BIGINT)
             AS n_words
    FROM e
    """,
)
def sentence_udtf_q20(spark, sf_dir):
    from lectura.sqlapi import register_views
    from lectura.textops import sentence_udtf

    register_views(spark, sf_dir, tables=("documents",))
    spark.udtf.register("split_sentences", sentence_udtf())
    return spark.sql(
        "SELECT d.doc_id, s.* FROM documents d, "
        "LATERAL split_sentences(d.text) s")


# D7 — count-min-sketch heavy hitters: deterministic sketch (xxhash64
# row hashes, exact integer counters) so the estimate table — not just
# a property — hash-matches the pure-SQL oracle; w=64 forces real
# collisions at the fixture vocabulary, exercising over-estimation.
_CMS_CANDIDATES = ["data", "the", "scan", "window", "spark", "batch",
                   "merge", "sort", "zzzzabsent"]


@q("cms_heavy_hitters_d7", _osql.cms_sql(_CMS_CANDIDATES, k=9, d=4, w=64))
def cms_heavy_hitters_d7(spark, sf_dir):
    from lectura.textops import cms_heavy_hitters

    return cms_heavy_hitters(t(spark, sf_dir, "documents"),
                             _CMS_CANDIDATES, k=9, d=4, w=64)


# ST11 — streaming CMS maintenance: the register table kept as a
# bounded-state (≤ d·w rows) streaming aggregation over the document
# stream, then the SAME estimate path as D7 over the collected
# registers. Counter increments are associative+commutative, so the
# streamed registers equal the batch build exactly — one oracle SQL
# string checks both compute paths (streamed here, batch in D7).
@q("stream_cms_st11", _osql.cms_sql(_CMS_CANDIDATES, k=9, d=4, w=64))
def stream_cms_st11(spark, sf_dir):
    from lectura import streaming
    from lectura.textops import cms_estimates

    docs = streaming.read_event_stream(
        spark, f"{sf_dir}/documents.parquet",
        schema=streaming.DOCUMENT_SCHEMA)
    regs = streaming.collect_stream(
        streaming.stream_cms_registers(docs, d=4, w=64), spark)
    return cms_estimates(regs, _CMS_CANDIDATES, k=9, d=4, w=64)


# Q21 — Unicode NFC normalization, cross-IMPLEMENTATION checked: the
# Spark side is CPython's unicodedata (Arrow-batched UDF), the oracle
# is DuckDB's ICU-backed nfc_normalize — two independent Unicode
# libraries must produce identical codepoints over a fixture covering
# combining marks, precomposed forms, Hangul jamo composition, the
# U+212B singleton, NFC-invariant compatibility ligatures, and NULL.
_NFC_FIXTURE = [
    (1, "e\u0301"),             # combining acute -> U+00E9
    (2, "\u00e9"),              # already NFC
    (3, "Cafe\u0301 du Monde"),  # mixed ascii + combining
    (4, "\u212b"),              # angstrom sign -> U+00C5
    (5, "\ufb01sh"),            # fi ligature: NFC-invariant
    (6, "\u1100\u1161\u11a8"),  # Hangul jamo -> U+AC01
    (7, "plain ascii"),
    (8, ""),
    (9, "o\u0308\u0301"),       # stacked combining marks
    (10, "A\u030a"),            # A + ring -> U+00C5
    (11, None),
]


@q(
    "unicode_nfc_q21",
    """
    SELECT id, nfc_normalize(s) AS norm,
           coalesce(nfc_normalize(s) <> s, FALSE) AS changed
    FROM (VALUES
      (1, 'e' || chr(769)), (2, chr(233)),
      (3, 'Cafe' || chr(769) || ' du Monde'),
      (4, chr(8491)), (5, chr(64257) || 'sh'),
      (6, chr(4352) || chr(4449) || chr(4520)),
      (7, 'plain ascii'), (8, ''),
      (9, 'o' || chr(776) || chr(769)), (10, 'A' || chr(778)),
      (11, CAST(NULL AS VARCHAR))
    ) t(id, s)
    """,
)
def unicode_nfc_q21(spark, sf_dir):
    from lectura.textops import unicode_nfc

    df = spark.createDataFrame(_NFC_FIXTURE, "id int, s string")
    return unicode_nfc(df, id_col="id", text_col="s")


# X3c — Unicode-script profiling: the oracle is GENERATED from the same
# SCRIPT_RANGES char-class literals the operator compiles (Java regex
# and RE2 agree on \x{h..h} classes), so the two engines can never
# drift on a range boundary. Fixture: one row per script + a
# priority-tie row + digits-only/NULL/empty 'none' rows, unioned with
# the (ASCII → latin) documents head.
_SCRIPT_FIXTURE = [
    (100001, "abc привет"),
    (100002, "中文 中文 ok"),
    (100003, "مرحبا"),
    (100004, "한글 테스트 abc"),
    (100005, "γεια σου"),
    (100006, "12345 !!!"),
    (100007, None),
    (100008, "tieбвг"),   # 3 latin vs 3 cyrillic
    (100009, ""),
]


def _script_sql() -> str:
    from lectura.textops import SCRIPT_RANGES

    vals = ", ".join(
        f"({i}, "
        + ("NULL" if s is None else "'" + s.replace("'", "''") + "'")
        + ")"
        for i, s in _SCRIPT_FIXTURE)
    cols = ", ".join(
        f"length(regexp_replace(coalesce(s, ''),"
        f" '[^{rng}]', '', 'g')) AS c_{n}"
        for n, rng in SCRIPT_RANGES)
    names = [n for n, _ in SCRIPT_RANGES]
    tot = " + ".join(f"c_{n}" for n in names)
    whens = []
    for i, n in enumerate(names[:-1]):
        cond = " AND ".join(f"c_{n} >= c_{o}" for o in names[i + 1:])
        whens.append(f"WHEN {cond} THEN '{n}'")
    dom = ("CASE WHEN total = 0 THEN 'none' " + " ".join(whens)
           + f" ELSE '{names[-1]}' END")
    fr = ", ".join(
        f"CASE WHEN total = 0 THEN 0.0"
        f" ELSE round(c_{n} / total, 4) END AS frac_{n}"
        for n in names)
    return f"""
WITH src AS (
  SELECT CAST(id AS BIGINT) AS id, s
  FROM (VALUES {vals}) t(id, s)
  UNION ALL
  SELECT doc_id AS id, text AS s FROM documents WHERE doc_id < 200
), counted AS (SELECT id, {cols} FROM src),
tot AS (SELECT *, {tot} AS total FROM counted)
SELECT id, {dom} AS script, {fr} FROM tot
"""


@q("script_profile_x3c", _script_sql())
def script_profile_x3c(spark, sf_dir):
    from lectura.textops import script_profile

    fix = spark.createDataFrame(_SCRIPT_FIXTURE, "id long, s string")
    docs = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").alias("id"), F.col("text").alias("s"))
    )
    return script_profile(fix.unionByName(docs),
                          id_col="id", text_col="s")


# Q16 — blocked fuzzy matching: both engines compute the classic
# Wagner-Fischer levenshtein on 24-char lowercased prefixes within
# 4-char blocks; exact integer distances, so hashes match bit-for-bit.
# 25 natural pairs at sf0.01 (several docs share identical prefixes).
@q(
    "fuzzy_pairs_q16",
    """
    WITH keyed AS (
      SELECT doc_id AS id, lower(substring(text, 1, 24)) AS key,
             substring(lower(substring(text, 1, 24)), 1, 4) AS block
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), blocks AS (
      SELECT block FROM keyed GROUP BY 1 HAVING count(*) <= 1000
    ), c AS (
      SELECT a.id AS d1, b.id AS d2,
             levenshtein(a.key, b.key) AS dist
      FROM keyed a JOIN blocks USING (block)
           , keyed b
      WHERE a.block = b.block AND a.id < b.id
        AND b.block IN (SELECT block FROM blocks)
    )
    SELECT d1, d2, CAST(dist AS BIGINT) AS dist FROM c WHERE dist <= 3
    """,
)
def fuzzy_pairs_q16(spark, sf_dir):
    from lectura.textops import fuzzy_pairs

    out = fuzzy_pairs(t(spark, sf_dir, "documents"), max_dist=3)
    return out.select("d1", "d2", F.col("dist").cast("long").alias("dist"))


# Q16b — the two-pass remedy for Q16's documented blocking blind spot:
# a second candidate pass blocked on the key's suffix (via
# substring(reverse(key), 1, 4) — equality-equivalent and short-key
# safe on both engines), unioned + de-duplicated before the
# levenshtein verify. Superset of Q16's pairs by construction. The
# fixture plants deterministic char-1 mutants (doc_id % 11, id+10^6,
# 'x' || text[2:]) — prefix-blind by construction, so pass 2 is what
# finds them (verified in DuckDB first: 74 pairs two-pass vs 25
# pass-1-only at sf0.01).
@q(
    "fuzzy_pairs_two_pass_q16b",
    """
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, 'x' || substring(text, 2)
      FROM documents
      WHERE doc_id % 11 = 0 AND text IS NOT NULL AND length(text) > 4
    ), kb AS (
      SELECT doc_id AS id, lower(substring(text, 1, 24)) AS key,
             substring(lower(substring(text, 1, 24)), 1, 4) AS b1,
             substring(reverse(lower(substring(text, 1, 24))), 1, 4)
               AS b2
      FROM src WHERE text IS NOT NULL AND text <> ''
    ), ok1 AS (SELECT b1 FROM kb GROUP BY 1 HAVING count(*) <= 1000),
    ok2 AS (SELECT b2 FROM kb GROUP BY 1 HAVING count(*) <= 1000),
    c AS (
      SELECT a.id AS d1, b.id AS d2, a.key AS k1, b.key AS k2
      FROM kb a JOIN kb b ON a.b1 = b.b1 AND a.id < b.id
      WHERE a.b1 IN (SELECT b1 FROM ok1)
      UNION
      SELECT a.id, b.id, a.key, b.key
      FROM kb a JOIN kb b ON a.b2 = b.b2 AND a.id < b.id
      WHERE a.b2 IN (SELECT b2 FROM ok2)
    )
    SELECT d1, d2, CAST(levenshtein(k1, k2) AS BIGINT) AS dist
    FROM c WHERE levenshtein(k1, k2) <= 3
    """,
)
def fuzzy_pairs_two_pass_q16b(spark, sf_dir):
    from lectura.textops import fuzzy_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    mutants = (
        docs.filter((F.col("doc_id") % 11 == 0)
                    & F.col("text").isNotNull()
                    & (F.length("text") > 4))
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat(F.lit("x"),
                         F.expr("substring(text, 2)")).alias("text"))
    )
    out = fuzzy_pairs(docs.unionByName(mutants), max_dist=3,
                      two_pass=True)
    return out.select("d1", "d2", F.col("dist").cast("long").alias("dist"))


# Q15 — PMI collocations: the ratio inside ln() is assembled from
# exact integer counts in a frozen multiplication order, so both
# engines hand ln() the identical double; 4dp + (a, b) tiebreaks make
# the global top-20 engine-invariant.
@q(
    "pmi_collocations_q15",
    """
    WITH toks AS (
      SELECT list_filter(
               string_split_regex(lower(coalesce(text, '')),
                                  '[^a-z0-9]+'), t -> t <> '') AS l
      FROM documents
    ), uni AS (
      SELECT term, count(*) AS c
      FROM (SELECT unnest(l) AS term FROM toks) GROUP BY 1
    ), pairs AS (
      SELECT z[1] AS a, z[2] AS b
      FROM (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
            FROM toks WHERE len(l) >= 2)
    ), bi AS (
      SELECT a, b, count(*) AS c_ab FROM pairs
      GROUP BY 1, 2 HAVING count(*) >= 5
    ), tot AS (
      SELECT CAST((SELECT sum(c) FROM uni) AS BIGINT) AS n_tok,
             CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_bi
    ), scored AS (
      SELECT a, b, c_ab AS n_ab,
             round(ln(CAST(c_ab AS DOUBLE) * n_tok * n_tok
                      / (CAST(n_bi AS DOUBLE) * ua.c * ub.c)), 4)
               + 0.0 AS pmi
      FROM bi JOIN uni ua ON bi.a = ua.term
              JOIN uni ub ON bi.b = ub.term, tot
    ), ranked AS (
      SELECT a, b, n_ab, pmi,
             row_number() OVER (ORDER BY pmi DESC, a, b) AS rank
      FROM scored
    )
    SELECT a, b, n_ab, pmi, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def pmi_collocations_q15(spark, sf_dir):
    from lectura.textops import pmi_collocations

    return pmi_collocations(t(spark, sf_dir, "documents"), k=20,
                            min_count=5)


# ---------------------------------------------------------------------------
# S11 — sitemap ingestion: deterministic sitemap XML built from the
# supplier table (urlset entries with optional lastmod/priority, blank
# malformed blocks, a sitemapindex tail on every 10th host), parsed back
# by the JVM-regexp sitemap source.
# ---------------------------------------------------------------------------
@q(
    "sitemap_parse_s11",
    """
    WITH x AS (
      SELECT s_suppkey AS k,
             printf('s%d.example.com', s_suppkey) AS host,
             printf('<urlset><url><loc>https://s%d.example.com/p/1</loc>' ||
                    '<lastmod>2025-03-%02d</lastmod>' ||
                    '<priority>0.%d</priority></url>' ||
                    '<url> <loc> https://s%d.example.com/p/2 </loc></url>' ||
                    '<url></url></urlset>',
                    s_suppkey, 1 + s_suppkey % 28, 5 + s_suppkey % 5,
                    s_suppkey)
             || CASE WHEN s_suppkey % 10 = 0
                  THEN printf('<sitemapindex><sitemap>' ||
                              '<loc>https://s%d.example.com/sitemap2.xml</loc>'
                              || '</sitemap></sitemapindex>', s_suppkey)
                  ELSE '' END AS xml
      FROM supplier
    ), ub AS (
      SELECT host,
             unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b
      FROM x
    ), urls AS (
      SELECT host,
             nullif(regexp_extract(b, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1), '')
               AS loc,
             CAST(nullif(regexp_extract(b,
                 '(?s)<lastmod>\\s*(.*?)\\s*</lastmod>', 1), '') AS TIMESTAMP)
               AS lastmod,
             coalesce(try_cast(nullif(regexp_extract(b,
                 '(?s)<priority>\\s*(.*?)\\s*</priority>', 1), '') AS DOUBLE),
                 0.5) AS priority,
             'url' AS kind
      FROM ub
    ), sb AS (
      SELECT host,
             unnest(regexp_extract_all(xml,
                 '(?s)<sitemap>(.*?)</sitemap>', 1)) AS b
      FROM x
    ), subs AS (
      SELECT host,
             nullif(regexp_extract(b, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1), '')
               AS loc,
             CAST(NULL AS TIMESTAMP) AS lastmod, 0.5 AS priority,
             'sitemap' AS kind
      FROM sb
    )
    SELECT host, loc, lastmod, priority, kind FROM urls WHERE loc IS NOT NULL
    UNION ALL
    SELECT host, loc, lastmod, priority, kind FROM subs WHERE loc IS NOT NULL
    """,
)
def sitemap_parse_s11(spark, sf_dir):
    from lectura.sources import parse_sitemaps

    sup = t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    body = F.format_string(
        "<urlset><url><loc>https://s%d.example.com/p/1</loc>"
        "<lastmod>2025-03-%02d</lastmod>"
        "<priority>0.%d</priority></url>"
        "<url> <loc> https://s%d.example.com/p/2 </loc></url>"
        "<url></url></urlset>",
        F.col("k"), F.lit(1) + F.col("k") % 28, F.lit(5) + F.col("k") % 5,
        F.col("k"),
    )
    tail = F.when(
        F.col("k") % 10 == 0,
        F.format_string(
            "<sitemapindex><sitemap>"
            "<loc>https://s%d.example.com/sitemap2.xml</loc>"
            "</sitemap></sitemapindex>", F.col("k")),
    ).otherwise(F.lit(""))
    docs = sup.select(
        F.format_string("s%d.example.com", F.col("k")).alias("host"),
        F.concat(body, tail).alias("xml"),
    )
    return parse_sitemaps(docs)


# S11b — sitemap DISCOVERY from robots.txt `Sitemap:` directives
# (deterministic robots bodies from the supplier table; every 3rd host
# adds a case/space-mangled second directive that must still match,
# every 7th a commented directive that must NOT).
@q(
    "robots_sitemaps_s11b",
    """
    WITH x AS (
      SELECT printf('s%d.example.com', s_suppkey) AS host,
             printf('# robots for s%d', s_suppkey) || chr(10) ||
             'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
             printf('Sitemap: https://s%d.example.com/sitemap.xml',
                    s_suppkey)
             || CASE WHEN s_suppkey % 3 = 0
                  THEN chr(10) || printf(
                       '  sItEmAp :https://s%d.example.com/news.xml',
                       s_suppkey)
                  ELSE '' END
             || CASE WHEN s_suppkey % 7 = 0
                  THEN chr(10) || '# Sitemap: https://ignored.example.com/x'
                  ELSE '' END AS body
      FROM supplier
    )
    SELECT host,
           unnest(regexp_extract_all(
               body, '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1))
             AS sitemap_url
    FROM x
    """,
)
def robots_sitemaps_s11b(spark, sf_dir):
    from lectura.sources import sitemaps_from_robots

    sup = t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    body = F.concat(
        F.format_string("# robots for s%d\nUser-agent: *\n"
                        "Disallow: /private\n"
                        "Sitemap: https://s%d.example.com/sitemap.xml",
                        F.col("k"), F.col("k")),
        F.when(
            F.col("k") % 3 == 0,
            F.format_string("\n  sItEmAp :https://s%d.example.com/news.xml",
                            F.col("k")),
        ).otherwise(F.lit("")),
        F.when(F.col("k") % 7 == 0,
               F.lit("\n# Sitemap: https://ignored.example.com/x"))
        .otherwise(F.lit("")),
    )
    robots = sup.select(
        F.format_string("s%d.example.com", F.col("k")).alias("host"),
        body.alias("body"),
    )
    return sitemaps_from_robots(robots)


# ---------------------------------------------------------------------------
# Recrawl scheduling: freshness-driven revisit priority from fetch history
# (events as the deterministic history fixture; clicks mark content change).
# ---------------------------------------------------------------------------
@q(
    "recrawl_sched",
    """
    WITH g AS (
      SELECT printf('https://u%d.example.com/', user_id) AS key,
             count(*) AS n_obs,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_changes,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS first_epoch,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch
      FROM events GROUP BY 1
    ), e AS (
      SELECT *,
             round(least(greatest(
                 CASE WHEN n_changes > 0
                   THEN CAST(last_epoch - first_epoch AS DOUBLE) / n_changes
                   ELSE 2592000.0 END, 3600.0), 2592000.0), 4)
               AS est_interval_s
      FROM g
    )
    SELECT key, n_obs, n_changes, last_epoch, est_interval_s,
           round((1753920000.0 - CAST(last_epoch AS DOUBLE)
                  - est_interval_s) / est_interval_s, 4) AS overdue
    FROM e
    """,
)
def recrawl_sched(spark, sf_dir):
    from lectura.frontier import recrawl_schedule

    ev = t(spark, sf_dir, "events").select(
        F.format_string("https://u%d.example.com/",
                        F.col("user_id")).alias("url"),
        F.col("ts"),
        (F.col("event_type") == "click").alias("changed"),
    )
    # 2025-07-31T00:00:00Z — explicit epoch keeps the plan deterministic
    return recrawl_schedule(ev, 1753920000)


# C2b — the crawl-loop face of recrawl scheduling (SEMANTICS.md §16):
# lag-derived change flags over per-(url, round) fingerprints, the
# unrounded Poisson estimator, and the due filter — exactly the revisit
# candidate computation `Crawler._candidates` runs in a revisit round, on a
# deterministic events-derived history. Output overdue rounded to 6 only
# for the value hash (min/max/int-sum inputs make the division
# bit-identical across engines; the crawl path keeps it unrounded).
@q(
    "recrawl_due_c2b",
    """
    WITH g AS (
      SELECT printf('https://r%d.example.com/page', user_id) AS url,
             printf('r%d.example.com', user_id) AS host,
             event_id % 7 AS round,
             min(event_id % 3) AS fingerprint
      FROM events GROUP BY 1, 2, 3
    ), h AS (
      SELECT *,
             lag(fingerprint) OVER (PARTITION BY url ORDER BY round) AS prev,
             1753920000.0 + 60.0 * round AS ts_epoch
      FROM g
    ), a AS (
      SELECT url, max(host) AS host,
             CAST(sum(CASE WHEN prev IS NOT NULL AND fingerprint <> prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             min(ts_epoch) AS first_epoch,
             max(ts_epoch) AS last_epoch
      FROM h GROUP BY 1
    ), e AS (
      SELECT *,
             least(greatest(
                 CASE WHEN n_changes > 0
                   THEN (last_epoch - first_epoch) / n_changes
                   ELSE 300.0 END, 90.0), 300.0) AS est
      FROM a
    )
    SELECT url, host,
           round((1753920600.0 - last_epoch - est) / est, 6) AS overdue
    FROM e
    WHERE (1753920600.0 - last_epoch - est) / est >= 0.0
    """,
)
def recrawl_due_c2b(spark, sf_dir):
    from lectura.frontier import recrawl_due

    ev = t(spark, sf_dir, "events").select(
        F.format_string("https://r%d.example.com/page",
                        F.col("user_id")).alias("url"),
        F.format_string("r%d.example.com", F.col("user_id")).alias("host"),
        (F.col("event_id") % 7).alias("round"),
        (F.col("event_id") % 3).alias("fp0"),
    )
    g = ev.groupBy("url", "host", "round").agg(F.min("fp0").alias("fingerprint"))
    w = Window.partitionBy("url").orderBy("round")
    hist = (
        g.withColumn("_prev", F.lag("fingerprint").over(w))
        .withColumn(
            "changed",
            F.col("_prev").isNotNull()
            & (F.col("fingerprint") != F.col("_prev")),
        )
        .withColumn("ts_epoch",
                    F.lit(1753920000.0) + F.lit(60.0) * F.col("round"))
    )
    due = recrawl_due(hist, 1753920000.0 + 60.0 * 10, 90.0, 300.0)
    return due.select("url", "host", F.round("overdue", 6).alias("overdue"))


# Q5 — PII scrubbing (C4/RefinedWeb-style email/IPv4/phone redaction):
# documents text gets deterministic planted PII per doc_id class; both
# engines run the identical dialect-safe regex pipeline in the frozen
# stage order (emails → IPs → phones, counts on each stage's input).
@q(
    "pii_scrub",
    r"""
    WITH x AS (
      -- coalesce mirrors the operator's NULL-text rule (NULL in ->
      -- ('', 0, 0, 0) out), so a fixture regen introducing NULL text
      -- cannot silently diverge the engines
      SELECT doc_id, coalesce(substr(text, 1, 80) ||
        CASE doc_id % 4
          WHEN 0 THEN ' write to user' || doc_id || '@corp' || doc_id ||
                      '.example.net today'
          WHEN 1 THEN ' hosts 10.0.' || (doc_id % 256) || '.' ||
                      ((doc_id * 7) % 256) || ' and 8.8.8.8'
          WHEN 2 THEN printf(' call +1 (212) 555-%04d now', doc_id % 10000)
          ELSE ' nothing sensitive here' END, '') AS t
      FROM documents
    ), s1 AS (
      SELECT doc_id,
        len(regexp_extract_all(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t
      FROM x
    ), s2 AS (
      SELECT doc_id, n_emails,
        len(regexp_extract_all(t,
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        regexp_replace(t,
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
            '<IP>', 'g') AS t
      FROM s1
    ), s3 AS (
      SELECT doc_id, n_emails, n_ips,
        len(regexp_extract_all(t, '\+?[0-9][0-9 ()\-]{6,}[0-9]')) AS n_phones,
        regexp_replace(t, '\+?[0-9][0-9 ()\-]{6,}[0-9]', '<PHONE>', 'g') AS t
      FROM s2
    )
    SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_ips AS BIGINT) AS n_ips,
           CAST(n_phones AS BIGINT) AS n_phones, t AS text_clean
    FROM s3
    """,
)
def pii_scrub(spark, sf_dir):
    from lectura.textops import pii_scrub as scrub

    d = t(spark, sf_dir, "documents")
    fx = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80),
            F.when(F.col("doc_id") % 4 == 0, F.format_string(
                " write to user%d@corp%d.example.net today",
                F.col("doc_id"), F.col("doc_id")))
            .when(F.col("doc_id") % 4 == 1, F.format_string(
                " hosts 10.0.%d.%d and 8.8.8.8",
                F.col("doc_id") % 256, (F.col("doc_id") * 7) % 256))
            .when(F.col("doc_id") % 4 == 2, F.format_string(
                " call +1 (212) 555-%04d now", F.col("doc_id") % 10000))
            .otherwise(F.lit(" nothing sensitive here")),
        ).alias("text"),
    )
    return scrub(fx)


# G3 — anchor-text aggregation over the link graph: the REAL
# extract_anchors UDF runs on deterministic per-supplier HTML (entities,
# nested tags, unquoted/single-quoted hrefs, skipped #/mailto refs,
# empty anchor text, a commented-out anchor), and the oracle constructs
# the expected (dst, text) occurrence stream directly in SQL — the same
# build-the-expectation pattern as canonicalize_u1. Aggregation checks
# multiplicity (n_refs), distinct texts, and the deterministic mode
# tie-break (highest count, then lexicographically smallest text).
@q(
    "anchor_text_g3",
    """
    WITH s AS (SELECT s_suppkey AS k FROM supplier),
    occ AS (
      SELECT 'http://s' || k || '.example/p/' || u.p AS dst, u.t AS text
      FROM (SELECT k, unnest([
          {'p': 1, 't': 'Widget one'},
          {'p': 1, 't': 'Widget & one'},
          {'p': 1, 't': 'Widget one'},
          {'p': 2, 't': 'Item ' || k},
          {'p': 2, 't': 'Bold item'},
          {'p': 3, 't': ''}]) AS u
        FROM s)
    ), per AS (
      SELECT dst, text, count(*) AS c FROM occ GROUP BY 1, 2
    )
    SELECT dst, CAST(sum(c) AS BIGINT) AS n_refs,
           CAST(count(*) AS BIGINT) AS n_texts,
           arg_min(text, printf('%013d', 1000000000000 - c) || '|' || text)
             AS top_text,
           CAST(max(c) AS BIGINT) AS top_text_refs
    FROM per GROUP BY dst
    """,
)
def anchor_text_g3(spark, sf_dir):
    from lectura.extract import extract_anchors_udf
    from lectura.graphops import anchor_summary

    s = t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    html = F.format_string(
        '<html><body><a href="/p/1">Widget one</a>'
        '<a href="/p/1">Widget &amp; one</a><a href="/p/1">Widget one</a>'
        "<a href='/p/2'>Item %d</a><a href=/p/2><b>Bold</b> item</a>"
        '<a href="#f">skip</a><a href="/p/3"></a>'
        '<a href="mailto:x@y">m</a><!-- <a href="/no">c</a> -->'
        "</body></html>",
        F.col("k"),
    )
    base = F.format_string("http://s%d.example/list", F.col("k"))
    anchors = (
        s.select(F.explode(extract_anchors_udf(html, base)).alias("a"))
        .select(F.col("a.url").alias("dst"), F.col("a.text").alias("text"))
    )
    return anchor_summary(anchors)


# C5 — crawler-trap detection by URL-template fan-out: three calendar
# hosts whose whole URL space collapses to one digit-template (/cal/N/N/N,
# 42 distinct urls, frac 1.0 → flagged) beside ten legit hosts spread
# over five word templates (~165 urls each but frac 0.2 < min_frac →
# NOT flagged) and one tiny single-template host (frac 1.0 but 7 urls
# < min_fanout → NOT flagged) — each threshold excludes something.
# Duplicate URLs (same (month, day) from different orders) exercise the
# distinct-first semantics.
@q(
    "trap_templates_c5",
    """
    WITH u AS (
      SELECT DISTINCT CASE
        WHEN o_orderkey % 1000 = 0
        THEN 'http://tiny.example/only/' || (o_orderkey % 7)
        WHEN o_orderkey % 2 = 0
        THEN 'http://trap' || (o_custkey % 3) || '.example/cal/2026/' ||
             (o_orderkey % 12 + 1) || '/' || (o_orderkey % 28 + 1)
        ELSE 'http://s' || (o_custkey % 10) || '.example/' ||
             list_value('news', 'blog', 'shop', 'wiki',
                        'docs')[(o_orderkey % 5) + 1] ||
             '/' || o_orderkey END AS url
      FROM orders
    ), p AS (
      SELECT lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
             regexp_replace(
               regexp_extract(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)', 1),
               '[0-9]+', 'N', 'g') AS template
      FROM u
      WHERE regexp_extract(url,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) <> ''
    ), tmpl AS (
      SELECT host, template, count(*) AS n_urls FROM p GROUP BY 1, 2
    ), hosts AS (
      SELECT host, CAST(sum(n_urls) AS BIGINT) AS host_urls
      FROM tmpl GROUP BY 1
    )
    SELECT host, template, n_urls, host_urls,
           round(n_urls / host_urls, 4) AS fanout_frac
    FROM tmpl JOIN hosts USING (host)
    WHERE n_urls >= 30 AND n_urls / host_urls >= 0.5
    """,
)
def trap_templates_c5(spark, sf_dir):
    from lectura.frontier import trap_templates

    o = t(spark, sf_dir, "orders")
    word = F.element_at(
        F.array(*[F.lit(w) for w in ["news", "blog", "shop", "wiki",
                                     "docs"]]),
        (F.col("o_orderkey") % 5 + 1).cast("int"),
    )
    url = F.when(
        F.col("o_orderkey") % 1000 == 0,
        F.concat(F.lit("http://tiny.example/only/"),
                 (F.col("o_orderkey") % 7).cast("string")),
    ).when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit("http://trap"),
                 (F.col("o_custkey") % 3).cast("string"),
                 F.lit(".example/cal/2026/"),
                 (F.col("o_orderkey") % 12 + 1).cast("string"), F.lit("/"),
                 (F.col("o_orderkey") % 28 + 1).cast("string")),
    ).otherwise(
        F.concat(F.lit("http://s"),
                 (F.col("o_custkey") % 10).cast("string"),
                 F.lit(".example/"), word, F.lit("/"),
                 F.col("o_orderkey").cast("string")),
    )
    return trap_templates(o.select(url.alias("url")),
                          min_fanout=30, min_frac=0.5)


# C7 — UT1-style domain-blocklist filtering: URLs from orders (every
# 97th malformed, every 89th carrying a non-default port), blocklist =
# nation-derived domains (n0/n3/…/n24.example) plus two subdomain
# literals; sf0.01 plants 4490 blocked of 15000, 155 host='' rows kept
# unblocked, and sub2.n3.example attests longest-match-wins over its
# n3.example parent (all counts verified in DuckDB first).
@q(
    "blocklist_ut1_c7",
    """
    WITH u AS (
      SELECT CASE
        WHEN o_orderkey % 97 = 0 THEN 'not a url'
        WHEN o_orderkey % 89 = 0
        THEN 'http://sub0.n3.example:8080/p/' || o_orderkey
        ELSE 'http://sub' || (o_orderkey % 4) || '.n' || (o_custkey % 30)
             || '.example/p/' || o_orderkey END AS url
      FROM orders
    ), bl AS (
      SELECT 'n' || n_nationkey || '.example' AS d FROM nation
      WHERE n_nationkey % 3 = 0
      UNION ALL SELECT 'sub1.n1.example'
      UNION ALL SELECT 'sub2.n3.example'
    ), lv AS (
      SELECT url, host,
             host AS s0,
             CASE WHEN len(string_split(host, '.')) > 1
                  THEN array_to_string(string_split(host, '.')[2:], '.')
             END AS s1,
             CASE WHEN len(string_split(host, '.')) > 2
                  THEN array_to_string(string_split(host, '.')[3:], '.')
             END AS s2
      FROM (SELECT url, lower(regexp_extract(url,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host FROM u)
    )
    SELECT url, host,
           coalesce(b0.d, b1.d, b2.d) AS matched_domain,
           coalesce(b0.d, b1.d, b2.d) IS NOT NULL AS blocked
    FROM lv
    LEFT JOIN bl b0 ON lv.s0 = b0.d
    LEFT JOIN bl b1 ON lv.s1 = b1.d
    LEFT JOIN bl b2 ON lv.s2 = b2.d
    """,
)
def blocklist_ut1_c7(spark, sf_dir):
    from lectura.frontier import blocklist_filter

    o = t(spark, sf_dir, "orders")
    url = F.when(
        F.col("o_orderkey") % 97 == 0, F.lit("not a url")
    ).when(
        F.col("o_orderkey") % 89 == 0,
        F.concat(F.lit("http://sub0.n3.example:8080/p/"),
                 F.col("o_orderkey").cast("string")),
    ).otherwise(
        F.concat(F.lit("http://sub"),
                 (F.col("o_orderkey") % 4).cast("string"),
                 F.lit(".n"), (F.col("o_custkey") % 30).cast("string"),
                 F.lit(".example/p/"),
                 F.col("o_orderkey").cast("string")),
    )
    n = t(spark, sf_dir, "nation")
    bl = (
        n.filter(F.col("n_nationkey") % 3 == 0)
        .select(F.concat(F.lit("n"), F.col("n_nationkey").cast("string"),
                         F.lit(".example")).alias("domain"))
        .unionByName(n.limit(1).select(
            F.lit("sub1.n1.example").alias("domain")))
        .unionByName(n.limit(1).select(
            F.lit("sub2.n3.example").alias("domain")))
    )
    return blocklist_filter(o.select(url.alias("url")), bl, max_depth=3)


# C4 — exponential-backoff retry queue from the fetch log (events as the
# deterministic attempt history: day index = round, 'error' = miss).
@q(
    "retry_backoff_c4",
    """
    WITH h AS (
      SELECT printf('https://u%d.example.com/', user_id) AS key,
             datediff('day', DATE '2024-01-01', ts) + 1 AS rnd,
             CASE WHEN event_type = 'error' THEN 'miss' ELSE 'ok' END
               AS status
      FROM events
    ), lo AS (
      SELECT key, max(CASE WHEN status = 'ok' THEN rnd END) AS last_ok
      FROM h GROUP BY 1
    ), g AS (
      SELECT h.key, count(*) AS n_fails, max(h.rnd) AS last_round
      FROM h JOIN lo USING (key)
      WHERE h.status <> 'ok' AND h.rnd > coalesce(lo.last_ok, -1)
      GROUP BY 1
    )
    SELECT key, n_fails, last_round,
           last_round + least(1 << least(n_fails - 1, 31), 32)
             AS next_attempt_round
    FROM g WHERE n_fails <= 5
    """,
)
def retry_backoff_c4(spark, sf_dir):
    from lectura.frontier import retry_schedule

    ev = t(spark, sf_dir, "events").select(
        F.format_string("https://u%d.example.com/",
                        F.col("user_id")).alias("url"),
        (F.datediff(F.col("ts"), F.lit("2024-01-01").cast("date")) + 1)
        .alias("round"),
        F.when(F.col("event_type") == "error", F.lit("miss"))
        .otherwise(F.lit("ok")).alias("status"),
    )
    return retry_schedule(ev, base_rounds=1, max_backoff_rounds=32,
                          max_retries=5)


# ---------------------------------------------------------------------------
# Near-dup clustering (the export pipeline's dedup stage as a checkable
# query): simhash pairs at lossless banding radius → connected components
# → one row per cluster with keeper + member count, singletons included.
# ---------------------------------------------------------------------------
@q("dedup_simhash_clusters", _osql.simhash_clusters_sql(max_hamming=3,
                                                        max_doc_id=300))
def dedup_simhash_clusters(spark, sf_dir):
    from lectura.graphops import connected_components
    from lectura.textops import simhash_band_pairs, simhash_udf

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sh = docs.select(F.col("doc_id").alias("id"),
                     simhash_udf(F.col("text")).alias("sh"))
    pairs = simhash_band_pairs(sh, max_hamming=3)
    comp = connected_components(
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    )
    lab = (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select("doc_id",
                F.coalesce("component", "doc_id").alias("component"))
    )
    return lab.groupBy(F.col("component").alias("keep_doc_id")).agg(
        F.count("*").alias("n_members")
    )
