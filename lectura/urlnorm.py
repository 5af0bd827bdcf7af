"""Spark-side URL operators (SURVEY.md §2.2, U1–U6).

Canonicalization and the host-reverse key wrap the pure spec functions in
Arrow-batched pandas UDFs (one fused pass returning a struct, so each URL
crosses the JVM↔Python boundary once). Hash/bucket/salt keys are native
JVM expressions (`xxhash64`, `pmod`) — no Python in those hot paths.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lectura.pure.urlnorm import (
    canonicalize_url,
    host_reverse_key,
    path_query_of,
    registered_host,
)

_URL_STRUCT = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("hrk", T.StringType()),
        T.StructField("path_q", T.StringType()),
    ]
)


def _norm_tuple(u: str) -> tuple:
    c = canonicalize_url(u)
    if c is None:
        return (None, None, None, None)
    return (c, registered_host(c), host_reverse_key(c), path_query_of(c))


@F.pandas_udf(_URL_STRUCT)
def url_norm_struct(urls: pd.Series) -> pd.DataFrame:
    """One Arrow pass: raw url -> (canonical url, host, host_reverse_key,
    path?query). Nulls propagate for uncrawlable URLs. Each distinct URL in
    the batch is normalized once (outlink batches repeat targets heavily)."""
    memo = {u: _norm_tuple(u) for u in pd.unique(urls.dropna())}
    none4 = (None, None, None, None)
    tuples = [memo.get(u, none4) if u is not None else none4 for u in urls]
    return pd.DataFrame(tuples, columns=["url", "host", "hrk", "path_q"],
                        index=urls.index)


_PARTS_STRUCT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("hrk", T.StringType()),
        T.StructField("path_q", T.StringType()),
    ]
)


@F.pandas_udf(_PARTS_STRUCT)
def url_parts_struct(canon_urls: pd.Series) -> pd.DataFrame:
    """host/hrk/path_q for ALREADY-CANONICAL urls (extracted outlinks are
    canonicalized at resolve time — X1), skipping the idempotent
    re-canonicalization pass that dominates url_norm_struct's cost."""

    def parts(u: str) -> tuple:
        return (registered_host(u), host_reverse_key(u), path_query_of(u))

    memo = {u: parts(u) for u in pd.unique(canon_urls.dropna())}
    none3 = (None, None, None)
    tuples = [memo.get(u, none3) if u is not None else none3
              for u in canon_urls]
    return pd.DataFrame(tuples, columns=["host", "hrk", "path_q"],
                        index=canon_urls.index)


def with_url_parts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add host/hrk/path_q to rows whose `url_col` is already canonical
    (same output as with_url_norm on canonical input, ~half the Python)."""
    return (
        df.withColumn("_p", url_parts_struct(F.col(url_col)))
        .select("*", "_p.*")
        .drop("_p")
        .filter(F.col(url_col).isNotNull())
    )


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url, na_action="ignore")


def url_key(url: Column | str) -> Column:
    """Stable 64-bit key of the canonical URL (U4) — JVM-side xxhash64."""
    return F.xxhash64(url)


def host_bucket(host: Column | str, buckets: int) -> Column:
    """Partition key for pages/frontier tables (U5)."""
    return F.pmod(F.xxhash64(host), F.lit(buckets)).cast("int")


def url_host_bucket(buckets: int) -> Column:
    """host_bucket of the raw `url` column's lower-cased host — the pages
    partition key (Crawler.init_tables, synth_spark.write_corpus)."""
    return host_bucket(F.lower(F.expr("parse_url(url, 'HOST')")), buckets)


def salt(url: Column | str, buckets: int) -> Column:
    """Mega-host salting key (U6): distributes one host's URLs over
    `buckets` tasks. A distribution key only — never a grouping key."""
    return F.pmod(F.xxhash64(url), F.lit(buckets)).cast("int")


def with_url_norm(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Replace `url_col` with its canonical form and add host/hrk/path_q,
    dropping uncrawlable rows."""
    return (
        df.withColumn("_n", url_norm_struct(F.col(url_col)))
        .drop(url_col)
        .select("*", "_n.*")
        .drop("_n")
        .filter(F.col("url").isNotNull())
    )
