"""Spark-side URL operators (SURVEY.md §2.2, U1–U6).

Canonicalization is the one pandas UDF (`canonicalize_udf`, Arrow-batched):
RFC 3986 normalization needs Python. Everything derived from a canonical
url is a native JVM expression: host/hrk/path_q are string slicing
(`url_parts`), and the hash/bucket/salt keys are `xxhash64`/`pmod`. The
pure functions in lectura/pure/urlnorm.py stay the reference (the oracle
calls them; tests/test_urlnorm.py checks the expressions against them).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lectura.pure.urlnorm import canonicalize_url


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url, na_action="ignore")


# Pure, but declared nondeterministic so the optimizer cannot push a
# caller's `url IS NOT NULL` filter below the projection, which evaluates
# the UDF twice (two ArrowEvalPython passes over the same rows).
canonicalize_udf = canonicalize_udf.asNondeterministic()


def url_parts(url: Column | str) -> list[Column]:
    """[host, hrk, path_q] of a CANONICAL url as JVM string expressions —
    registered_host, host_reverse_key (U3) and path_query_of of the pure
    spec. An IPv6 literal host keeps its brackets (SEMANTICS §1)."""
    hostport = F.regexp_extract(url, r"^.*?://([^/?]*)", 1)
    tail = F.regexp_extract(url, r"(?s)^.*?://[^/?]*(.*)$", 1)
    host = F.regexp_extract(hostport, r"^(\[[^\]]*\]|[^:]*)", 1)
    path_q = F.when(tail.startswith("/"), tail).otherwise(
        F.concat(F.lit("/"), tail))
    hrk = F.concat(F.array_join(F.reverse(F.split(host, r"\.", -1)), ","),
                   F.lit(")"), path_q)
    return [host.alias("host"), hrk.alias("hrk"), path_q.alias("path_q")]


def with_url_parts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add host/hrk/path_q to rows whose `url_col` is already canonical,
    dropping null urls."""
    return (df.filter(F.col(url_col).isNotNull())
            .select("*", *url_parts(url_col)))


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
    """Replace `url_col` with its canonical form `url` (moved after the
    other columns) and add host/hrk/path_q, dropping uncrawlable rows."""
    others = [c for c in df.columns if c != url_col]
    return with_url_parts(
        df.select(*others, canonicalize_udf(F.col(url_col)).alias("url")))
