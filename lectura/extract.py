"""Vectorized listing-page extraction (SURVEY.md §2.6, X1–X7; B:15 "no
per-row Python" = Arrow-batched UDFs; the HTML parsing itself is the pure
spec function applied per document inside each batch).

`fetch_extract` is the crawl's one fused fetch + X4 pass: one Arrow
round-trip produces links + text + fetch metrics together, whether the
page bodies are read from WARC packfiles or arrive inline.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lectura.pure.enrich import ENRICH_COLS, enrich_text
from lectura.pure.extract import extract_page

EXTRACT_SCHEMA = (
    "url string, depth int, score double, text string, links array<string>, "
    "n_links int, bytes long, " + ENRICH_COLS
)


def _enriched_frame(pdf, texts, links, nbytes, cache):
    """Assemble one output batch: extraction columns + per-page enrichment
    (lang/quality/token stats, fingerprint, simhash — pure.enrich)."""
    import pandas as _pd

    stats = [enrich_text(t, cache) for t in texts]
    out = {
        "url": pdf["url"],
        "depth": pdf["depth"],
        "score": pdf["score"],
        "text": texts,
        "links": links,
        "n_links": [len(x) for x in links],
        "bytes": nbytes,
    }
    for k in ("n_tokens", "mean_token_len", "stopword_ratio", "alpha_ratio",
              "digit_ratio", "quality", "lang_guess", "fingerprint",
              "simhash"):
        out[k] = [s[k] for s in stats]
    return _pd.DataFrame(out)


WARC_POINTER_COLS = ["warc_file", "warc_offset", "warc_len"]


def fetch_extract(fetched: DataFrame, html_gzip: bool = False) -> DataFrame:
    """Fused fetch + extract (S1b + X4): (url, depth, score, body source)
    -> EXTRACT_SCHEMA in one mapInPandas pass, so page bytes cross the
    JVM↔Python boundary at most once and never come back.

    The body source is decided once per call from the input columns:

    - ``warc_file/warc_offset/warc_len`` (WARC-pointer corpus, the
      Common-Crawl-native layout): each Python worker preads the gzip
      member for its rows through cached file handles and inflates it —
      page bytes NEVER enter the JVM, and a round reads only the
      scheduled bodies instead of decoding a full html column;
    - ``html`` (inline corpus): the body is the column value, inflated
      here when ``html_gzip`` is set (gzip member per page).

    `bytes` always reports the DECOMPRESSED body size (fetch-metric
    semantics)."""
    import gzip as _gzip

    warc = "warc_file" in fetched.columns

    def warc_bodies(pdf, handles):
        for wf, off, ln in zip(pdf["warc_file"], pdf["warc_offset"],
                               pdf["warc_len"]):
            fh = handles.get(wf)
            if fh is None:
                fh = handles[wf] = open(wf, "rb")
            fh.seek(int(off))
            yield _gzip.decompress(fh.read(int(ln)))

    def html_bodies(pdf, handles):
        for html in pdf["html"]:
            b = bytes(html) if html is not None else b""
            yield _gzip.decompress(b) if html_gzip and b else b

    bodies = warc_bodies if warc else html_bodies

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict[str, object] = {}
        cache: dict = {}
        try:
            for pdf in batches:
                texts, links, nbytes = [], [], []
                for url, b in zip(pdf["url"], bodies(pdf, handles)):
                    t, ls = extract_page(b, url)
                    texts.append(t)
                    links.append(ls)
                    nbytes.append(len(b))
                yield _enriched_frame(pdf, texts, links, nbytes, cache)
        finally:
            for fh in handles.values():
                fh.close()

    body_cols = WARC_POINTER_COLS if warc else ["html"]
    return fetched.select("url", "depth", "score", *body_cols).mapInPandas(
        run, EXTRACT_SCHEMA
    )


@F.pandas_udf(T.ArrayType(T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("text", T.StringType()),
])))
def extract_anchors_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """(url, anchor_text) occurrence stream per page (pure spec fn
    extract_anchors, Arrow-batched)."""
    from lectura.pure.extract import extract_anchors

    return pd.Series([
        extract_anchors(bytes(b) if isinstance(b, (bytes, bytearray))
                        else b, u) if b is not None else []
        for b, u in zip(html, base_url)
    ])
