"""X1/X2 extraction tests incl. sha256-pinned goldens (SEMANTICS.md §9)."""

import hashlib
import json
import os

import pytest

from lectura.pure.extract import extract_links, extract_text

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")

HTML = b"""<!DOCTYPE html><html><head><title>T &amp; t</title>
<style>a { color: red } /* <a href="http://style.example/">s</a> */</style>
<script type="text/javascript">var a='<a href="http://script.example/">';
</script></head><body>
<!-- comment <a href='http://comment.example/'>c</a> -->
<A HREF="/rel/path">rel</A>
<a class=x href='HTTP://UP.EXAMPLE:80/a/../b#frag'>up</a>
<a href=bare.html>bare</a>
<a href="mailto:x@y.example">mail</a>
<a href="javascript:void(0)">js</a>
<a href="#top">frag-only</a>
<a href="/rel/path">dup</a>
<a href="?q=2">query-only</a>
<a href="https://other.example/x?a=1&amp;b=2">entity</a>
<p>Hello&nbsp;&lt;world&gt;   spaced</p></body></html>"""

BASE = "http://base.example/dir/page"


def test_text_spec():
    t = extract_text(HTML)
    assert "script" not in t and "style" not in t and "comment" not in t
    assert "T & t" in t
    # &nbsp; → \xa0, which str.split() treats as whitespace → single space
    assert "Hello <world> spaced" in t
    assert "  " not in t  # whitespace normalized


def test_links_spec():
    links = extract_links(HTML, BASE)
    assert links == [
        "http://base.example/rel/path",
        "http://up.example/b",
        "http://base.example/dir/bare.html",
        "http://base.example/dir/page?q=2",
        "https://other.example/x?a=1&b=2",
    ]


def test_links_skip_self():
    assert extract_links(b'<a href="/dir/page">self</a>', BASE) == []


def test_invalid_utf8_replaced():
    t = extract_text(b"<p>ok\xff\xfe</p>")
    assert t.startswith("ok")


@pytest.fixture(scope="module")
def goldens():
    path = os.path.join(GOLDEN_DIR, "extract_goldens.json")
    with open(path) as f:
        return json.load(f)


def test_goldens_frozen(goldens):
    """The byte-exactness contract (B:15): outputs must match the frozen
    sha256 for every golden page. If this fails you changed the extraction
    spec — see SEMANTICS.md header before 'fixing' it."""
    for g in goldens:
        html = g["html"].encode("utf-8")
        text = extract_text(html)
        links = extract_links(html, g["base_url"])
        assert hashlib.sha256(text.encode()).hexdigest() == g["text_sha256"], g["name"]
        assert links == g["links"], g["name"]


def test_spark_extraction_matches_pure(spark, corpus):
    """X2/X1 through the fused Arrow pass == pure functions, byte-exact."""
    import pandas as pd
    from pyspark.sql import functions as F
    from lectura.extract import fetch_extract

    uniq = {}
    for r in corpus["pages"]:
        uniq.setdefault(r["url"], r)
        if len(uniq) >= 100:
            break
    rows = list(uniq.values())
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    ).withColumn("depth", F.lit(0)).withColumn("score", F.lit(1.0))
    got = {
        r.url: (r.text, tuple(r.links))
        for r in fetch_extract(df).collect()
    }
    for row in rows:
        text, links = got[row["url"]]
        assert text == extract_text(row["html"])
        assert text == row["text"]  # synth stores the golden by construction
        assert list(links) == extract_links(row["html"], row["url"])


def test_gzip_corpus_extraction_identical(spark, corpus, tmp_path):
    """The three body sources of the fused fetch+extract pass — raw inline
    html, gzipped inline html, and WARC pointers (gzip members ranged-read
    from a packfile, the bench corpus layout) — must extract to
    byte-identical text/links/bytes (B:15)."""
    import gzip

    import pandas as pd

    from lectura.extract import fetch_extract

    uniq: dict[str, dict] = {}
    for p in corpus["pages"]:
        uniq.setdefault(p["url"], p)
        if len(uniq) == 50:
            break
    rows = [
        {"url": p["url"], "depth": 0, "score": 1.0, "html": p["html"]}
        for p in uniq.values()
    ]
    schema = "url string, depth int, score double, html binary"
    raw = spark.createDataFrame(pd.DataFrame(rows), schema=schema)
    gz_rows = [dict(r, html=gzip.compress(r["html"], 1)) for r in rows]
    gz = spark.createDataFrame(pd.DataFrame(gz_rows), schema=schema)
    pack = str(tmp_path / "seg-00000.warc.gz")
    ptr_rows, off = [], 0
    with open(pack, "wb") as f:
        for r in gz_rows:
            f.write(r["html"])
            ptr_rows.append({"url": r["url"], "depth": 0, "score": 1.0,
                             "warc_file": pack, "warc_offset": off,
                             "warc_len": len(r["html"])})
            off += len(r["html"])
    warc = spark.createDataFrame(
        pd.DataFrame(ptr_rows),
        schema="url string, depth int, score double, warc_file string, "
               "warc_offset long, warc_len int",
    )

    def extracted(df, **kw):
        return {r["url"]: (r["text"], tuple(r["links"]), r["bytes"])
                for r in fetch_extract(df, **kw).collect()}

    a = extracted(raw)
    assert len(a) == 50
    assert extracted(gz, html_gzip=True) == a
    assert extracted(warc) == a


def test_extract_anchors_spec_and_summary(spark):
    """Anchor extraction spec (SEMANTICS §9c): multiplicity kept, same
    href pipeline as extract_links, anchor text through the extract_text
    pipeline, dangling <a> absorbs up to the nearest </a> (anchors
    opened inside are markup), self-links skipped; anchor_summary's
    mode tie-break = highest count then smallest text."""
    from pyspark.sql import functions as F

    from lectura.extract import extract_anchors_udf
    from lectura.graphops import anchor_summary
    from lectura.pure.extract import extract_anchors

    html = (
        '<a href="/a">one</a><a href="/a">one</a>'
        '<a href="/a">two</a>'
        "<a href='/b'>x &lt;y&gt;</a>"
        '<a href=/b><i>styled</i> x</a>'
        '<a href="/dangling">eats <a href="/lost">inner</a>'
        '<a href="http://base.example/list">self</a>'
        '<a href="#f">frag</a><a href="javascript:x()">js</a>'
        '<a href="/empty"></a>'
    )
    base = "http://base.example/list"
    got = extract_anchors(html, base)
    assert got == [
        ("http://base.example/a", "one"),
        ("http://base.example/a", "one"),
        ("http://base.example/a", "two"),
        ("http://base.example/b", "x <y>"),
        ("http://base.example/b", "styled x"),
        # the dangling /a absorbs the /lost anchor as markup
        ("http://base.example/dangling", "eats inner"),
        ("http://base.example/empty", ""),
    ]

    df = spark.createDataFrame([(html, base)], "html string, base string")
    rows = (
        df.select(F.explode(extract_anchors_udf("html", "base")).alias("a"))
        .select(F.col("a.url").alias("dst"), F.col("a.text").alias("text"))
    )
    assert [(r.dst, r.text) for r in rows.collect()] == got

    summ = {r.dst: (r.n_refs, r.n_texts, r.top_text, r.top_text_refs)
            for r in anchor_summary(rows).collect()}
    assert summ["http://base.example/a"] == (3, 2, "one", 2)
    # tie at c=1: lexicographically smallest text wins
    assert summ["http://base.example/b"] == (2, 2, "styled x", 1)
    assert summ["http://base.example/empty"] == (1, 1, "", 1)
