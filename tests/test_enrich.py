"""Per-page enrichment (pure.enrich fused into X4 extraction).

The enrichment columns are non-SQL-expressible (FNV fingerprints,
simhash) → verified here against the pure spec instead of the DuckDB
oracle (SURVEY.md §5.2 pattern)."""

from __future__ import annotations

import pandas as pd

from lectura.pure.enrich import STOPWORDS_EN, enrich_text
from lectura.pure.fingerprint import rolling_fingerprint, simhash64


def test_cache_independence():
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "shuffle partition broadcast join skew salt bloom",
        "",
        "a a a a a a a a a a",
    ]
    warm: dict = {}
    for t in texts:
        assert enrich_text(t, {}) == enrich_text(t, warm)


def test_matches_fingerprint_primitives():
    t = "the crawl frontier shuffles partitions over the broadcast join"
    r = enrich_text(t, {})
    assert r["fingerprint"] == rolling_fingerprint(t)
    sim = simhash64(t)
    assert r["simhash"] == (sim - (1 << 64) if sim >= (1 << 63) else sim)
    words = t.split()
    assert r["n_tokens"] == len(words)
    assert r["stopword_ratio"] == round(
        sum(w in STOPWORDS_EN for w in words) / len(words), 4
    )


def test_empty_and_degenerate():
    z = enrich_text("", {})
    assert z["n_tokens"] == 0 and z["lang_guess"] == "und"
    assert z["fingerprint"] == 0 and z["simhash"] == 0


def test_spark_extraction_carries_enrichment(spark, corpus):
    """Extracted rows' enrichment columns == pure recomputation from the
    extracted text (exact equality, including int64 wrap of simhash)."""
    from lectura.extract import fetch_extract

    uniq: dict[str, dict] = {}
    for p in corpus["pages"]:
        uniq.setdefault(p["url"], p)
        if len(uniq) == 40:
            break
    rows = [
        {"url": p["url"], "depth": 0, "score": 1.0, "html": p["html"]}
        for p in uniq.values()
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows), schema="url string, depth int, score double, html binary"
    )
    got = fetch_extract(df).collect()
    assert len(got) == 40
    for r in got:
        exp = enrich_text(r["text"], {})
        for k, v in exp.items():
            assert r[k] == v, (r["url"], k, r[k], v)
