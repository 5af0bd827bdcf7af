"""Changelog-driven incremental export (S17 composition): an
incremental refresh after text-table commits must produce EXACTLY the
table a full export_corpus would at the same snapshot — winners,
exact-copy counts, cluster sizes and text bytes — while touching text
only for changed docs."""

import pandas as pd
import pytest

from lectura.export import (export_corpus, export_corpus_incremental,
                            _state_table)
from lectura.pure.enrich import enrich_text
from lectura.tables import Warehouse

BASE = " ".join(["the report for spring market window ledger"] * 10)

SCHEMA = ("url string, text string, n_tokens int, quality double, "
          "lang_guess string, fingerprint long, simhash long")


def _rows(docs: dict) -> pd.DataFrame:
    out = []
    for u, t in docs.items():
        s = enrich_text(t, {})
        out.append({
            "url": u, "text": t, "n_tokens": s["n_tokens"],
            "quality": s["quality"], "lang_guess": s["lang_guess"],
            "fingerprint": s["fingerprint"], "simhash": s["simhash"],
        })
    return pd.DataFrame(out)


def _batch1() -> dict:
    import random

    rng = random.Random(23)
    vocab = ("the and for with market report spring harvest window "
             "ledger quarter signal matrix copper meadow").split()
    docs = {
        "http://a.example/base": BASE,
        "http://b.example/near1": BASE + " ledger",   # near-dup of base
        "http://c.example/exact": BASE,               # exact dup of base
    }
    for i in range(15):
        docs[f"http://r{i % 5}.example/p{i}"] = " ".join(
            rng.choice(vocab) for _ in range(40))
    return docs


def _batch2() -> dict:
    import random

    rng = random.Random(91)
    vocab = ("the and for with market report spring harvest window "
             "ledger quarter signal matrix copper meadow").split()
    return {
        # exact dup of base with a LEXICOGRAPHICALLY SMALLER url: the
        # winner of base's fingerprint group must MOVE to this new doc
        "http://0.example/exact3": BASE,
        # new near-dup joining base's simhash cluster
        "http://n.example/near3": BASE + " matrix",
        # gated out (token gate) — must not enter the state
        "http://short.example/x": "too short",
        # plain new docs
        **{f"http://q{i}.example/n{i}": " ".join(
            rng.choice(vocab) for _ in range(45)) for i in range(8)},
    }


def _table_rows(wh, name):
    return sorted(
        tuple(r) for r in
        wh.read(name).select("url", "text", "n_tokens", "quality",
                             "lang_guess", "fingerprint", "simhash",
                             "n_exact_copies", "cluster_size").collect()
    )


def test_incremental_after_append_equals_full(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", spark.createDataFrame(_rows(_batch1()),
                                               schema=SCHEMA))
    export_corpus(wh, min_tokens=20, max_hamming=3)
    snap_before = wh.snapshot("text")

    wh.append("text", spark.createDataFrame(_rows(_batch2()),
                                            schema=SCHEMA))
    # append fast path: the changelog the incremental consumes reads
    # ONLY the appended files, with zero joins/exchanges in its plan
    ch = wh.changelog("text", "url", from_snapshot=snap_before)
    added = set(wh.files_added("text", wh.snapshot("text")))
    got_files = {f.removeprefix("file://") for f in ch.inputFiles()}
    assert got_files <= added and got_files
    assert "Exchange" not in ch._jdf.queryExecution().executedPlan().toString()

    stats = export_corpus_incremental(wh, min_tokens=20, max_hamming=3)
    assert stats["mode"] == "incremental"
    assert stats["n_changed"] == len(_batch2())
    # append-only commits can never promote an old loser to winner
    assert stats["n_promoted_fetched"] == 0

    got = _table_rows(wh, "train_docs")
    export_corpus(wh, min_tokens=20, max_hamming=3,
                  out_table="full_check")
    want = _table_rows(wh, "full_check")
    assert got == want

    # the planted displacement actually happened: the new smaller url
    # owns base's fingerprint group and simhash cluster
    by_url = {r[0]: r for r in got}
    assert "http://0.example/exact3" in by_url
    assert "http://a.example/base" not in by_url
    assert by_url["http://0.example/exact3"][-2] == 3   # n_exact_copies
    assert by_url["http://0.example/exact3"][-1] >= 3   # cluster_size
    assert "http://short.example/x" not in by_url       # gate applied
    # state table == gated slim of text@HEAD (the equivalence invariant)
    n_gated = (wh.read("text")
               .filter("n_tokens >= 20 and lang_guess = 'en'").count())
    assert wh.read(_state_table("train_docs")).count() == n_gated


def test_incremental_noop_and_idempotent_replay(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", spark.createDataFrame(_rows(_batch1()),
                                               schema=SCHEMA))
    export_corpus(wh, min_tokens=20, max_hamming=3)
    first = wh.snapshot("text")
    wh.append("text", spark.createDataFrame(_rows(_batch2()),
                                            schema=SCHEMA))
    export_corpus_incremental(wh, min_tokens=20, max_hamming=3)
    want = _table_rows(wh, "train_docs")

    # no new text commits → clean no-op, table untouched
    stats = export_corpus_incremental(wh, min_tokens=20, max_hamming=3)
    assert stats.get("unchanged") is True
    assert _table_rows(wh, "train_docs") == want

    # replay from an OLDER snapshot (stale meta after a crash between
    # the three commits): idempotent, same table
    stats = export_corpus_incremental(wh, from_snapshot=first,
                                      min_tokens=20, max_hamming=3)
    assert stats["n_changed"] == len(_batch2())
    assert _table_rows(wh, "train_docs") == want


def test_incremental_update_promotes_loser(spark, tmp_path):
    """The keyed-diff path: updating the winning exact-dup's text so it
    gates out must promote the surviving copy — whose text is in
    neither the changelog nor the old output — via the keyed fetch."""
    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", spark.createDataFrame(_rows(_batch1()),
                                               schema=SCHEMA))
    export_corpus(wh, min_tokens=20, max_hamming=3)
    # kill the whole base family except the exact-dup loser, so the
    # promoted winner's cluster has no other member in the old output
    upd = _rows({"http://a.example/base": "now far too short",
                 "http://b.example/near1": "also far too short"})
    wh.merge("text", spark.createDataFrame(upd, schema=SCHEMA), "url")

    stats = export_corpus_incremental(wh, min_tokens=20, max_hamming=3)
    assert stats["n_promoted_fetched"] == 1
    got = _table_rows(wh, "train_docs")
    export_corpus(wh, min_tokens=20, max_hamming=3,
                  out_table="full_check")
    assert got == _table_rows(wh, "full_check")
    by_url = {r[0]: r for r in got}
    assert "http://c.example/exact" in by_url
    assert by_url["http://c.example/exact"][1] == BASE  # text bytes intact
    assert "http://a.example/base" not in by_url


def test_incremental_guards(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", spark.createDataFrame(_rows(_batch1()),
                                               schema=SCHEMA))
    # no prior export → no meta
    with pytest.raises(FileNotFoundError, match="export meta"):
        export_corpus_incremental(wh)
    # full run with a selection stage is not incrementally composable
    export_corpus(wh, min_tokens=20, max_hamming=3,
                  sample_rates={"en": 1.0})
    with pytest.raises(ValueError, match="selection stages"):
        export_corpus_incremental(wh, min_tokens=20, max_hamming=3)
    # a text-based near-dup backend (minhash/containment) is not
    # incrementally composable either — the slim state carries no text,
    # so a refresh would silently fall back to simhash semantics
    export_corpus(wh, min_tokens=20, max_hamming=3,
                  near_dup="minhash")
    with pytest.raises(ValueError, match="near-dup backend"):
        export_corpus_incremental(wh, min_tokens=20, max_hamming=3)
    # param drift raises instead of silently diverging
    export_corpus(wh, min_tokens=20, max_hamming=3)
    wh.append("text", spark.createDataFrame(
        _rows({"http://new.example/d": "fresh words " * 20}),
        schema=SCHEMA))
    with pytest.raises(ValueError, match="full re-export"):
        export_corpus_incremental(wh, min_tokens=5, max_hamming=3)


def test_maintain_expiry_preserves_incremental_baseline(spark, tmp_path):
    """S19 × S17 × C9 lifecycle: a retention sweep (`maintain
    --expire-keep`) between corpus refreshes must keep the text history
    the incremental export replays from — and because maintenance also
    COMPACTS the text table, the refresh after it exercises the
    changelog's keyed-diff path across a rewrite. Once the refresh
    commits (baseline advanced to HEAD), the NEXT sweep reclaims the
    old history: retention is bounded by the newest export, never by
    full history."""
    from lectura.maintain import maintain

    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", spark.createDataFrame(_rows(_batch1()),
                                               schema=SCHEMA))
    base_snap = wh.snapshot("text")
    export_corpus(wh, min_tokens=20, max_hamming=3)
    wh.append("text", spark.createDataFrame(_rows(_batch2()),
                                            schema=SCHEMA))

    # keep_last=1 alone would expire the baseline snapshot; the
    # export-baseline anchor must keep it readable
    maintain(wh, expire_keep=1)
    assert wh.read("text", snapshot=base_snap).count() > 0

    stats = export_corpus_incremental(wh, min_tokens=20, max_hamming=3)
    assert stats["n_changed"] > 0
    inc = _table_rows(wh, "train_docs")
    export_corpus(wh, min_tokens=20, max_hamming=3,
                  out_table="full_ref")
    assert inc == _table_rows(wh, "full_ref")

    # the refresh advanced its recorded baseline: the next sweep now
    # reclaims the pre-refresh history (expired time travel raises)
    maintain(wh, expire_keep=1)
    with pytest.raises(FileNotFoundError):
        wh.read("text", snapshot=base_snap)
    # and the chain is still alive going forward
    assert export_corpus_incremental(
        wh, min_tokens=20, max_hamming=3)["unchanged"]


def test_dropped_export_does_not_pin_retention(spark, tmp_path):
    """Dropping an export's output table (but not its meta/state —
    the easy mistake) must release the retention anchor: the next
    sweep reclaims the old text history instead of pinning it to the
    dangling meta's baseline forever."""
    from lectura.maintain import _export_baselines, maintain

    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", spark.createDataFrame(_rows(_batch1()),
                                               schema=SCHEMA))
    base_snap = wh.snapshot("text")
    export_corpus(wh, min_tokens=20, max_hamming=3)
    wh.append("text", spark.createDataFrame(_rows(_batch2()),
                                            schema=SCHEMA))
    assert _export_baselines(wh) == [base_snap]
    wh.drop("train_docs")
    assert _export_baselines(wh) == []
    maintain(wh, expire_keep=1)
    with pytest.raises(FileNotFoundError, match="expired"):
        wh.read("text", snapshot=base_snap)
