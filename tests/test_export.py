"""export_corpus: train-shard materialization from the crawl warehouse,
verified against a pure-Python reference (gates → fingerprint groups →
brute-force simhash hamming graph → union-find clusters)."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lectura.export import export_corpus
from lectura.pure.enrich import enrich_text
from lectura.pure.fingerprint import hamming64
from lectura.tables import Warehouse

VOCAB = ("the and for with market report spring harvest window ledger "
         "quarter signal matrix copper meadow").split()


def _mk_docs():
    """Planted corpus: quality-gated docs, exact dups, guaranteed
    near-dups (repetitive base text → simhash bit margins are wide, so an
    appended word flips ~0 bits while the rolling fingerprint changes),
    and random docs whose pairwise hamming the reference recomputes."""
    rng = random.Random(11)
    docs = {}
    # 7 DISTINCT words repeated 10× each: every simhash bit's count is
    # 10·(sum of 7 ±1s), an odd multiple of 10, so |margin| ≥ 10 and an
    # appended word (±1 per bit) flips nothing — hamming(base, near*) = 0
    # while the order-sensitive rolling fingerprint still differs.
    base = " ".join(["the report for spring market window ledger"] * 10)
    docs["http://a.example/base"] = base
    docs["http://a.example/near1"] = base + " ledger"      # near-dup of base
    docs["http://b.example/near2"] = base + " copper"      # near-dup of base
    docs["http://c.example/exact"] = base                  # exact dup of base
    docs["http://z.example/exact2"] = base                 # exact dup of base
    for i in range(20):
        docs[f"http://r{i % 5}.example/p{i}"] = " ".join(
            rng.choice(VOCAB) for _ in range(40)
        )
    docs["http://short.example/"] = "too short"            # token-gated
    return docs


def _reference(docs, min_tokens=20, max_hamming=3):
    stats = {u: enrich_text(t, {}) for u, t in docs.items()}
    gated = {u: s for u, s in stats.items()
             if s["n_tokens"] >= min_tokens and s["lang_guess"] == "en"}
    # exact dedup: min url per fingerprint
    by_fp = {}
    for u in sorted(gated):
        by_fp.setdefault(gated[u]["fingerprint"], []).append(u)
    winners = {us[0]: len(us) for us in by_fp.values()}
    # brute-force hamming graph over winners + union-find
    urls = sorted(winners)
    parent = {u: u for u in urls}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, u1 in enumerate(urls):
        for u2 in urls[i + 1:]:
            if hamming64(gated[u1]["simhash"] & (2**64 - 1),
                         gated[u2]["simhash"] & (2**64 - 1)) <= max_hamming:
                parent[find(u1)] = find(u2)
    clusters = {}
    for u in urls:
        clusters.setdefault(find(u), []).append(u)
    keep = {}
    for members in clusters.values():
        k = min(members)
        keep[k] = {"cluster_size": len(members),
                   "n_exact_copies": winners[k]}
    return keep


def _text_df(spark, docs):
    """The text table's export columns for {url: text}, enriched by the
    pure-Python kernel the crawl's extraction runs."""
    rows = []
    for u, t in docs.items():
        s = enrich_text(t, {})
        rows.append({
            "url": u, "text": t, "n_tokens": s["n_tokens"],
            "quality": s["quality"], "lang_guess": s["lang_guess"],
            "fingerprint": s["fingerprint"], "simhash": s["simhash"],
        })
    return spark.createDataFrame(
        pd.DataFrame(rows),
        schema="url string, text string, n_tokens int, quality double, "
               "lang_guess string, fingerprint long, simhash long",
    )


@pytest.fixture(scope="module")
def text_wh(spark, tmp_path_factory):
    docs = _mk_docs()
    wh = Warehouse(str(tmp_path_factory.mktemp("exp") / "wh"), spark)
    wh.overwrite("text", _text_df(spark, docs))
    return wh, docs


def test_export_matches_pure_reference(text_wh):
    wh, docs = text_wh
    stats = export_corpus(wh, min_tokens=20, max_hamming=3)
    ref = _reference(docs)
    got = {r.url: r for r in wh.read("train_docs").collect()}
    assert set(got) == set(ref)
    assert stats["n_docs"] == len(ref)
    for u, want in ref.items():
        assert got[u].cluster_size == want["cluster_size"], u
        assert got[u].n_exact_copies == want["n_exact_copies"], u
    # the planted families actually exercised both dedup stages
    base = got["http://a.example/base"]
    assert base.n_exact_copies == 3      # base + 2 exact copies
    assert base.cluster_size >= 3        # base + 2 appended-word near-dups
    # no surviving doc pair is within the near-dup radius
    urls = sorted(got)
    for i, u1 in enumerate(urls):
        for u2 in urls[i + 1:]:
            assert hamming64(got[u1].simhash & (2**64 - 1),
                             got[u2].simhash & (2**64 - 1)) > 3


def test_export_saturated_simhash_bucket_capped(spark, tmp_path):
    """Boilerplate-saturated corpus (every doc the same simhash, distinct
    fingerprints — the synthetic-bench regime): without the df cap the
    banding self-join is quadratic; with it, export completes, reports the
    dropped buckets, and keeps every doc as its own cluster."""
    rows = [{
        "url": f"http://s{i % 7}.example/p{i}", "text": f"doc {i} " * 30,
        "n_tokens": 60, "quality": 0.9, "lang_guess": "en",
        "fingerprint": i + 1, "simhash": 0x7EADBEEF_00C0FFEE,
    } for i in range(300)]
    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", spark.createDataFrame(
        pd.DataFrame(rows),
        schema="url string, text string, n_tokens int, quality double, "
               "lang_guess string, fingerprint long, simhash long",
    ))
    stats = export_corpus(wh, min_tokens=20, max_hamming=3,
                          band_max_df=64)
    assert stats["n_hot_buckets_dropped"] == 4   # all 4 chunks saturated
    assert stats["n_docs"] == 300                # no pairs → no clustering
    got = wh.read("train_docs").collect()
    assert all(r.cluster_size == 1 for r in got)


def test_export_gates_and_determinism(text_wh):
    wh, docs = text_wh
    r1 = export_corpus(wh, min_tokens=20, max_hamming=3)
    r2 = export_corpus(wh, min_tokens=20, max_hamming=3)
    assert r1["n_docs"] == r2["n_docs"]
    got = {r.url for r in wh.read("train_docs").collect()}
    assert "http://short.example/" not in got  # token gate applied


def test_export_default_layout(spark, text_wh, tmp_path):
    """No fixed fan-out: AQE coalesces each export write to the data, so
    a few dozen docs land in one file per table — for the full export
    and for an incremental refresh after an appended text round."""
    from lectura.export import export_corpus_incremental

    src, _ = text_wh
    # a copy of the fixture's text table: the append below must not
    # leak into the module-scoped fixture other tests read
    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", src.read("text"))

    def n_files():
        return (len(wh._files("train_docs")),
                len(wh._files("train_docs_state")))

    export_corpus(wh, min_tokens=20, max_hamming=3)
    assert n_files() == (1, 1)
    rng = random.Random(5)
    new = {f"http://n{i}.example/p": " ".join(
        rng.choice(VOCAB) for _ in range(40)) for i in range(5)}
    wh.append("text", _text_df(spark, new))
    stats = export_corpus_incremental(wh, min_tokens=20, max_hamming=3)
    assert stats["n_changed"] == len(new)
    assert n_files() == (1, 1)


def test_export_selection_stages(spark, text_wh, tmp_path):
    """Decontamination, stratified sampling, and shard packing composed
    after dedup: bench overlap drops exactly the docs sharing a 4-gram
    with the bench text; sampling at rate 1.0 keeps everything (and is
    deterministic); shard_ids follow the exact url-ordered prefix sum."""
    wh, docs = text_wh
    base_stats = export_corpus(wh, min_tokens=20, max_hamming=3,
                               out_table="sel_base")
    kept = {r.url: r for r in wh.read("sel_base").collect()}

    # bench = the surviving base-family keeper's text: its 4-grams hit
    # every doc built from the same repeated sentence, and no random doc
    bench_text = docs["http://a.example/base"]
    bench = spark.createDataFrame(
        pd.DataFrame([{"url": "bench://0", "text": bench_text}]))
    stats = export_corpus(wh, min_tokens=20, max_hamming=3,
                          bench=bench, contam_n=4, out_table="sel_decon")
    got = {r.url for r in wh.read("sel_decon").collect()}
    want_dropped = {u for u in kept
                    if docs[u].startswith("the report for spring")}
    assert got == set(kept) - want_dropped and want_dropped
    assert stats["n_contaminated_dropped"] == len(want_dropped)

    # sampling: rate 1.0 keeps all (nested-sample property at the top),
    # rate 0.0 default drops docs of unlisted strata (all are 'en' here)
    stats = export_corpus(wh, min_tokens=20, max_hamming=3,
                          sample_rates={"en": 1.0}, out_table="sel_samp")
    assert stats["n_docs"] == len(kept)

    # shard packing: exact prefix-sum assignment in url order
    stats = export_corpus(wh, min_tokens=20, max_hamming=3,
                          shard_tokens=200, out_table="sel_shard")
    rows = sorted(((r.url, r.n_tokens, r.shard_id)
                   for r in wh.read("sel_shard").collect()))
    run = 0
    for url, n_tok, sid in rows:
        assert sid == run // 200, url
        run += n_tok
    assert stats["n_shards"] == rows[-1][2] + 1 > 1
    assert stats["n_docs"] == len(kept)

    # the shard write clusters by shard_id: every shard sits in exactly
    # one file, whether AQE coalesced the write's partitions (the
    # default) or wrote one file per shuffle partition
    def files_per_shard(table):
        return [r["count"] for r in wh.read(table)
                .select("shard_id", F.input_file_name().alias("file"))
                .distinct().groupBy("shard_id").count().collect()]

    assert files_per_shard("sel_shard") == [1] * stats["n_shards"]
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        export_corpus(wh, min_tokens=20, max_hamming=3, shard_tokens=200,
                      out_table="sel_shard_uncoalesced")
    finally:
        spark.conf.set(key, was)
    assert len(wh._files("sel_shard_uncoalesced")) > 1
    assert (files_per_shard("sel_shard_uncoalesced")
            == [1] * stats["n_shards"])


def test_export_chunked_windows(spark, text_wh):
    """--chunk re-cuts surviving docs into overlapping training windows
    before packing: every chunk ≤ window tokens, stride-prefixes
    reconstruct each doc, metadata is inherited per chunk, composite
    keys are unique, and packing operates on chunk keys."""
    wh, docs = text_wh
    base = export_corpus(wh, min_tokens=20, max_hamming=3,
                         out_table="chunk_base")
    survivors = {r.url: r for r in wh.read("chunk_base").collect()}

    stats = export_corpus(wh, min_tokens=20, max_hamming=3,
                          chunk=(16, 12), shard_tokens=64,
                          out_table="chunk_out")
    rows = [r for r in wh.read("chunk_out").collect()]
    keys = [r.url for r in rows]
    assert len(keys) == len(set(keys))                 # unique chunk keys
    # n_docs still counts DOCUMENTS under --chunk; rows move to n_chunks
    assert stats["n_docs"] == len(survivors)
    assert stats["n_chunks"] == len(rows) > len(survivors)
    assert stats["chunk"] == [16, 12]

    per_doc: dict[str, dict[int, object]] = {}
    for r in rows:
        u, cid = r.url.rsplit("#", 1)
        assert r.n_tokens == len(r.text.split()) <= 16
        assert int(cid) == r.chunk_id
        per_doc.setdefault(u, {})[r.chunk_id] = r
    assert set(per_doc) == set(survivors)
    for u, chunks in per_doc.items():
        # contiguous chunk ids, stride-prefix reconstruction
        assert sorted(chunks) == list(range(len(chunks)))
        toks = []
        for c in sorted(chunks):
            part = chunks[c].text.split()
            toks.extend(part[:12] if c < len(chunks) - 1 else part)
        assert " ".join(toks) == " ".join(docs[u].split())
        # doc-level metadata inherited on every chunk
        assert all(chunks[c].lang_guess == survivors[u].lang_guess
                   and chunks[c].cluster_size == survivors[u].cluster_size
                   for c in chunks)
    # shard ids follow the prefix sum over chunk keys
    srows = sorted((r.url, r.n_tokens, r.shard_id) for r in rows)
    run = 0
    for _, n_tok, sid in srows:
        assert sid == run // 64
        run += n_tok


def _mk_backend_docs():
    """Planted families for the near-dup backend choice:
    - exact family: 2 identical docs (collapses under EVERY backend);
    - shingle family: a long random doc + a copy with a few words
      swapped mid-stream (high Jaccard, simhash within radius);
    - quotation pair: a SHORT doc that is an exact contiguous slice of
      a LONG doc (containment c12 = 1.0) whose symmetric Jaccard is
      ~len_short/len_long — invisible to minhash banding at 0.8 and to
      simhash (different length → different bit profile);
    - 15 independent random docs that no backend may merge."""
    import random

    rng = random.Random(47)
    words = lambda n, r: " ".join(  # noqa: E731
        r.choice(VOCAB) for _ in range(n))
    docs = {}
    base = words(120, rng)
    docs["http://sh.example/orig"] = base
    toks = base.split()
    toks[60] = "swapped"
    toks[61] = "tokens"
    docs["http://sh.example/edit"] = " ".join(toks)
    long_doc = words(400, random.Random(48))
    short_doc = " ".join(long_doc.split()[100:140])  # 40-word slice
    docs["http://q.example/long"] = long_doc
    docs["http://q.example/short"] = short_doc
    exact_text = words(80, random.Random(999))
    docs["http://x.example/exact1"] = exact_text
    docs["http://y.example/exact2"] = exact_text
    for i in range(15):
        docs[f"http://r{i}.example/p"] = words(60, random.Random(100 + i))
    return docs


@pytest.mark.parametrize("backend", ["simhash", "minhash", "containment"])
def test_export_near_dup_backends(spark, tmp_path, backend):
    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", _text_df(spark, _mk_backend_docs()))
    stats = export_corpus(wh, min_tokens=20, max_hamming=3,
                          near_dup=backend, near_dup_threshold=0.8)
    assert stats["near_dup"] == backend  # stats line reports the backend
    got = {r.url: r for r in wh.read("train_docs").collect()}

    # exact dedup is backend-independent
    assert ("http://x.example/exact1" in got) ^ \
        ("http://y.example/exact2" in got)
    exact_keeper = got.get("http://x.example/exact1")
    assert exact_keeper is not None and exact_keeper.n_exact_copies == 2
    # every independent random doc survives as its own cluster
    for i in range(15):
        assert got[f"http://r{i}.example/p"].cluster_size == 1, i
    # the shingle family (minor mid-doc edit) collapses under simhash
    # AND minhash (keeper = min url = .../edit); the quotation pair
    # collapses ONLY under containment
    shingle_merged = "http://sh.example/orig" not in got \
        and got["http://sh.example/edit"].cluster_size >= 2
    quote_merged = "http://q.example/short" not in got \
        and got["http://q.example/long"].cluster_size == 2
    if backend == "containment":
        assert quote_merged
    else:
        assert not quote_merged
        assert "http://q.example/short" in got
    if backend in ("simhash", "minhash"):
        assert shingle_merged, backend


def test_export_incremental_rejects_text_backends(spark, tmp_path):
    from lectura.export import export_corpus_incremental

    wh = Warehouse(str(tmp_path / "wh"), spark)
    wh.overwrite("text", _text_df(spark, _mk_backend_docs()))
    export_corpus(wh, min_tokens=20, near_dup="minhash")
    with pytest.raises(ValueError, match="near-dup backend"):
        export_corpus_incremental(wh, min_tokens=20)
