"""Training-corpus materialization from the crawl warehouse — the bridge
between the crawl half (fetch → extract → enrich) and the training-data
half (quality gates → dedup) of the pipeline.

The fused extraction pass (X4, lectura/extract.py) already computed every
signal this step needs — token/quality/language stats, the rolling
64-bit fingerprint, the simhash — so export is pure JVM work over stored
columns: no text re-tokenization, no Python, no second scan of the page
bodies. At 100 TB that is the difference between an export that reads a
slim stats projection and one that re-processes the whole corpus.

Plan shape (all shuffles keyed and bounded):
  1. quality/language gates — scan-stage filters (predicate pushdown);
  2. exact dedup — one partial-aggregating groupBy on `fingerprint`
     over the SLIM (url, fingerprint, simhash) projection (min(url)
     keeps the lexicographically-smallest url, count(*) records copies
     for lineage; duplicates collapse map-side — no window, so the
     hottest duplicate never sorts inside one task);
  3. near-dup clustering — simhash 4×16-bit pigeonhole banding
     (equi-join, lossless for hamming ≤ 3, hot buckets df-capped) →
     connected components (large-star/small-star, O(log n) rounds) →
     one partial-aggregating groupBy per component keeps the canonical
     doc and records the cluster size (same skew-proof shape as 2);
  4. winner join — the only stage that touches `text`: one hash join by
     url fans the kept-url set against the gated scan and feeds the
     write, hash-partitioned by url with no fixed fan-out: AQE coalesces
     the shuffle partitions to the data, so a small export writes one
     file and a large one keeps `spark.sql.shuffle.partitions` tasks.

Node ids for the component step are xxhash64(url): at the 10^10-doc
design point the expected number of colliding pairs is ~0.003·(n/10^9)²,
and a collision can only merge two clusters (over-dedup by one doc),
never corrupt the table — an acceptable trade for never shuffling url
strings through the graph iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lectura.graphops import connected_components
from lectura.tables import Warehouse
from lectura.textops import simhash_band_pairs, simhash_chunks

EXPORT_COLS = ("url", "text", "n_tokens", "quality", "lang_guess",
               "fingerprint", "simhash")

# content-affecting knobs pinned by the incremental path: an
# incremental run with different gates/dedup params than the full
# export it extends would silently produce a corpus no full run could
GATE_PARAMS = ("min_tokens", "min_quality", "langs", "max_hamming",
               "band_max_df")


def _gate(docs: DataFrame, min_tokens: int, min_quality: float,
          langs: tuple[str, ...] | None) -> DataFrame:
    """Quality/language gates — scan-stage filters shared verbatim by
    the full and incremental paths (equivalence requires bit-identical
    gating)."""
    gated = docs.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("quality") >= min_quality)
    )
    if langs is not None:
        gated = gated.filter(F.col("lang_guess").isin(list(langs)))
    return gated


NEAR_DUP_BACKENDS = ("simhash", "minhash", "containment")


def latest_text(text: DataFrame) -> DataFrame:
    """One row per url — the LATEST extraction. Revisit rounds
    (SEMANTICS.md §16) append per-round history to the text table, so a
    revisited url has several rows; the exportable corpus is the newest
    row per url (url is the doc id everywhere downstream — dedup state,
    winner join, shard packing all key on it).

    Revisit-free warehouses — the common case — are detected with one
    slim (url, count) aggregation (no text bytes move) and pass through
    untouched, keeping the export's one-text-exchange plan identical to
    before. Revisited warehouses reduce via max_by keyed on round; the
    groupBy hash-partitions the corpus by url — the SAME clustering the
    winner join needs — so text still crosses exactly ONE exchange
    (this reduction's), not two. Per-url group size is bounded by the
    crawl's round count, so the struct-buffer aggregate has no skew
    exposure."""
    if "round" not in text.columns:
        return text
    dup = (text.groupBy("url").count()
           .filter(F.col("count") > 1).limit(1).count())
    if not dup:
        return text
    others = [c for c in text.columns if c != "url"]
    return (
        text.groupBy("url")
        .agg(F.max_by(F.struct(*others), "round").alias("_r"))
        .select("url", "_r.*")
    )


def _near_dup_pairs_fn(gated: DataFrame, near_dup: str, threshold: float,
                       max_df: int | None):
    """Near-dup backend choice for the export's cluster stage (VERDICT
    r4 #4). Returns None for the default stored-simhash banding, else a
    pairs_fn for _dedup_keep:

    * ``minhash`` — DD3 MinHash-Jaccard banding over the WINNERS' text
      (k=32 sigs, 8 bands; pair kept when estimated Jaccard ≥
      `threshold`). Catches shingle-level near-dups whose simhash
      drifted past the hamming radius.
    * ``containment`` — DD2b one-sided containment over the winners'
      text (pair kept when either direction ≥ `threshold`). Catches
      ASYMMETRIC duplication — a short doc quoted wholesale inside a
      long one — which is invisible to both simhash and symmetric
      Jaccard by construction.

    Cost model, stated honestly: the crawl's fused extraction persists
    fingerprint+simhash but no minhash signatures or shingle sets, so
    both text backends re-tokenize winner text — one scan-stage pass
    plus one shuffle of shingle/band hashes (slim — text itself never
    enters an exchange; the winner join is a keyed semi-equivalent).
    Skew caps are the backends' own: banding bucket join for minhash,
    the `max_df` hot-shingle cap for containment's inverted index.
    Incremental export supports the simhash backend only (the slim
    state carries no text)."""
    if near_dup == "simhash":
        return None
    if near_dup not in NEAR_DUP_BACKENDS:
        raise ValueError(f"unknown near_dup backend {near_dup!r}; "
                         f"one of {NEAR_DUP_BACKENDS}")

    def pairs_fn(winners: DataFrame) -> DataFrame:
        wtext = (
            gated.select("url", "text")
            .join(winners.select("url", "_nid"), "url")
            .select(F.col("_nid").alias("doc_id"), "text")
        )
        if near_dup == "minhash":
            from lectura.textops import minhash_lsh_pairs

            pairs = minhash_lsh_pairs(wtext, k=32, bands=8, n=3,
                                      min_est_jaccard=threshold)
        else:
            from lectura.textops import containment_pairs

            pairs = containment_pairs(wtext, n=3,
                                      min_containment=threshold,
                                      max_df=max_df)
        return pairs.select(F.col("d1").alias("src"),
                            F.col("d2").alias("dst"))

    return pairs_fn


def _dedup_keep(slim: DataFrame, *, max_hamming: int,
                band_max_df: int | None,
                pairs_fn=None):
    """Exact + near-dup winner selection over the SLIM (url,
    fingerprint, simhash) projection — the shared dedup core of the
    full and incremental export paths (both must label identically or
    incremental-after-append would diverge from a full re-export).

    ``pairs_fn`` (near-dup backend choice): when given, the near-dup
    edge stream comes from ``pairs_fn(winners)`` — a (src, dst) pair
    DataFrame over the winners' ``_nid`` ids (the minhash / containment
    backends, which need winner TEXT the slim projection doesn't carry)
    — instead of the default stored-simhash banding; the hot-bucket
    stat is then 0 (each backend carries its own skew cap).

    Returns (keep, n_hot, cleanup): `keep` = (url, n_exact_copies,
    cluster_size), one row per surviving document; `n_hot` = banding
    buckets dropped by the df cap; `cleanup` = persisted frames the
    caller unpersists AFTER materializing anything derived from
    `keep`. Plan shape documented in export_corpus."""
    winners = (
        slim.groupBy("fingerprint")
        .agg(
            F.min("url").alias("url"),
            # exact copies share the text, hence the simhash — min() is
            # just a deterministic pick and keeps the agg all-primitive
            # (HashAggregate, not the min_by struct-buffer SortAggregate)
            F.min("simhash").alias("simhash"),
            F.count("*").alias("n_exact_copies"),
        )
        .withColumn("_nid", F.xxhash64("url"))
        .persist()
    )

    n_hot, hot = 0, None
    if pairs_fn is not None:
        edges = pairs_fn(winners)
    else:
        sig = winners.select(F.col("_nid").alias("id"),
                             F.col("simhash").alias("sh"))
        # hot-bucket table computed ONCE (persisted — it is both the
        # reported n_hot stat and band_pairs' exclusion list; without the
        # handoff the chunk stream would aggregate twice)
        if band_max_df is not None:
            hot = (
                simhash_chunks(sig).groupBy("chunk", "val").count()
                .filter(F.col("count") > band_max_df)
                .select("chunk", "val")
                .persist()
            )
            n_hot = hot.count()
        # dedupe=False: connected_components' canonical-edge distinct
        # absorbs multi-chunk agreements, so the pair stream skips its own
        # dropDuplicates shuffle.
        edges = simhash_band_pairs(
            sig, max_hamming=max_hamming, max_df=band_max_df,
            hot_buckets=hot, dedupe=False,
        ).select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    # driver_max_edges: near-dup graphs are a sliver of the corpus —
    # under 2M edges union-find on the driver replaces ~10
    # star-iteration jobs; past it (the 10^10-doc design point) the
    # distributed path runs unchanged.
    comp = connected_components(
        edges, driver_max_edges=2_000_000,
    ).localCheckpoint()
    if hot is not None:
        hot.unpersist()
    labeled = (
        winners.join(F.broadcast(comp) if _small(comp) else comp,
                     winners["_nid"] == comp["node"], "left")
        .withColumn("_comp", F.coalesce(F.col("component"), F.col("_nid")))
        .drop("node", "component")
    )
    # Cluster-winner pick: same groupBy-not-window shape as the exact
    # dedup above — a giant near-dup cluster partial-aggregates instead
    # of sorting whole inside one task.
    keep = (
        labeled.groupBy("_comp")
        .agg(
            F.min("url").alias("url"),
            F.min_by("n_exact_copies", "url").alias("n_exact_copies"),
            F.count("*").alias("cluster_size"),
        )
        .select("url", "n_exact_copies", "cluster_size")
    )
    return keep, n_hot, [winners]


def export_corpus(wh: Warehouse, *, min_tokens: int = 20,
                  min_quality: float = 0.0,
                  langs: tuple[str, ...] | None = ("en",),
                  max_hamming: int = 3,
                  band_max_df: int | None = 256,
                  near_dup: str = "simhash",
                  near_dup_threshold: float = 0.8,
                  bench: DataFrame | None = None,
                  contam_n: int = 8,
                  sample_rates: dict[str, float] | None = None,
                  sample_default_rate: float = 0.0,
                  sample_salt: str = "",
                  shard_tokens: int | None = None,
                  chunk: tuple[int, int] | None = None,
                  out_table: str = "train_docs") -> dict:
    """Materialize the crawl's extracted text as train-ready shards.

    Returns {"table", "n_docs", "n_hot_buckets_dropped"}; the written
    table carries per-doc lineage (`n_exact_copies`, `cluster_size`) so
    downstream sampling can up/down-weight by duplication. `max_hamming`
    ≤ 3 keeps the banding join lossless (pigeonhole over 4 chunks); raise
    it only accepting recall-heuristic semantics.

    Both dedup stages run over a SLIM projection (url, fingerprint,
    simhash ≈ 40 B/doc): the text column never enters a window or the CC
    iterations, and is shuffled exactly once — by the final winner join
    that also provides the output's hash-partitioning by url. The write
    has no fixed fan-out: AQE coalesces those partitions to the data
    (one file for a few hundred docs, `spark.sql.shuffle.partitions`
    files once each holds more than the coalescing floor). At 10^10
    docs the slim winner table is ~400 GB spread across the cluster while
    the text bytes stay in scan→join→write.

    `band_max_df` (simhash_band_pairs) caps the per-bucket document
    frequency so boilerplate-saturated signatures can't turn the banding
    self-join quadratic; dropped buckets are counted and reported, never
    silent. None disables the cap (exact banding semantics).

    Optional selection stages, run after dedup in pipeline order:
    `bench` (a (url, text) DataFrame of eval/benchmark docs) drops every
    doc sharing a distinct word `contam_n`-gram with it — the benchmark
    side is broadcast, the corpus side never shuffles for the check;
    `sample_rates` applies the deterministic per-`lang_guess` hash
    sample (lectura/sampling.py — scan-stage filter, nested/idempotent);
    `shard_tokens` assigns token-budget `shard_id`s via the exact global
    prefix sum computed on the slim (url, n_tokens) projection — the
    text column stays out of pack_shards' pinned checkpoint — and the
    write hash-clusters by shard_id (every shard wholly in one
    partition; one text shuffle, same as the url layout);
    `chunk=(window, stride)` re-cuts each surviving doc into
    training-context windows (textops.chunk_documents — zero-shuffle
    scan-stage explode, doc metadata inherited per chunk, no join
    back) BEFORE shard packing, which then packs on the unique
    (url, chunk_id) key."""
    text_snapshot = wh.snapshot("text")
    docs = latest_text(wh.read("text")).select(*EXPORT_COLS)
    gated = _gate(docs, min_tokens, min_quality, langs)

    # Exact dedup as a partial-aggregating groupBy, NOT a window: a
    # window over partitionBy(fingerprint) must sort every copy of the
    # hottest duplicate (parked-domain boilerplate — exactly what a web
    # corpus over-represents) inside one task, while min/min_by/count
    # collapse duplicates map-side before the exchange.  Same shuffle
    # key, same output, skew-proof. (Core shared with the incremental
    # path: _dedup_keep.)
    slim = gated.select("url", "fingerprint", "simhash")
    keep, n_hot, dedup_cleanup = _dedup_keep(
        slim, max_hamming=max_hamming, band_max_df=band_max_df,
        pairs_fn=_near_dup_pairs_fn(gated, near_dup, near_dup_threshold,
                                    band_max_df))
    out = gated.join(keep, "url").select(
        *EXPORT_COLS, "n_exact_copies", "cluster_size"
    )
    cleanup: list[DataFrame] = []

    n_contaminated = 0
    if bench is not None:
        from lectura.textops import contamination_stats

        hits = (
            contamination_stats(out, bench, n=contam_n, id_col="url",
                                text_col="text")
            .select("url")
            .persist()
        )
        # broadcast bound is tighter than _small()'s: that one gates a
        # two-long-column table (~16 B/row); these are variable-width
        # url strings (~100 B/row), so 1M rows ≈ 100 MB build side.
        n_contaminated = hits.count()
        out = out.join(
            F.broadcast(hits) if n_contaminated <= 1_000_000 else hits,
            "url", "left_anti",
        )
        cleanup.append(hits)
    if sample_rates is not None:
        from lectura.sampling import stratified_sample

        out = stratified_sample(out, "url", sample_rates, "lang_guess",
                                default_rate=sample_default_rate,
                                salt=sample_salt)
    if chunk is not None:
        from lectura.textops import chunk_documents

        window, stride = chunk
        meta = tuple(c for c in out.columns
                     if c not in ("url", "text", "n_tokens"))
        out = (
            chunk_documents(out, window=window, stride=stride,
                            id_col="url", text_col="text",
                            keep_cols=meta)
            .withColumnRenamed("chunk", "text")
            # downstream (packing, writes) needs one unique key per
            # row; '#' is safe as separator — U1 canonicalization
            # strips fragments, so no canonical url contains it
            .withColumn("url", F.concat_ws("#", "url",
                                           F.col("chunk_id").cast("string")))
        )
    if shard_tokens:
        from lectura.sampling import pack_shards

        # Pack on the SLIM (url, n_tokens) projection: pack_shards
        # localCheckpoints its input to pin the range partitioning, and
        # checkpointing the full text column would hold a second,
        # non-recomputable copy of the corpus in executor storage (an
        # executor loss then kills the export instead of retrying).
        # The assignment joins back by url and the write hash-clusters
        # by shard_id — every shard's rows land in one partition, the
        # same one-text-shuffle cost as the else-branch's url layout.
        assignment = pack_shards(
            out.select("url", "n_tokens"), "url", "n_tokens",
            budget=shard_tokens,
        ).select("url", "shard_id")
        snap = wh.overwrite(
            out_table, out.join(assignment, "url").repartition("shard_id"))
    else:
        snap = wh.overwrite(out_table, out.repartition("url"))
    for df_ in dedup_cleanup + cleanup:
        df_.unpersist()
    n_docs = wh.count_rows(wh._files(out_table))
    # Incremental-export handoff (S17 composition): persist the slim
    # gated projection (the dedup input — 40 B/doc, column-pruned scan,
    # no text bytes) plus a one-row meta record pinning the consumed
    # text snapshot and the content-affecting params. A later
    # `export_corpus_incremental` extends this state instead of
    # re-reading the corpus. Write order out → state → meta: replaying
    # an incremental from a stale meta pointer is idempotent (state
    # subtraction∪re-add of already-incorporated urls is a no-op), so a
    # crash between the three commits never corrupts, only re-does work.
    incremental_ok = (bench is None and sample_rates is None
                      and chunk is None and not shard_tokens
                      and near_dup == "simhash")
    wh.overwrite(_state_table(out_table),
                 gated.select("url", "fingerprint", "simhash")
                 .repartition("url"))
    _write_meta(wh, out_table, text_snapshot=text_snapshot,
                incremental_ok=incremental_ok,
                min_tokens=min_tokens, min_quality=min_quality,
                langs=langs, max_hamming=max_hamming,
                band_max_df=band_max_df)
    stats = {"table": out_table, "snapshot": snap, "n_docs": int(n_docs),
             "near_dup": near_dup, "n_hot_buckets_dropped": n_hot}
    if near_dup != "simhash":
        stats["near_dup_threshold"] = near_dup_threshold
    if bench is not None:
        stats["n_contaminated_dropped"] = int(n_contaminated)
    if chunk is not None:
        # n_docs must keep meaning DOCUMENTS whether or not --chunk ran
        # (consumers compare the stats line across runs): rows written
        # move to n_chunks, and the doc count derives from the written
        # composite keys (slim one-column scan — never a pre-write
        # count() re-running the whole gating+dedup lineage)
        stats["chunk"] = list(chunk)
        stats["n_chunks"] = stats["n_docs"]
        stats["n_docs"] = int(
            wh.read(out_table)
            .select(F.substring_index("url", "#", 1).alias("u"))
            .distinct().count())
    if shard_tokens:
        n_shards = wh.read(out_table).agg(
            (F.max("shard_id") + 1).alias("n")).head()["n"]
        stats["n_shards"] = int(n_shards or 0)
    return stats


def _small(df: DataFrame, bound: int = 5_000_000) -> bool:
    """Near-dup components cover only docs that HAVE a near-dup — tiny
    relative to the corpus in practice, but unbounded in principle, so
    the broadcast is gated the same way as the crawl's round joins
    (plan stats can't see through the iterative CC, hence the explicit
    count over the checkpointed component table)."""
    return df.count() <= bound


def _state_table(out_table: str) -> str:
    return f"{out_table}_state"


def _meta_table(out_table: str) -> str:
    return f"{out_table}_export_meta"


def _write_meta(wh: Warehouse, out_table: str, *, text_snapshot: int,
                incremental_ok: bool, **params) -> None:
    import json as _json

    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("text_snapshot", T.LongType()),
        T.StructField("incremental_ok", T.BooleanType()),
        T.StructField("params", T.StringType()),
    ])
    tbl = pa.Table.from_pylist(
        [{"text_snapshot": int(text_snapshot),
          "incremental_ok": bool(incremental_ok),
          "params": _json.dumps(
              {k: (list(v) if isinstance(v, tuple) else v)
               for k, v in params.items()}, sort_keys=True)}],
        schema=pa.schema([("text_snapshot", pa.int64()),
                          ("incremental_ok", pa.bool_()),
                          ("params", pa.string())]))
    name = _meta_table(out_table)
    # overwrite semantics via a fresh single-file snapshot
    staging_files = []
    import os as _os
    import uuid as _uuid

    import pyarrow.parquet as pq

    staging = _os.path.join(wh._tdir(name), "data", _uuid.uuid4().hex)
    _os.makedirs(staging, exist_ok=True)
    path = _os.path.join(staging, "part-0.parquet")
    pq.write_table(tbl, path)
    staging_files.append(path)
    wh._commit(name, staging_files, schema.json())


def _read_meta(wh: Warehouse, out_table: str) -> dict:
    import json as _json

    import pyarrow.parquet as pq

    name = _meta_table(out_table)
    if not wh.exists(name):
        raise FileNotFoundError(
            f"no export meta for table {out_table!r} — run a full "
            "export_corpus first (incremental extends a full run)")
    rows = pq.read_table(wh._files(name)[0]).to_pylist()
    m = rows[0]
    m["params"] = _json.loads(m["params"])
    return m


def export_corpus_incremental(wh: Warehouse, *,
                              from_snapshot: int | None = None,
                              min_tokens: int = 20,
                              min_quality: float = 0.0,
                              langs: tuple[str, ...] | None = ("en",),
                              max_hamming: int = 3,
                              band_max_df: int | None = 256,
                              out_table: str = "train_docs") -> dict:
    """Changelog-driven incremental corpus refresh (S17 composition —
    VERDICT r4 top-next): re-gate and re-dedup only the text rows that
    CHANGED since the last export, merge with the previous result, and
    commit a table provably identical to a full ``export_corpus`` at
    the current text snapshot.

    How equivalence holds: the previous export persisted the slim gated
    projection of every doc (not just winners). The new state is
    ``old_state ∖ changed_urls ∪ gate(inserted/updated rows)`` — exactly
    the gated slim of text@HEAD — and the winner/cluster labeling
    (_dedup_keep) re-runs over that slim union, so exact-dup counts,
    near-dup components (including hot-bucket caps, which are global
    df counts and thus NOT incrementally composable) and min-url winner
    picks all match the full run bit-for-bit. Only the slim 40 B/doc
    state is reprocessed corpus-wide; text bytes are touched only for
    changed docs (read from the changelog — the zero-shuffle append
    fast path when the crawl only appended), for unchanged winners
    (copied from the previous output table), and for the rare
    "promoted loser" (an old non-winner whose cluster's winner was
    deleted/updated away — impossible under appends of NEW urls, where
    min(url) over a superset never moves to an unseen old url, but
    reachable via revisit-round appends that re-key an existing url
    with changed content, SEMANTICS.md §16; fetched by a keyed
    semi-join against the text table when it happens).

    Restrictions: the previous export must have run the core path
    (no decontaminate/sample/chunk/shard — meta records this) with the
    SAME gate/dedup params; mismatches raise instead of silently
    diverging. ``from_snapshot`` defaults to the snapshot the meta
    recorded; passing it explicitly replays from an older point, which
    is idempotent.

    Cluster seam: with an Iceberg backend the final commit would be a
    MERGE (upsert changed winners, delete displaced ones) pruned to
    touched files; the parquet-manifest backend's copy-on-write
    overwrite is the local analogue (same contract as Warehouse.merge).
    """
    meta = _read_meta(wh, out_table)
    if not meta["incremental_ok"]:
        raise ValueError(
            f"export meta for {out_table!r} records a full run with "
            "selection stages (decontaminate/sample/chunk/shard) or a "
            "text-based near-dup backend (minhash/containment) — "
            "neither is incrementally composable (the slim state "
            "carries no text); run a full export_corpus")
    want = {"min_tokens": min_tokens, "min_quality": min_quality,
            "langs": list(langs) if langs is not None else None,
            "max_hamming": max_hamming, "band_max_df": band_max_df}
    if meta["params"] != want:
        raise ValueError(
            f"incremental params {want} differ from the full export's "
            f"{meta['params']} — changed gates require a full re-export")
    if from_snapshot is None:
        from_snapshot = meta["text_snapshot"]
    to_snapshot = wh.snapshot("text")
    stats_base = {"table": out_table, "mode": "incremental",
                  "from_snapshot": int(from_snapshot),
                  "to_snapshot": int(to_snapshot)}
    if from_snapshot == to_snapshot:
        return {**stats_base, "n_changed": 0, "unchanged": True,
                "n_docs": int(wh.count_rows(wh._files(out_table)))}

    ch = wh.changelog("text", "url", from_snapshot=from_snapshot,
                      to_snapshot=to_snapshot).persist()
    n_changed = ch.count()
    changed_urls = ch.select("url").distinct()
    # latest_text: a url revisited several times since the last export
    # (SEMANTICS.md §16) contributes one changelog INSERT per revisit
    # round — the corpus row is the newest one, matching what a full
    # re-export (which also reduces to latest) would gate. Text tables
    # without a round column (non-crawl warehouses) skip the reduction.
    ins = ch.filter(F.col("_change_type").isin("insert", "update_after"))
    _rcols = (*EXPORT_COLS, "round") if "round" in ins.columns else EXPORT_COLS
    new_rows = latest_text(ins.select(*_rcols)).select(*EXPORT_COLS)
    gated_new = _gate(new_rows, min_tokens, min_quality, langs).persist()

    old_state = wh.read(_state_table(out_table))
    state_new = (
        old_state.join(changed_urls, "url", "left_anti")
        .unionByName(gated_new.select("url", "fingerprint", "simhash"))
    )
    # One derivation of the slim union feeds both the dedup and the
    # state rewrite: pin it (the dedup core persists its own winners).
    state_new = state_new.localCheckpoint()

    keep, n_hot, dedup_cleanup = _dedup_keep(
        state_new, max_hamming=max_hamming, band_max_df=band_max_df)

    # text sources for the winner join — three DISJOINT provenances:
    # changed docs from the changelog, unchanged docs from the previous
    # output, promoted losers (delete/update-only case) fetched keyed.
    old_out = wh.read(out_table).select(*EXPORT_COLS)
    src_old = old_out.join(changed_urls, "url", "left_anti")
    missing = (
        keep.select("url")
        .join(gated_new.select("url"), "url", "left_anti")
        .join(src_old.select("url"), "url", "left_anti")
        .persist()
    )
    n_missing = missing.count()
    sources = [gated_new.select(*EXPORT_COLS), src_old]
    if n_missing:
        # semi-join BEFORE the latest_text reduction so only the
        # promoted urls' history rows are reduced (a revisited loser's
        # pre-export history can hold several rounds)
        full = wh.read("text", to_snapshot)
        _fcols = ((*EXPORT_COLS, "round") if "round" in full.columns
                  else EXPORT_COLS)
        fetched = latest_text(
            full.select(*_fcols)
            .join(F.broadcast(missing) if n_missing <= 1_000_000
                  else missing, "url", "left_semi")
        ).select(*EXPORT_COLS)
        sources.append(fetched)
    text_src = sources[0]
    for s in sources[1:]:
        text_src = text_src.unionByName(s)
    out = text_src.join(keep, "url").select(
        *EXPORT_COLS, "n_exact_copies", "cluster_size")
    snap = wh.overwrite(out_table, out.repartition("url"))
    wh.overwrite(_state_table(out_table),
                 state_new.repartition("url"))
    _write_meta(wh, out_table, text_snapshot=to_snapshot,
                incremental_ok=True, min_tokens=min_tokens,
                min_quality=min_quality, langs=langs,
                max_hamming=max_hamming, band_max_df=band_max_df)
    for df_ in dedup_cleanup + [ch, gated_new, missing]:
        df_.unpersist()
    n_docs = wh.count_rows(wh._files(out_table))
    return {**stats_base, "snapshot": snap, "n_docs": int(n_docs),
            "n_changed": int(n_changed),
            "n_promoted_fetched": int(n_missing),
            "n_hot_buckets_dropped": n_hot}


def main(argv: list[str] | None = None) -> int:
    import argparse
    import json

    from lectura.session import get_spark

    ap = argparse.ArgumentParser(
        description="Materialize train-ready corpus shards from a crawl "
                    "warehouse's text table.")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out-table", default="train_docs")
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--langs", default="en",
                    help="comma-separated allowlist; 'any' disables")
    ap.add_argument("--max-hamming", type=int, default=3)
    ap.add_argument("--band-max-df", type=int, default=256,
                    help="hot-bucket cap for the simhash banding join; "
                         "0 disables")
    ap.add_argument("--near-dup", default="simhash",
                    choices=["simhash", "minhash", "containment"],
                    help="near-dup cluster backend: stored-simhash "
                         "banding (default, --max-hamming radius), "
                         "MinHash-Jaccard banding over winner text, or "
                         "one-sided containment (catches asymmetric "
                         "quotation dups simhash cannot see)")
    ap.add_argument("--near-dup-threshold", type=float, default=0.8,
                    help="minhash: min estimated Jaccard; containment: "
                         "min max(c12, c21); ignored for simhash")
    ap.add_argument("--decontaminate", default=None,
                    help="warehouse table or parquet path of benchmark "
                         "docs (url, text); drops overlapping train docs")
    ap.add_argument("--contam-ngram", type=int, default=8)
    ap.add_argument("--sample", default=None,
                    help="per-lang keep rates 'en=0.5,de=0.2[,*=0.05]' "
                         "(deterministic hash sample; '*' = default rate)")
    ap.add_argument("--sample-salt", default="")
    ap.add_argument("--shard-tokens", type=int, default=None,
                    help="pack docs into shards of ~this many tokens")
    def _chunk_arg(v: str) -> tuple[int, int]:
        parts = v.split(":")
        if len(parts) != 2 or not all(p.isdigit() for p in parts):
            raise argparse.ArgumentTypeError(
                f"--chunk wants 'WINDOW:STRIDE' (e.g. 512:384), got {v!r}")
        w, s = int(parts[0]), int(parts[1])
        if not 0 < s <= w:
            raise argparse.ArgumentTypeError(
                f"--chunk needs 0 < STRIDE <= WINDOW, got {v!r}")
        return w, s

    ap.add_argument("--chunk", default=None, type=_chunk_arg,
                    help="re-cut surviving docs into training windows "
                         "'WINDOW:STRIDE' (e.g. 512:384) before packing")
    ap.add_argument("--incremental", action="store_true",
                    help="changelog-driven refresh: re-gate/re-dedup only "
                         "text rows changed since the last export of this "
                         "table and merge with its result (provably equal "
                         "to a full re-export; requires a prior full run "
                         "with the same gates and no selection stages)")
    ap.add_argument("--from-snapshot", type=int, default=None,
                    help="with --incremental: explicit text-table snapshot "
                         "to diff from (default: the snapshot the last "
                         "export recorded)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    if args.incremental:
        bad = [flag for flag, v in (
            ("--decontaminate", args.decontaminate),
            ("--sample", args.sample),
            ("--shard-tokens", args.shard_tokens),
            ("--chunk", args.chunk),
            ("--near-dup", args.near_dup != "simhash")) if v]
        if bad:
            ap.error(f"--incremental does not compose with {bad} "
                     "(selection stages need a full export)")

    spark = get_spark(master=args.master, app_name="lectura-export")
    wh = Warehouse(args.warehouse, spark)
    langs = None if args.langs == "any" else tuple(args.langs.split(","))
    if args.incremental:
        stats = export_corpus_incremental(
            wh, from_snapshot=args.from_snapshot,
            min_tokens=args.min_tokens, min_quality=args.min_quality,
            langs=langs, max_hamming=args.max_hamming,
            band_max_df=args.band_max_df or None,
            out_table=args.out_table,
        )
        print(json.dumps(stats))
        return 0
    bench = None
    if args.decontaminate:
        bench = (wh.read(args.decontaminate)
                 if wh.exists(args.decontaminate)
                 else spark.read.parquet(args.decontaminate))
    sample_rates, sample_default = None, 0.0
    if args.sample:
        sample_rates = {}
        for part in args.sample.split(","):
            k, v = part.split("=")
            if k == "*":
                sample_default = float(v)
            else:
                sample_rates[k] = float(v)
    stats = export_corpus(
        wh, min_tokens=args.min_tokens, min_quality=args.min_quality,
        langs=langs, max_hamming=args.max_hamming, out_table=args.out_table,
        band_max_df=args.band_max_df or None,
        near_dup=args.near_dup,
        near_dup_threshold=args.near_dup_threshold,
        bench=bench, contam_n=args.contam_ngram,
        sample_rates=sample_rates, sample_default_rate=sample_default,
        sample_salt=args.sample_salt, shard_tokens=args.shard_tokens,
        chunk=args.chunk,
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
