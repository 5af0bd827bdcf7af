"""Similarity search over embedding columns (`array<float>`): brute-force
cosine top-k as the exactness baseline, random-hyperplane LSH bucketing as
the scale path.

Scale notes: single-vector dot products (brute-force rerank, IVF
assignment) run as JVM higher-order functions (zip_with + aggregate —
whole-stage codegen, no Python); the T×P multi-table LSH bucketing runs
as one Arrow-batched numpy matmul per batch (hundreds of dots per row —
a vectorized pandas UDF beats an equally-wide Catalyst expression tree
by ~20×). Brute force is a broadcast of the query vector over one scan
(O(N·d), embarrassingly parallel); LSH cuts the scanned set to matching
buckets (equi-join on bucket id)."""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_to(df: DataFrame, query_vec: list[float],
              vec_col: str = "embedding") -> DataFrame:
    # try_divide: a zero-norm row (all-zero embedding) gets NULL cosine
    # instead of an ANSI DIVIDE_BY_ZERO that kills the job; NULLs sort
    # after every real cosine in the desc top-k
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    return df.withColumn(
        "cosine",
        F.try_divide(_dot(F.col(vec_col), qlit),
                     _norm(F.col(vec_col)) * F.lit(qnorm)),
    )


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: orderBy+limit ⇒ TakeOrderedAndProject
    (distributed partial top-k, no global sort)."""
    return (
        cosine_to(df, query_vec, vec_col)
        .select(id_col, F.round("cosine", 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def random_planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_buckets_multi(df: DataFrame, tables: list[list[list[float]]],
                      vec_col: str = "embedding") -> DataFrame:
    """(row…, table, bucket) — one row per (vector, LSH table). At scale
    this is the persisted index: write partitioned by (table, bucket) so a
    probe is a partition-pruned scan, no shuffle.

    All T×P hyperplane dots run as ONE Arrow-batched matmul per batch
    (a vectorized pandas UDF): at 64 tables × 8 planes the equivalent
    Catalyst expression tree is 512 aggregate() lambdas — a 2.5 MB task
    binary and codegen dominated by expression interpretation, measured
    ~20× slower than the BLAS matmul here. Per-row numpy arithmetic is
    partitioning-independent, so bucket ids stay deterministic."""
    from pyspark.sql.functions import pandas_udf

    n_tables = len(tables)
    n_planes = len(tables[0])
    planes = np.asarray([p for tab in tables for p in tab],
                        dtype=np.float64)              # (T*P, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    dim = planes.shape[1]

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        # NULL / wrong-length embeddings go to bucket 0 in every table
        # (the behavior of the former Catalyst expression, where a NULL
        # dot failed every >= 0 branch) instead of crashing the batch —
        # real corpora contain null embedding rows.
        vals = vecs.tolist()
        valid = np.array([v is not None and len(v) == dim for v in vals])
        out = np.zeros((len(vals), n_tables), dtype=np.int64)
        if valid.any():
            m = np.asarray([vals[i] for i in np.flatnonzero(valid)],
                           dtype=np.float64)               # (nv, dim)
            bits = (m @ planes.T) >= 0                     # (nv, T*P)
            out[valid] = (bits.reshape(len(m), n_tables, n_planes)
                          * weights).sum(axis=2)           # (nv, T)
        return pd.Series(list(out))

    return (
        df.withColumn("_tb", _buckets(F.col(vec_col)))
        .select("*", F.posexplode("_tb").alias("table", "bucket"))
        .drop("_tb")
    )


def _query_bucket(query_vec: list[float], planes: list[list[float]]) -> int:
    """numpy dot, NOT a Python sum loop — the row side buckets via the
    matmul in lsh_buckets_multi, and a different summation order could
    flip the sign of a near-zero dot, putting query and row in
    different buckets for the same plane."""
    q = np.asarray(query_vec, dtype=np.float64)
    p = np.asarray(planes, dtype=np.float64)
    bits = (p @ q) >= 0
    return int((bits * (1 << np.arange(len(planes), dtype=np.int64))).sum())


def lsh_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             n_planes: int = 6, n_tables: int = 16, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN top-k via multi-table (OR-construction) random-hyperplane LSH:
    candidates = rows sharing the query's bucket in ANY of `n_tables`
    independent tables; exact cosine rerank on the candidate set. More
    tables ⇒ higher recall, proportionally more index rows — the standard
    recall/cost dial."""
    dim = len(query_vec)
    tables = [random_planes(n_planes, dim, seed + 1000 * ti)
              for ti in range(n_tables)]
    indexed = lsh_buckets_multi(df, tables, vec_col)
    probes = [(ti, _query_bucket(query_vec, planes))
              for ti, planes in enumerate(tables)]
    probe_df = df.sparkSession.createDataFrame(probes, "table int, bucket long")
    cand = (
        indexed.join(F.broadcast(probe_df), ["table", "bucket"], "left_semi")
        .dropDuplicates([id_col])
    )
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def _assign_udf(centroids: list[list[float]]):
    """Argmax-cosine centroid assignment as ONE Arrow-batched numpy
    matmul per batch (the _pq_code_udf discipline): V @ Mᵀ, ties broken
    toward the LARGER cid (matching _nearest_centroid's struct-greatest
    rule). Per-row and data-only — deterministic at any parallelism.

    Why not the JVM expression (_nearest_centroid): a C-centroid ×
    dim-literal greatest() tree is C·dim literal nodes that Catalyst
    re-analyzes and codegens for EVERY job that evaluates it — at C=16,
    dim=64 that measured ~4 s of pure plan latency per Lloyd iteration
    (14 s of a 26 s ivfpq build at sf0.001, data size irrelevant)."""
    from pyspark.sql import types as T

    M = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(V) == 0:
            return pd.Series([], dtype="int32")
        D = V @ M.T
        # ties to the larger cid: argmax over reversed columns
        idx = (M.shape[0] - 1) - np.argmax(D[:, ::-1], axis=1)
        return pd.Series(idx.astype("int32"))

    return assign


def _nearest_centroid(vec_col, centroids: list[list[float]]) -> F.Column:
    """Argmax-cosine centroid id, all JVM-side: greatest() over
    (dot, cid) structs — struct comparison breaks dot ties toward the
    larger cid, deterministically. Centroids arrive unit-normalized so
    dot == cosine ranking. (Kept for reference/small C; the quantizer
    hot paths use _assign_udf — see its docstring for why.)"""
    entries = []
    for ci, c in enumerate(centroids):
        clit = F.array(*[F.lit(float(x)) for x in c])
        entries.append(F.struct(_dot(F.col(vec_col), clit).alias("d"),
                                F.lit(ci).alias("cid")))
    picked = entries[0] if len(entries) == 1 else F.greatest(*entries)
    # greatest() drops struct field names (col1/col2) — restore them
    return picked.cast("struct<d:double,cid:int>").getField("cid")


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n > 0 else list(v)


def kmeans_centroids(df: DataFrame, n_centroids: int, n_iters: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     train_mod: int = 1) -> list[list[float]]:
    """Deterministic spherical k-means for the IVF coarse quantizer.

    - init: the `n_centroids` rows with smallest xxhash64(id) — a
      deterministic, order/parallelism-independent pseudo-random pick
      (distributed TakeOrderedAndProject, no driver-side sampling).
    - `train_mod` > 1 trains on the hash-sampled subset
      pmod(xxhash64(id), train_mod) == 0 — at corpus scale the quantizer
      only needs a sample, not a full pass per iteration.
    - each Lloyd iteration is one assignment pass (JVM expressions) + one
      per-dimension mean (posexplode → groupBy(cid, pos).avg — a plain
      hash agg of C×dim cells); only C×dim doubles ever reach the driver.
    - empty clusters keep their previous centroid; means are re-normalized
      (spherical k-means, matching the cosine assignment metric).
    - centroid coordinates are rounded to 9 dp after each normalization:
      the per-cell avg() sums partials in partition order, so an
      unrounded centroid differs in ulps across parallelism levels and a
      borderline vector could flip cells — rounding makes the quantizer
      (and thus IVF recall) invariant to partitioning, which the recall
      contract row depends on.
    """
    train = df.select(id_col, vec_col)
    if train_mod > 1:
        train = train.filter(
            F.pmod(F.xxhash64(id_col), F.lit(train_mod)) == 0
        )
    init_rows = (
        train.select(F.xxhash64(id_col).alias("_h"), vec_col)
        .orderBy("_h").limit(n_centroids).collect()
    )
    centroids = [_unit([float(x) for x in r[vec_col]]) for r in init_rows]
    for _ in range(n_iters):
        assigned = train.select(
            _assign_udf(centroids)(F.col(vec_col)).alias("cid"),
            F.posexplode(vec_col).alias("pos", "x"),
        )
        cells = (
            assigned.groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        dim = len(centroids[0])
        means: dict[int, list[float]] = {}
        for r in cells:
            means.setdefault(int(r["cid"]), [0.0] * dim)[int(r["pos"])] = float(r["m"])
        centroids = [
            [round(x, 9) for x in _unit(means[ci])]
            if ci in means else centroids[ci]
            for ci in range(len(centroids))
        ]
    return centroids


def ivf_index(df: DataFrame, centroids: list[list[float]],
              vec_col: str = "embedding") -> DataFrame:
    """Rows tagged with their inverted-list id. At scale this is the
    persisted index: write partitioned by `cid` so a probe reads only
    n_probe partitions — no shuffle, no full scan."""
    return df.withColumn("cid", _assign_udf(centroids)(F.col(vec_col)))


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             n_centroids: int = 16, n_probe: int = 4, n_iters: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             train_mod: int = 1) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization: k-means
    cells as inverted lists, probe the `n_probe` cells nearest the query,
    exact cosine rerank inside them. Complements lsh_topk: IVF adapts to
    the data distribution (better recall per candidate at equal cost)
    where LSH is data-independent and indexes in one pass."""
    centroids = kmeans_centroids(df, n_centroids, n_iters, id_col, vec_col,
                                 train_mod)
    qn = _unit([float(x) for x in query_vec])
    by_dot = sorted(
        range(len(centroids)),
        key=lambda ci: (-sum(a * b for a, b in zip(qn, centroids[ci])), ci),
    )
    probe = by_dot[:n_probe]
    cand = ivf_index(df, centroids, vec_col).filter(F.col("cid").isin(probe))
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def _pq_code_udf(books: list[list[list[float]]]):
    """vector → its m PQ code ids as ONE Arrow-batched numpy pass (the
    lsh_buckets_multi discipline): at m=16 × 16 cells the equivalent
    Catalyst tree is 256 interpreted aggregate() lambdas per row —
    measured ~10× slower than this broadcast-subtract distance pass.
    Argmin ties break toward the smaller cid (np.argmin first-hit),
    deterministically; per-row numpy arithmetic is partitioning-
    independent, so codes stay parallelism-invariant. NULL /
    wrong-length embeddings take code 0 in every subspace instead of
    failing the batch (the LSH bucket-0 rule)."""
    from pyspark.sql.functions import pandas_udf

    bk = np.asarray(books, dtype=np.float64)        # (m, C, d_sub)
    m, _, d_sub = bk.shape
    dim = m * d_sub

    @pandas_udf("array<int>")
    def _codes(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        vals = vecs.tolist()
        valid = np.array([v is not None and len(v) == dim for v in vals])
        out = np.zeros((len(vals), m), dtype=np.int32)
        if valid.any():
            x = np.asarray([vals[i] for i in np.flatnonzero(valid)],
                           dtype=np.float64).reshape(-1, m, d_sub)
            d = ((x[:, :, None, :] - bk[None]) ** 2).sum(axis=3)
            out[valid] = d.argmin(axis=2).astype(np.int32)  # (nv, m)
        return pd.Series(list(out))

    return _codes


def _sub_slice(vec_col, mi: int, d_sub: int):
    return F.slice(F.col(vec_col), mi * d_sub + 1, d_sub)


def pq_codebooks(df: DataFrame, m: int = 4, n_centroids: int = 16,
                 n_iters: int = 3, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 train_mod: int = 1) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search"): the vector
    space splits into `m` contiguous subspaces of dim/m coordinates;
    each subspace gets its own `n_centroids`-cell L2 k-means codebook.
    Same determinism recipe as kmeans_centroids: init from the
    `n_centroids` rows with smallest xxhash64(id), means rounded to 9dp
    per iteration, empty cells keep their previous centroid — codebooks
    (hence codes, hence recall) are parallelism-invariant.

    Scale shape: ALL m subspaces train in one pass per Lloyd iteration —
    assignment is the single Arrow-batched numpy pass of _pq_code_udf
    (one (nv, m, C) broadcast-subtract per batch, not a per-cell
    Catalyst expression tree), rows then explode to (sub, cid, pos, x)
    cells and a single groupBy(sub, cid, pos).avg hash agg produces
    every mean; only m × n_centroids × dim/m doubles (== dim ×
    n_centroids) reach the driver per iteration. `train_mod`
    hash-samples the training set the same way the IVF quantizer
    does."""
    dim = len(df.select(vec_col).head()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m

    train = df.select(id_col, vec_col)
    if train_mod > 1:
        train = train.filter(
            F.pmod(F.xxhash64(id_col), F.lit(train_mod)) == 0)
    init_rows = (
        train.select(F.xxhash64(id_col).alias("_h"), vec_col)
        .orderBy("_h").limit(n_centroids).collect()
    )
    if len(init_rows) < n_centroids:
        # explicit, not a silent clamp: a smaller codebook changes code
        # width and recall; the caller controls train_mod/n_centroids
        raise ValueError(
            f"training set has {len(init_rows)} rows < n_centroids="
            f"{n_centroids} (train_mod={train_mod} too aggressive?)")
    books = [
        [[float(x) for x in r[vec_col][mi * d_sub:(mi + 1) * d_sub]]
         for r in init_rows]
        for mi in range(m)
    ]
    for _ in range(n_iters):
        codes = _pq_code_udf(books)
        assigned = (
            train.select(
                codes(F.col(vec_col)).alias("cids"),
                F.array(*[_sub_slice(vec_col, mi, d_sub)
                          for mi in range(m)]).alias("svs"))
            .select(F.posexplode(F.arrays_zip("cids", "svs"))
                    .alias("sub", "z"))
            .select("sub", F.col("z.cids").alias("cid"),
                    F.posexplode("z.svs").alias("pos", "x"))
        )
        cells = (
            assigned.groupBy("sub", "cid", "pos")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        means: dict[tuple[int, int], list[float]] = {}
        for r in cells:
            means.setdefault((int(r["sub"]), int(r["cid"])),
                             [0.0] * d_sub)[int(r["pos"])] = float(r["mu"])
        books = [
            [
                [round(x, 9) for x in means[(mi, ci)]]
                if (mi, ci) in means else books[mi][ci]
                for ci in range(n_centroids)
            ]
            for mi in range(m)
        ]
    return books


def pq_encode(df: DataFrame, books: list[list[list[float]]],
              vec_col: str = "embedding") -> DataFrame:
    """Rows tagged with their `m`-byte PQ code (`array<int>`, one code
    id per subspace). At scale this is the persisted compressed index:
    dim floats shrink to m small ints per row (256× at dim=64, m=4,
    fp32), and the code table alone — not the vectors — serves ADC
    scans. One Arrow-batched numpy pass in the scan stage (_pq_code_udf),
    no shuffle."""
    return df.withColumn("pq_code", _pq_code_udf(books)(F.col(vec_col)))


def pq_topk(df: DataFrame, query_vec: list[float], k: int = 10,
            m: int = 4, n_centroids: int = 16, n_iters: int = 3,
            rerank: int = 50, id_col: str = "vec_id",
            vec_col: str = "embedding", train_mod: int = 1) -> DataFrame:
    """ANN top-k via product quantization with asymmetric distance
    computation (ADC): the query stays exact; each row's distance is
    approximated as Σ_sub ||q_sub − codebook[sub][code]||², which is a
    per-subspace table lookup — the driver precomputes the m ×
    n_centroids distance table (numpy, tiny) and the scan evaluates
    element_at(literal_table, code) sums, pure JVM. Top `rerank`
    candidates by ADC (TakeOrderedAndProject — distributed partial
    top-k), exact cosine rerank on those. On unit-norm embeddings L2 is
    monotone in cosine, so ADC ranks cosine-consistently. Completes the
    ANN family: LSH (data-independent), IVF (partition-pruned lists),
    PQ (compressed codes — the memory-bound regime at 10^10 vectors)."""
    books = pq_codebooks(df, m, n_centroids, n_iters, id_col, vec_col,
                         train_mod)
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    d_sub = len(books[0][0])
    # adc[mi][ci] = ||q_sub − centroid||², rounded like the codebooks so
    # the ranking is reproducible from the persisted artifacts
    adc = [
        [round(float(((q[mi * d_sub:(mi + 1) * d_sub]
                       - np.asarray(c)) ** 2).sum()), 9)
         for c in books[mi]]
        for mi in range(len(books))
    ]
    score = None
    for mi, row in enumerate(adc):
        tbl = F.array(*[F.lit(v) for v in row])
        term = F.element_at(tbl, F.element_at("pq_code", mi + 1) + 1)
        score = term if score is None else score + term
    cand = (
        pq_encode(df, books, vec_col)
        .withColumn("adc", F.round(score, 9))
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(rerank)
    )
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def ivfpq_topk(df: DataFrame, query_vec: list[float], k: int = 10,
               n_centroids: int = 16, n_probe: int = 4, m: int = 4,
               pq_centroids: int = 16, n_iters: int = 3,
               rerank: int = 50, id_col: str = "vec_id",
               vec_col: str = "embedding",
               train_mod: int = 1) -> DataFrame:
    """ANN top-k via the composed IVF-PQ (IVFADC) index — the layout
    every billion-vector deployment actually ships (Jégou et al. 2011
    §IV: coarse quantizer + product-quantized RESIDUALS + asymmetric
    distance): IVF k-means cells form the inverted lists; each vector
    stores only its cell id + the m-byte PQ code of its residual
    x − centroid(cell); a query probes the `n_probe` nearest cells and
    ADC-scans ONLY their codes with a per-cell lookup table built on
    q − centroid(cell). Residual encoding is what separates this from
    running PQ under an IVF filter: residual magnitudes are a fraction
    of vector magnitudes, so the same code budget quantizes far finer.

    Determinism: both quantizers reuse the hash-ordered-init /
    9dp-rounded-means recipe (kmeans_centroids, pq_codebooks), residual
    arithmetic is per-row JVM zip_with against the literal centroid
    table, ADC tables are driver-side numpy rounded to 9dp, and every
    ordering ties on `id_col` — the result is parallelism-invariant,
    which the recall contract row depends on.

    Scale shape: at 10^10 vectors the persisted index is (cell id,
    m-byte code) per row, written partitioned by cell so a probe reads
    n_probe partitions of codes — no full scan, no vectors in the scan
    (the `rerank` exact pass joins vectors back for `rerank` rows
    only). Locally: training = the two quantizers' bounded-state
    passes; encoding = one Arrow-batched numpy pass (the _pq_code_udf
    discipline); the probe = a cell-id filter (partition-prunable) +
    pure-JVM ADC expression + TakeOrderedAndProject; the final rerank a
    `rerank`-row brute force.

    The build/query seam is exposed as `build_ivfpq_index` +
    `ivfpq_query` (a deployment builds once and serves many queries);
    this function composes the two unchanged."""
    centroids, books, enc = build_ivfpq_index(
        df, n_centroids=n_centroids, m=m, pq_centroids=pq_centroids,
        n_iters=n_iters, id_col=id_col, vec_col=vec_col,
        train_mod=train_mod)
    return ivfpq_query(centroids, books, enc, query_vec, k,
                       n_probe=n_probe, rerank=rerank, id_col=id_col,
                       vec_col=vec_col)


def build_ivfpq_index(df: DataFrame, *, n_centroids: int = 16,
                      m: int = 4, pq_centroids: int = 16,
                      n_iters: int = 3, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      train_mod: int = 1):
    """One-time IVFADC index build: train the coarse quantizer, assign
    cells, train the residual PQ codebooks, encode. Returns
    (centroids, books, enc) where `enc` is the materialized encoded
    index frame — the persisted-index seam (a deployment writes `enc`
    partitioned by `cid` and reloads it per query batch)."""
    centroids = kmeans_centroids(df, n_centroids, n_iters, id_col,
                                 vec_col, train_mod)
    indexed = ivf_index(df, centroids, vec_col)
    cent_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    resid = F.zip_with(
        F.col(vec_col), F.element_at(cent_lit, F.col("cid") + 1),
        lambda x, c: (x - c).cast("double"))
    # Materialize the assigned residuals ONCE, and the encoded index
    # ONCE (the persisted-index seam at scale — a deployment writes
    # `enc` partitioned by cell): without the checkpoints, PQ training
    # (dim probe + init + n_iters Lloyd jobs), each of the n_probe cell
    # scans and the rerank all RE-DERIVE the IVF assignment + residual
    # lineage — a 16-centroid argmin expression tree over every row,
    # re-executed ~10×. Measured at sf0.1: 60.6 s → checkpointed ~14 s,
    # identical results (the quantizer recipe is rounding-pinned, so
    # materialization cannot change values).
    enc_src = indexed.withColumn("_resid", resid).localCheckpoint()
    books = pq_codebooks(enc_src, m, pq_centroids, n_iters, id_col,
                         "_resid", train_mod)
    enc = (pq_encode(enc_src, books, "_resid").drop("_resid")
           .localCheckpoint())
    return centroids, books, enc


def ivfpq_query(centroids: list[list[float]],
                books: list[list[list[float]]], enc: DataFrame,
                query_vec: list[float], k: int = 10, *,
                n_probe: int = 4, rerank: int = 50,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Serve one query against a prebuilt IVFADC index (the steady-
    state cost): pick the n_probe nearest cells driver-side, ADC-scan
    only their codes with per-cell lookup tables on the query residual,
    exact-rerank the top `rerank`."""
    m = len(books)
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = _unit([float(x) for x in query_vec])
    probe = sorted(
        range(len(centroids)),
        key=lambda ci: (-sum(a * b for a, b in zip(qn, centroids[ci])), ci),
    )[:n_probe]
    d_sub = len(books[0][0])

    def adc_score(cid: int):
        qr = q - np.asarray(centroids[cid], dtype=np.float64)
        score = None
        for mi in range(m):
            row = [round(float(((qr[mi * d_sub:(mi + 1) * d_sub]
                                 - np.asarray(c)) ** 2).sum()), 9)
                   for c in books[mi]]
            tbl = F.array(*[F.lit(v) for v in row])
            term = F.element_at(tbl, F.element_at("pq_code", mi + 1) + 1)
            score = term if score is None else score + term
        return F.round(score, 9)

    parts = [
        enc.filter(F.col("cid") == cid).withColumn("adc", adc_score(cid))
        for cid in probe
    ]
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)
    cand = cand.orderBy(F.asc("adc"), F.asc(id_col)).limit(rerank)
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def sign_bands(df: DataFrame, n_bands: int = 8, band_bits: int = 8,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Axis-aligned sign-bit LSH banding: band b's key packs the sign
    bits of dimensions [b·band_bits, (b+1)·band_bits) — bit j set iff
    the coordinate is ≥ 0. Two vectors land in the same (band, key)
    bucket iff every coordinate of that dimension slice agrees in sign,
    which for unit-ish embeddings is the random-hyperplane LSH collision
    rule with the axis planes. Deterministic (data-dependent, zero RNG),
    so the whole near-dup pipeline is oracle-checkable — unlike the
    Gaussian-plane tables in `lsh_buckets_multi`.

    Returns (id, band, key); scale shape: pure scan-stage JVM
    expressions (slice + zip_with + aggregate) + one posexplode —
    no shuffle, no Python."""
    keys = []
    for b in range(n_bands):
        w = F.array(*[F.lit(1 << j).cast("long") for j in range(band_bits)])
        keys.append(
            F.aggregate(
                F.zip_with(
                    F.slice(F.col(vec_col), b * band_bits + 1, band_bits),
                    w,
                    lambda x, wj: F.when(x >= 0, wj)
                                   .otherwise(F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    # NULL or too-short embeddings emit no band rows at all (posexplode
    # of a NULL array drops the row): zip_with would otherwise NULL-pad
    # missing dimensions into sign-bit 0, silently piling every
    # truncated embedding into the trailing key-0 buckets
    keys_arr = F.when(
        F.size(F.col(vec_col)) >= n_bands * band_bits, F.array(*keys)
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(keys_arr).alias("band", "key"),
    )


def semantic_candidates(df: DataFrame, n_bands: int = 8, band_bits: int = 8,
                        max_bucket: int | None = None,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Candidate near-dup pairs (v1 < v2, distinct) from the sign-band
    buckets: the standard LSH banding equi-join — a pair is a candidate
    iff it shares ANY band's bucket. `max_bucket` is the hot-bucket
    guard (a bucket of k rows emits ~k²/2 pairs): buckets with more
    members are dropped from candidate generation, bounding candidate
    rows by ~max_bucket·n_bands·n regardless of skew; the exclusion
    list is tiny by construction and broadcasts. None keeps exact
    banding semantics for the contract oracle."""
    b = sign_bands(df, n_bands, band_bits, id_col, vec_col)
    if max_bucket is not None:
        hot = (
            b.groupBy("band", "key").count()
            .filter(F.col("count") > max_bucket).select("band", "key")
        )
        b = b.join(F.broadcast(hot), ["band", "key"], "left_anti")
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(c, (F.col("a.band") == F.col("c.band"))
               & (F.col("a.key") == F.col("c.key"))
               & (F.col("a.id") < F.col("c.id")))
        .select(F.col("a.id").alias("v1"), F.col("c.id").alias("v2"))
        .dropDuplicates(["v1", "v2"])
    )


def semantic_dedup(df: DataFrame, min_cosine: float = 0.9,
                   n_bands: int = 8, band_bits: int = 8,
                   max_bucket: int | None = None, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style embedding-cosine near-duplicate clustering:
    sign-band LSH candidates → exact cosine ≥ `min_cosine` edge filter
    (rounded to 4dp so IEEE summation order can't flip a borderline
    edge) → connected components → one keeper per cluster (the minimum
    id). Returns one row per vector that belongs to a near-dup cluster:
    (id, keeper_id, cluster_size, is_dup); vectors with no near-dup
    never appear (callers keep them unconditionally).

    Scale shape: candidates are an equi-join on (band, key) — never an
    all-pairs product; embeddings join back by id only for candidate
    rows, so the vectors cross exactly one shuffle each; clustering is
    the O(log n)-round large-star/small-star CC on slim (v1, v2) longs.
    At 100 TB set `max_bucket` (degenerate embeddings — all-zero or
    truncated documents — pile into one bucket) and raise `n_bands` /
    lower `band_bits` to trade candidate volume for recall."""
    from lectura.graphops import connected_components

    cand = semantic_candidates(df, n_bands, band_bits, max_bucket,
                               id_col, vec_col)
    emb = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_e"))
    edges = (
        cand.join(emb.select(F.col("_id").alias("v1"),
                             F.col("_e").alias("_e1")), "v1")
        .join(emb.select(F.col("_id").alias("v2"),
                         F.col("_e").alias("_e2")), "v2")
        .withColumn("cosine",
                    F.round(F.try_divide(_dot("_e1", "_e2"),
                                         _norm("_e1") * _norm("_e2")), 4))
        # NULL (zero-norm) and NaN (NaN-coordinate) cosines must NOT
        # become edges: Spark comparison semantics put NaN above every
        # value, so a bare >= would make a NaN-poisoned vector a
        # near-dup of everything it shares a bucket with
        .filter((F.col("cosine") >= min_cosine) & ~F.isnan("cosine"))
        .select("v1", "v2")
    )
    comp = connected_components(edges, src="v1", dst="v2")
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("keeper_id"),
            F.col("cluster_size"),
            (F.col("node") != F.col("component")).alias("is_dup"),
        )
    )


def cosine_pairs(df: DataFrame, min_cosine: float, max_id: int | None = None,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs (bounded all-pairs; the LSH path
    above is the scale alternative)."""
    if max_id is not None:
        df = df.filter(F.col(id_col) < max_id)
    a = df.select(F.col(id_col).alias("v1"), F.col(vec_col).alias("e1"))
    b = df.select(F.col(id_col).alias("v2"), F.col(vec_col).alias("e2"))
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .withColumn(
            "cosine",
            F.round(
                F.try_divide(_dot("e1", "e2"), _norm("e1") * _norm("e2")), 4
            ),
        )
        # same NULL/NaN edge guard as semantic_dedup: zero-norm rows get
        # NULL cosine from try_divide, NaN coordinates would otherwise
        # pass >= (NaN sorts above every value in Spark comparisons)
        .filter((F.col("cosine") >= min_cosine) & ~F.isnan("cosine"))
        .select("v1", "v2", "cosine")
    )
