"""CPU time per call of the extraction kernels, on pages sampled from the
workload's own corpus. Each kernel runs in passes over the sample until
it has used enough CPU; the figure is the median pass's CPU per call."""

from __future__ import annotations

import gzip
import random
import statistics
import time

MIN_PASSES = 5
MIN_CPU_S = 0.25


def _per_call_us(fn, inputs, before_pass=None) -> float:
    per_pass, used = [], 0.0
    while len(per_pass) < MIN_PASSES or used < MIN_CPU_S:
        if before_pass is not None:
            before_pass()
        t0 = time.process_time()
        for x in inputs:
            fn(x)
        dt = time.process_time() - t0
        used += dt
        per_pass.append(dt / len(inputs) * 1e6)
    return statistics.median(per_pass)


def sample_pages(pages_dir: str, n: int, seed: int) -> list[tuple[str, bytes]]:
    """(url, gzip member) of ``n`` pages picked by ``seed``."""
    import pyarrow.parquet as pq

    idx = pq.read_table(pages_dir, columns=[
        "url", "warc_file", "warc_offset", "warc_len"]).to_pylist()
    idx.sort(key=lambda r: (r["url"], r["warc_file"], r["warc_offset"]))
    out = []
    for r in random.Random(seed).sample(idx, min(n, len(idx))):
        with open(r["warc_file"], "rb") as f:
            f.seek(r["warc_offset"])
            out.append((r["url"], f.read(r["warc_len"])))
    return out


def time_kernels(pages_dir: str, seed: int, n_pages: int = 32) -> dict:
    from lectura.pure import urlnorm
    from lectura.pure.enrich import enrich_text
    from lectura.pure.extract import extract_page

    pages = sample_pages(pages_dir, n_pages, seed)
    html = [(url, gzip.decompress(blob)) for url, blob in pages]
    extracted = [extract_page(body, url) for url, body in html]
    texts = [t for t, _links in extracted]
    # distinct, so that within a pass no call is answered by the memo
    links = sorted({u for _t, ls in extracted for u in ls}
                   | {u for u, _b in pages})
    cache: dict = {}
    return {
        "extract.gunzip_us": _per_call_us(
            gzip.decompress, [blob for _u, blob in pages]),
        "pure.extract.extract_page_us": _per_call_us(
            lambda p: extract_page(p[1], p[0]), html),
        # one word-hash cache per pass, as one Arrow batch has
        "pure.enrich.enrich_text_us": _per_call_us(
            lambda t: enrich_text(t, cache), texts, cache.clear),
        # the memo is emptied before each pass: this times canonicalization
        "pure.urlnorm.canonicalize_url_us": _per_call_us(
            urlnorm.canonicalize_url, links, urlnorm._CANON_CACHE.clear),
    }
