"""Output checks run after every measured job, on rows collected from the
warehouse the job wrote. Each check returns a list of problems; an empty
list means the job's output is correct.

Digests are order-independent (a sum of per-row hashes modulo 2**64 plus
the row count), so the same rows in any order, partitioning or file
layout give the same digest, and a changed, missing or duplicated row
changes it.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter, defaultdict


def digest(rows) -> str:
    total, n = 0, 0
    for row in rows:
        h = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % 2**64
        n += 1
    return f"{n}:{total:016x}"


def check_crawl(scheduled, fetch_log, text, *, max_per_host: int,
                rounds: int) -> list[str]:
    """``scheduled``: (round, sched_rank, url, host) rows; ``fetch_log``:
    (round, url, status); ``text``: (round, url, ...) rows."""
    problems = []
    by_round = defaultdict(list)
    for rnd, rank, url, host in scheduled:
        by_round[rnd].append((rank, url, host))
    status = Counter((rnd, st) for rnd, _url, st in fetch_log)
    n_text = Counter(row[0] for row in text)
    if not scheduled:
        problems.append("no url was scheduled")
    if sorted(by_round) != list(range(1, rounds + 1)):
        problems.append(f"rounds scheduled {sorted(by_round)}, "
                        f"expected 1..{rounds}")
    seen_urls: set[str] = set()
    for rnd, rows in sorted(by_round.items()):
        n = len(rows)
        ok, miss = status[(rnd, "ok")], status[(rnd, "miss")]
        if n != ok + miss:
            problems.append(f"round {rnd}: scheduled {n} != ok {ok} + "
                            f"miss {miss}")
        if ok != n_text[rnd]:
            problems.append(f"round {rnd}: ok {ok} != text rows "
                            f"{n_text[rnd]}")
        if sorted(r for r, _u, _h in rows) != list(range(1, n + 1)):
            problems.append(f"round {rnd}: sched_rank is not 1..{n}")
        host, per_host = max(Counter(h for _r, _u, h in rows).items(),
                             key=lambda kv: kv[1])
        if per_host > max_per_host:
            problems.append(f"round {rnd}: host {host} got {per_host} "
                            f"urls, cap {max_per_host}")
        urls = {u for _r, u, _h in rows}
        if len(urls) != n or urls & seen_urls:
            problems.append(f"round {rnd}: a url was scheduled twice")
        seen_urls |= urls
    return problems


def check_export(docs_in: int, docs_out: int, rows) -> list[str]:
    """``rows``: (url, ...) of the table the export wrote; ``docs_out`` is
    the count the export reported."""
    problems = []
    if not 0 < docs_out <= docs_in:
        problems.append(f"export wrote {docs_out} docs from {docs_in} "
                        "input rows")
    urls = {row[0] for row in rows}
    if len(rows) != docs_out or len(urls) != len(rows):
        problems.append(f"export reported {docs_out} docs but wrote "
                        f"{len(rows)} rows for {len(urls)} urls")
    return problems


def check_digests(path: str, key: str, digests: dict[str, str]) -> list[str]:
    """Compare ``digests`` with those recorded under ``key`` by an earlier
    run in this checkout; record them if there are none yet."""
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    prev = known.get(key)
    if prev is None:
        known[key] = digests
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
        return []
    return [f"{key}: {name} digest {digests.get(name)} differs from an "
            f"earlier run's {want}"
            for name, want in prev.items() if digests.get(name) != want]
