"""RFC 3986 URL canonicalization + host-reverse sort key (SEMANTICS.md §1–2).

Spec source: BASELINE.json north_star (B:6) — "URL canonicalization
(RFC 3986 normalize + host-reverse sort key)". Pure functions, called
directly by the oracle crawler; lectura/urlnorm.py wraps canonicalize_url
in a pandas UDF and derives the url parts as JVM expressions equal to
registered_host / host_reverse_key / path_query_of.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlsplit

_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_SUB_DELIMS = set("!$&'()*+,;=")
_HEX = set("0123456789abcdefABCDEF")
# RFC 3986: pchar = unreserved / pct-encoded / sub-delims / ":" / "@"
_PATH_ALLOWED = _UNRESERVED | _SUB_DELIMS | set(":@/")
_QUERY_ALLOWED = _PATH_ALLOWED | set("?")

_DEFAULT_PORT = {"http": "80", "https": "443"}

import re as _re

# fast paths (pure optimizations — outputs identical, property-tested):
# a component with no '%' and only always-allowed chars normalizes to itself
_SAFE_PATH_RX = _re.compile(r"[A-Za-z0-9\-._~!$&'()*+,;=:@/]*\Z")
_SAFE_QUERY_RX = _re.compile(r"[A-Za-z0-9\-._~!$&'()*+,;=:@/?]*\Z")


def pct_normalize(s: str, allowed: set[str]) -> str:
    """Percent-normalization per SEMANTICS.md §1.1.

    - valid %XX: decode when octet is unreserved, else uppercase hex
    - bare '%' (invalid escape): kept literally
    - raw chars outside `allowed`: percent-encode their UTF-8 bytes
    """
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 2 <= n - 1 and s[i + 1] in _HEX and s[i + 2] in _HEX:
            octet = int(s[i + 1 : i + 3], 16)
            ch = chr(octet)
            if ch in _UNRESERVED:
                out.append(ch)
            else:
                out.append("%" + s[i + 1 : i + 3].upper())
            i += 3
            continue
        if c == "%":
            out.append("%")  # invalid escape kept literally
            i += 1
            continue
        if c in allowed:
            out.append(c)
        else:
            for b in c.encode("utf-8"):
                out.append(f"%{b:02X}")
        i += 1
    return "".join(out)


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments, implemented literally."""
    if "." not in path:  # no '.' char ⇒ no dot segments (fast path)
        return path
    inp = path
    out: list[str] = []
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if out:
                out.pop()
        elif inp == "/..":
            inp = "/"
            if out:
                out.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            if inp.startswith("/"):
                j = inp.find("/", 1)
            else:
                j = inp.find("/")
            if j == -1:
                out.append(inp)
                inp = ""
            else:
                out.append(inp[:j])
                inp = inp[j:]
    return "".join(out)


_CANON_CACHE: dict[str, str | None] = {}
_CANON_CACHE_MAX = 1 << 16


def canonicalize_url(url: str | None) -> str | None:
    """Canonical form per SEMANTICS.md §1; None if not a crawlable http(s)
    URL. Memoized (pure function; hrefs repeat heavily across the pages of
    a host, so the cache pays off inside extraction batches)."""
    if not url:
        return None
    hit = _CANON_CACHE.get(url, _CANON_CACHE_MAX)
    if hit is not _CANON_CACHE_MAX:
        return hit
    out = _canonicalize_uncached(url)
    if len(_CANON_CACHE) >= _CANON_CACHE_MAX:
        _CANON_CACHE.clear()
    _CANON_CACHE[url] = out
    return out


def _canonicalize_uncached(url: str) -> str | None:
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower()
    hostinfo = parts.netloc.rpartition("@")[2]
    if hostinfo.startswith("["):
        # IP literal (IPv6 or IPvFuture, RFC 3986 §3.2.2): keep the
        # brackets; only ":port" may follow the "]" (urlsplit would drop
        # any other trailing text)
        if hostinfo[hostinfo.find("]") + 1:][:1] not in ("", ":"):
            return None
        host = f"[{host}]"
    elif "[" in hostinfo:  # text before "[": no such authority
        return None
    # Reject hosts with empty DNS labels (leading ".", any ".."): not
    # resolvable reg-names — checked BEFORE the trailing-root-dot strip so
    # the strip stays idempotent (hypothesis-found: "http://../" and
    # "http://0../" both produced forms that re-canonicalized differently)
    elif not host or host.startswith(".") or ".." in host:
        return None
    elif host.endswith("."):
        host = host[:-1]
    try:
        port = parts.port  # raises ValueError on non-numeric
    except ValueError:
        return None
    hostport = host
    if port is not None and str(port) != _DEFAULT_PORT[scheme]:
        hostport = f"{host}:{port}"
    path = parts.path
    if not _SAFE_PATH_RX.match(path):
        path = pct_normalize(path, _PATH_ALLOWED)
    path = remove_dot_segments(path)
    if not path:
        path = "/"
    elif not path.startswith("/"):
        path = "/" + path
    query = parts.query
    if not _SAFE_QUERY_RX.match(query):
        query = pct_normalize(query, _QUERY_ALLOWED)
    if query:
        return f"{scheme}://{hostport}{path}?{query}"
    return f"{scheme}://{hostport}{path}"


def host_of(canon_url: str) -> str:
    """Host (incl. non-default port) of a canonical URL — cheap split, no reparse."""
    rest = canon_url.split("://", 1)[1]
    end = len(rest)
    for sep in ("/", "?"):
        j = rest.find(sep)
        if j != -1 and j < end:
            end = j
    return rest[:end]


def path_query_of(canon_url: str) -> str:
    """path[?query] of a canonical URL (the robots match target, RFC 9309)."""
    rest = canon_url.split("://", 1)[1]
    j = rest.find("/")
    q = rest.find("?")
    if j == -1 and q == -1:
        return "/"
    if j == -1 or (q != -1 and q < j):
        return "/" + rest[q:]
    return rest[j:]


def registered_host(canon_url: str) -> str:
    """Hostname without port (robots + politeness are per hostname); an
    IPv6 literal keeps its brackets."""
    hp = host_of(canon_url)
    if hp.startswith("["):
        return hp[: hp.find("]") + 1]
    return hp.split(":", 1)[0]


def host_reverse_key(canon_url: str) -> str:
    """SURT-style locality key (SEMANTICS.md §2): com,example,www)/path?q."""
    host = registered_host(canon_url)
    return ",".join(reversed(host.split("."))) + ")" + path_query_of(canon_url)


_BASE_NET_CACHE: dict[str, tuple[str, str]] = {}


def _base_scheme_netloc(base: str) -> tuple[str, str]:
    hit = _BASE_NET_CACHE.get(base)
    if hit is None:
        parts = urlsplit(base)
        hit = (parts.scheme.lower(), parts.netloc)
        if len(_BASE_NET_CACHE) > 4096:
            _BASE_NET_CACHE.clear()
        _BASE_NET_CACHE[base] = hit
    return hit


def resolve_url(base: str, ref: str) -> str | None:
    """RFC 3986 §5 reference resolution + canonicalization.

    Fast paths (pure optimizations, property-tested equal to the urljoin
    route; urljoin costs ~35 µs/call and dominates extraction): a ref with
    its own authority resolves to itself, and an absolute-path ref is
    scheme://base-netloc + ref — in both cases canonicalize_url performs
    the same remove_dot_segments the resolution algorithm would. Refs
    containing ';' always take the urljoin route: urlparse's params split
    drops a trailing ';' of the last path segment (urlunparse re-appends
    ';params' only when non-empty) and that quirk is part of the frozen
    byte-exact behavior."""
    try:
        low = ref[:8].lower()
        if ";" in ref:
            return canonicalize_url(urljoin(base, ref))
        if low.startswith(("http://", "https://")):
            rest = ref[7:] if low.startswith("http://") else ref[8:]
            if rest and rest[0] not in "/?#":
                return canonicalize_url(ref)
        elif ref.startswith("/") and not ref.startswith("//"):
            scheme, netloc = _base_scheme_netloc(base)
            if scheme in ("http", "https") and netloc:
                return canonicalize_url(f"{scheme}://{netloc}{ref}")
        elif ref.startswith("//"):
            rest = ref[2:]
            if rest and rest[0] not in "/?#":
                scheme, _ = _base_scheme_netloc(base)
                if scheme in ("http", "https"):
                    return canonicalize_url(scheme + ":" + ref)
        return canonicalize_url(urljoin(base, ref))
    except ValueError:
        return None
