"""U1/U3 unit + property tests (SURVEY.md §5.2–5.3; RFC 3986)."""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lectura.pure.urlnorm import (
    canonicalize_url,
    host_of,
    host_reverse_key,
    path_query_of,
    registered_host,
    remove_dot_segments,
    resolve_url,
)

VECTORS = [
    # (input, canonical) — SEMANTICS.md §1
    ("HTTP://WWW.Example.COM:80/a/../b/./c?q=1#frag", "http://www.example.com/b/c?q=1"),
    ("https://example.com:443/", "https://example.com/"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com.", "http://example.com/"),
    ("http://EXAMPLE.com/%7euser/%41", "http://example.com/~user/A"),
    ("http://example.com/%2f/x", "http://example.com/%2F/x".replace("%2f", "%2F")),
    ("http://example.com/a b/c", "http://example.com/a%20b/c"),
    ("http://example.com/a?", "http://example.com/a"),
    ("http://example.com/a?b=1&a=2", "http://example.com/a?b=1&a=2"),  # order kept
    ("http://example.com/a?x=%7E", "http://example.com/a?x=~"),
    ("http://user:pw@example.com/p", "http://example.com/p"),
    ("http://example.com/a/b/../../../c", "http://example.com/c"),
    ("http://example.com/a//b", "http://example.com/a//b"),
    ("http://example.com/café", "http://example.com/caf%C3%A9"),
    ("  http://example.com/x  ", "http://example.com/x"),
    ("http://example.com/%zz", "http://example.com/%zz"),  # invalid escape kept
    # IPv6 literals keep their brackets (RFC 3986 §3.2.2)
    ("http://[2001:DB8::7]:8080/x", "http://[2001:db8::7]:8080/x"),
    ("http://[::1]:80/", "http://[::1]/"),
    # an IPvFuture literal stays a literal; no text may sit beside the
    # brackets except ":port"
    ("http://[v1.fe]/", "http://[v1.fe]/"),
    ("http://a[::1]/", None),
    ("http://[::1]x/", None),
]

REJECTS = ["", None, "ftp://x.com/", "mailto:a@b", "javascript:void(0)",
           "http:///nohost", "http://ex.com:notaport/", "//ex.com/x", "#frag"]


@pytest.mark.parametrize("raw,want", VECTORS)
def test_canonical_vectors(raw, want):
    assert canonicalize_url(raw) == want


@pytest.mark.parametrize("raw", REJECTS)
def test_rejects(raw):
    assert canonicalize_url(raw) is None


# RFC 3986 §5.4.1 normal reference-resolution examples
RFC_BASE = "http://a/b/c/d;p?q"
RFC_RESOLUTION = [
    ("g", "http://a/b/c/g"),
    ("./g", "http://a/b/c/g"),
    ("g/", "http://a/b/c/g/"),
    ("/g", "http://a/g"),
    ("?y", "http://a/b/c/d;p?y"),
    ("g?y", "http://a/b/c/g?y"),
    (";x", "http://a/b/c/;x"),
    ("g;x", "http://a/b/c/g;x"),
    ("", "http://a/b/c/d;p?q"),
    (".", "http://a/b/c/"),
    ("..", "http://a/b/"),
    ("../g", "http://a/b/g"),
    ("../..", "http://a/"),
    ("../../g", "http://a/g"),
    # §5.4.2 abnormal
    ("../../../g", "http://a/g"),
    ("../../../../g", "http://a/g"),
    ("/./g", "http://a/g"),
    ("/../g", "http://a/g"),
    ("g.", "http://a/b/c/g."),
    (".g", "http://a/b/c/.g"),
    ("g..", "http://a/b/c/g.."),
    ("..g", "http://a/b/c/..g"),
]


@pytest.mark.parametrize("ref,want", RFC_RESOLUTION)
def test_rfc3986_resolution(ref, want):
    assert resolve_url(RFC_BASE, ref) == want


def test_remove_dot_segments_rfc_examples():
    assert remove_dot_segments("/a/b/c/./../../g") == "/a/g"
    assert remove_dot_segments("mid/content=5/../6") == "mid/6"


def test_host_parts():
    u = "http://www.example.com:8080/a/b?q=1"
    assert host_of(u) == "www.example.com:8080"
    assert registered_host(u) == "www.example.com"
    assert path_query_of(u) == "/a/b?q=1"
    assert host_reverse_key(u) == "com,example,www)/a/b?q=1"
    assert host_reverse_key("http://example.com/") == "com,example)/"
    v6 = "http://[2001:db8::7]:8080/x?y"
    assert registered_host(v6) == "[2001:db8::7]"
    assert host_reverse_key(v6) == "[2001:db8::7])/x?y"


_URL_CHARS = string.ascii_letters + string.digits + ":/?#[]@!$&'()*+,;=-._~% "
_IPV6_HOSTS = st.ip_addresses(v=6).flatmap(
    lambda a: st.sampled_from([f"[{a}]", f"[{a.exploded.upper()}]"]))
# IPvFuture (RFC 3986 §3.2.2): "v" 1*HEXDIG "." 1*(unreserved / ...)
_IPVFUTURE_HOSTS = st.from_regex(r"\[v[0-9a-f]{1,2}\.[a-z0-9.\-]{1,8}\]",
                                 fullmatch=True)


@settings(max_examples=300, deadline=None)
@given(
    host=st.one_of(st.from_regex(r"[a-zA-Z0-9.\-]{1,20}", fullmatch=True),
                   _IPV6_HOSTS, _IPVFUTURE_HOSTS),
    path=st.text(alphabet=_URL_CHARS, max_size=40),
)
def test_idempotent(host, path):
    u = canonicalize_url(f"http://{host}/{path}")
    if u is not None:
        assert canonicalize_url(u) == u, (host, path, u)


_RAW_URLS = st.builds(
    "{}://{}{}{}{}".format,
    st.sampled_from(["http", "HTTPS"]),
    st.one_of(
        st.from_regex(r"[a-zA-Z0-9\-]{1,8}(\.[a-zA-Z0-9\-]{1,8}){0,3}\.?",
                      fullmatch=True),
        _IPV6_HOSTS,
        _IPVFUTURE_HOSTS,
    ),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.sampled_from(["/", "?", ""]),
    st.text(alphabet=_URL_CHARS, max_size=20),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_RAW_URLS, min_size=1, max_size=20))
def test_jvm_url_parts_equal_pure(spark, raws):
    """lectura.urlnorm.url_parts (JVM expressions the crawl runs) equals
    the pure registered_host / host_reverse_key / path_query_of on
    canonical urls: ports, trailing dots, IPv6 and IPvFuture literals,
    uppercase and `?` before any `/`."""
    from lectura.urlnorm import url_parts

    canon = [u for u in map(canonicalize_url, raws) if u is not None]
    if not canon:
        return
    got = (spark.createDataFrame([(u,) for u in canon], "url string")
           .select("url", *url_parts("url")).collect())
    assert [(r.url, r.host, r.hrk, r.path_q) for r in got] == [
        (u, registered_host(u), host_reverse_key(u), path_query_of(u))
        for u in canon]


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60))
def test_never_raises(s):
    canonicalize_url(s)
    canonicalize_url("http://example.com/" + s)


@settings(max_examples=500, deadline=None)
@given(
    base_host=st.from_regex(r"[a-z0-9.\-]{1,12}", fullmatch=True),
    base_path=st.text(alphabet=_URL_CHARS, max_size=24),
    ref=st.one_of(
        st.text(alphabet=_URL_CHARS, max_size=40),
        st.text(alphabet=_URL_CHARS, max_size=30).map(lambda s: "/" + s),
        st.text(alphabet=_URL_CHARS, max_size=30).map(lambda s: "//" + s),
        st.text(alphabet=_URL_CHARS, max_size=30).map(
            lambda s: "http://" + s),
        st.text(alphabet=_URL_CHARS, max_size=30).map(
            lambda s: "https://" + s),
    ),
)
def test_resolve_fast_paths_equal_urljoin(base_host, base_path, ref):
    """resolve_url's fast paths must produce byte-identical output to the
    plain canonicalize(urljoin(...)) route (X1/X2 goldens are frozen)."""
    from urllib.parse import urljoin

    base = canonicalize_url(f"http://{base_host}/{base_path}")
    if base is None:
        return
    try:
        want = canonicalize_url(urljoin(base, ref))
    except ValueError:
        want = None
    assert resolve_url(base, ref) == want, (base, ref)
