"""URL canonicalization + SHA1 kernel for the URL-seen set.

Canonicalization is north_rule-mandated (not in the reference); its
definition follows SURVEY.md §2.10: lowercase scheme+host, strip the
scheme default port (http:80 / https:443 — port handling mirrors the
url parse in /root/reference/hanzo/httptools/messaging.py:507-531),
squash '../'/'./' path segments exactly like the reference link
absolutizer (/root/reference/hanzo/warclinks.py:177-191), strip the
fragment, default empty path to '/'.
"""

from __future__ import annotations

import hashlib
import posixpath
from functools import lru_cache
from urllib.parse import urlparse, urlunparse

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def squash_path(path: str) -> str:
    """Resolve '../' and './' with the reference's loop semantics
    (warclinks.py:177-191): only leading occurrences are squashed
    repeatedly; interior ones are normalized with posixpath."""
    # leading-squash like the reference
    d = ""
    while True:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        else:
            break
    # interior normalization (a/b/../c -> a/c) for a canonical seen key
    if path:
        norm = posixpath.normpath(path)
        if path.endswith("/") and not norm.endswith("/"):
            norm += "/"
        if norm == ".":
            norm = "/"
        path = norm
    return path or "/"


@lru_cache(maxsize=1 << 16)
def canonicalize_url(url: str) -> str:
    """Canonical form used as the seen-set key."""
    try:
        p = urlparse(url.strip())
    except ValueError:
        return url.strip()
    scheme = p.scheme.lower()
    host = (p.hostname or "").lower()
    port = None
    try:
        port = p.port
    except ValueError:
        port = None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = "%s:%d" % (host, port)
    path = squash_path(p.path)
    if not path.startswith("/"):
        path = "/" + path
    # fragment stripped; params/query kept
    return urlunparse((scheme, netloc, path, p.params, p.query, ""))


@lru_cache(maxsize=1 << 16)
def url_sha1(url: str) -> str:
    """Hex SHA1 of the canonical URL — the exact seen-set key."""
    return hashlib.sha1(canonicalize_url(url).encode("utf-8")).hexdigest()


@lru_cache(maxsize=1 << 16)
def canon_parts(url: str) -> tuple[str, str, str]:
    """(canon_url, url_sha1, host) from ONE urlparse — the hot-path
    variant used by the fused harvest UDF. Values are defined to equal
    (canonicalize_url(url), url_sha1(url), url_host(url))."""
    try:
        p = urlparse(url.strip())
    except ValueError:
        c = url.strip()
        return c, hashlib.sha1(c.encode("utf-8")).hexdigest(), ""
    scheme = p.scheme.lower()
    host = (p.hostname or "").lower()
    try:
        port = p.port
    except ValueError:
        port = None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = "%s:%d" % (host, port)
    path = squash_path(p.path)
    if not path.startswith("/"):
        path = "/" + path
    canon = urlunparse((scheme, netloc, path, p.params, p.query, ""))
    # NB: url_host() parses the same stripped url, so the values agree
    # by construction
    return canon, hashlib.sha1(canon.encode("utf-8")).hexdigest(), host


@lru_cache(maxsize=1 << 16)
def url_host(url: str) -> str:
    """Lowercased host for politeness partitioning, parsed from the
    stripped URL like canonicalize_url and canon_parts."""
    try:
        return (urlparse(url.strip()).hostname or "").lower()
    except ValueError:
        return ""


# Fast path for URLs that are ALREADY in canonical form — the common
# case for well-formed absolute links. The regex + two substring
# guards establish exactly the conditions under which
# canonicalize_url(url) == url:
#   * lowercase http/https scheme; netloc of [a-z0-9.-] only (so
#     hostname == netloc, no port/userinfo/case to normalize);
#   * a present path with no ';' (urlparse would split params), no
#     '//' and no '/.' substring (sufficient to exclude every
#     '.'/'..' segment and double slash that posixpath.normpath in
#     squash_path would rewrite — '/.foo' style segments are fine but
#     conservatively fall back);
#   * no fragment; a '?' only with a non-empty query (urlunparse
#     drops a bare '?').
# Anything else falls back to the exact (lru-cached) canon_parts.
# Equality with canon_parts on accepted URLs is pinned by
# tests/test_round6_opt.py.
import re as _re

_FAST_CANON_RX = _re.compile(
    r"\Ahttps?://([a-z0-9.-]+)(/[^?#;\s]*)(\?[^#\s]+)?\Z"
)


def canon_parts_fast(url: str) -> tuple[str, str, str]:
    """(canon_url, url_sha1, host) — identical values to canon_parts,
    with a no-allocation fast path for already-canonical URLs."""
    m = _FAST_CANON_RX.match(url)
    if m is not None:
        host, path = m.group(1, 2)
        if "//" not in path and "/." not in path:
            return url, hashlib.sha1(url.encode("utf-8")).hexdigest(), host
    return canon_parts(url)
