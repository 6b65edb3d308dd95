"""HTML link extraction kernel.

Clean-room reimplementation of the reference's fallback LinkParser
(/root/reference/hanzo/warclinks.py:110-199): per-tag attribute table,
<base href> override, <meta ... content="...;url=..."> extraction, and
relative-URL absolutization with the exact '../'/'./' squash loop.
The lxml path (warclinks.py:79-95) is not available in this container;
the fallback table is the semantic contract.

Per-link control-character strip ('\\n\\r\\t') mirrors
warclinks.py:66.
"""

from __future__ import annotations

import posixpath
import re
from functools import lru_cache
from html.parser import HTMLParser
from urllib.parse import urlparse, urlunparse

from warctools_spark.kernels.http_decode import decode_http

# urlparse is pure and ParseResult immutable; link graphs repeat
# targets heavily, so caching across documents is a large win
_urlparse = lru_cache(maxsize=1 << 16)(urlparse)

# warclinks.py:133-157
_TAG_ATTRS = {
    "a": ("href",),
    "applet": ("code",),
    "area": ("href",),
    "bgsound": ("src",),
    "body": ("background",),
    "embed": ("href", "src"),
    "fig": ("src",),
    "form": ("action",),
    "frame": ("src",),
    "iframe": ("src",),
    "img": ("href", "src", "lowsrc"),
    "input": ("src",),
    "link": ("href",),
    "layer": ("src",),
    "object": ("data",),
    "overlay": ("src",),
    "script": ("src",),
    "table": ("background",),
    "td": ("background",),
    "th": ("background",),
}


def _meta_urls(attrs):
    """meta content="0;url=..." extraction (warclinks.py:116-124)."""
    urls = []
    for key, value in attrs:
        if key == "content" and value:
            for pair in value.split(";"):
                bits = pair.split("=", 2)
                if len(bits) > 1 and bits[0].lower() == "url":
                    urls.append(bits[1].strip())
    return urls


def _take(tag, attrs, links, base):
    """One start tag's links appended to `links`; returns the base, which
    a <base href> overrides (warclinks.py:159-163: last href wins)."""
    if tag == "base":
        hrefs = [v for k, v in attrs if k == "href" and v]
        return hrefs[-1] if hrefs else base
    if tag == "meta":
        links.extend(_meta_urls(attrs))
    else:
        names = _TAG_ATTRS.get(tag)
        if names:
            links.extend(v for k, v in attrs if k in names and v)
    return base


class _LinkCollector(HTMLParser):
    def __init__(self, base: str):
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []
        self.base = base

    def handle_starttag(self, tag, attrs):
        self.base = _take(tag, attrs, self.links, self.base)

    def abs_links(self):
        """get_abs_links (warclinks.py:170-199)."""
        full = []
        root = _urlparse(self.base)
        root_dir = posixpath.split(root.path)[0]
        for link in self.links:
            # plainly-absolute fast path: http(s)://<non-empty netloc>
            # passes the reference's `parsed.netloc` check unchanged
            if (
                link[:7] == "http://"
                and len(link) > 7
                and link[7] not in "/?#"
            ) or (
                link[:8] == "https://"
                and len(link) > 8
                and link[8] not in "/?#"
            ):
                full.append(link)
                continue
            parsed = _urlparse(link)
            if not parsed.netloc:  # relative (no host)
                if parsed.path.startswith("/"):
                    parsed = root[0:2] + parsed[2:5] + ("",)
                else:
                    d = root_dir
                    path = parsed.path
                    while True:
                        if path.startswith("../"):
                            path = path[3:]
                            d = posixpath.split(d)[0]
                        elif path.startswith("./"):
                            path = path[2:]
                        else:
                            break
                    parsed = (
                        root[0:2]
                        + (posixpath.join(d, path),)
                        + parsed[3:5]
                        + ("",)
                    )
                link = urlunparse(parsed)
            full.append(link)
        return full


# ---- strict whole-document scanner ----
#
# HTMLParser's pure-python goahead loop dominates harvest cost. Link
# extraction therefore has two tiers: a document that matches the
# strict grammar below takes two C-level regex passes; every other
# document goes through the stdlib HTMLParser (_LinkCollector). The
# strict tier tokenizes with html.parser's OWN tolerant patterns, so
# both tiers give identical links (tests/test_links_canon.py,
# tests/test_links_fastpath.py).

import html.parser as _hp

# tags whose attributes can produce links (plus base/meta specials) —
# attribute tokenization is skipped for every other tag, which is
# semantics-preserving because handle_starttag ignores non-table tags
_LINK_TAGS = frozenset(_TAG_ATTRS) | {"base", "meta"}

# The strict grammar's tag-name class mirrors html.parser's PRIVATE
# tagfind_tolerant pattern, and _POST_NAME is that pattern's trailing
# skip, applied after the name to position the attribute loop where
# tagfind.end() does. If a CPython version reshapes the pattern, the
# module must not fail: the strict tier turns off and every document
# goes through the real HTMLParser (identical results, slower).
_TAGFIND_NAME = "([a-zA-Z][^\\t\\n\\r\\f />\\x00]*)"
if _hp.tagfind_tolerant.pattern.startswith(_TAGFIND_NAME):
    _POST_NAME = re.compile(_hp.tagfind_tolerant.pattern[len(_TAGFIND_NAME):])
else:  # pragma: no cover - depends on stdlib internals
    _POST_NAME = None


def _attrs(s: str, k: int, end: int) -> list[tuple[str, str | None]]:
    """html.parser's attribute list for s[k:end], tokenized with its own
    attrfind_tolerant. Callers admit no '&', so unescape() is the
    identity and is skipped."""
    attrs = []
    attrfind = _hp.attrfind_tolerant.match
    while k < end:
        am = attrfind(s, k)
        if not am:
            break
        name, rest, value = am.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        attrs.append((name.lower(), value))
        k = am.end()
    return attrs


# When the ENTIRE document matches a conservative tiling grammar —
# text, end tags, and start tags whose quotes appear only as
# '='-prefixed balanced values with no '<' inside — tokenization is
# position-free: every '<' begins exactly one tag, every tag ends at
# its first unquoted '>', and html.parser's tolerant tokenizer provably
# consumes the same spans. Then link extraction needs just TWO C-level
# regex passes: the validating fullmatch and one findall over the
# link-bearing tags, whose match already holds the attribute of the
# common one-attribute tag. Only a tag with another attribute shape
# goes through the stdlib's own attrfind_tolerant in Python, so attr
# semantics are bit-identical. A document the grammar rejects goes
# through HTMLParser (conservative: rejection can never change
# results, only speed).
#
# Grammar notes (each restriction maps to a tokenizer-divergence risk):
#   * quoted values only directly after '=' — a bare quote in the attr
#     area makes attrfind_tolerant treat it as an attr NAME and stop
#     at the next '>', splitting the tag differently;
#   * no '<' inside quoted values / end tags — keeps every '<' a real
#     tag start so the finditer cannot match inside another tag;
#   * names/bare values exclude quotes, '<', '=' — boundary ambiguity;
#   * no '&'/NUL anywhere and no script/style/'<!'/'<?' tags, the
#     constructs that make HTML parsing stateful (entity unescape stays
#     identity, no rawtext/CDATA modes);
#   * every quantifier is POSSESSIVE (Python 3.11+) and alternatives
#     are first-character-disjoint, so rejection is linear-time — a
#     backtracking formulation would go quadratic-or-worse exactly on
#     the rejected documents.
_STRICT_VALUE = "(?:'[^'<&\\x00]*+'|\"[^\"<&\\x00]*+\"|[^\\s><\"'=&\\x00]*+)"
_STRICT_ATTR = (
    "[\\s/]++[^\\s/>=<\"'&\\x00][^\\s/=><\"'&\\x00]*+"
    "(?:\\s*+=\\s*+" + _STRICT_VALUE + ")?+"
)
_STRICT_STAG = (
    "<(?![sS][cC][rR][iI][pP][tT]|[sS][tT][yY][lL][eE])"
    "[a-zA-Z][^\\t\\n\\r\\f />\\x00<\"'=&]*+(?:"
    + _STRICT_ATTR
    + ")*+[\\s/]*+>"
)
_STRICT_DOC = re.compile(
    "(?:[^<&\\x00]++|</[^><\"'&\\x00]*+>|" + _STRICT_STAG + ")*+"
)


def _ci(name: str) -> str:
    """Case-class expansion ('a' -> '[aA]') — measurably faster than
    re.IGNORECASE, which disables the engine's literal optimizations."""
    return "".join(
        "[%s%s]" % (c, c.upper()) if c.isalpha() else c for c in name
    )


# One findall match per link-bearing start tag of a strict document:
# (tag, name, "value", 'value', bare value, attribute region).
#   * A first-letter lookahead rejects the other tags before the name
#     alternation, which tries the overwhelmingly common 'a' first.
#   * The name must end where tagfind_tolerant ends it ([\t\n\r\f />]);
#     after '<a\xa0x' html.parser reads the tag 'a\xa0x', not 'a'.
#   * The first alternative is one name=value attribute, captured
#     inline; every other shape is captured whole as the region.
# An empty value reads like a missing one ('' in findall's tuples);
# base, meta and the tag table all drop both.
_STRICT_LINK_TAG = re.compile(
    "<(?=[%s])(" % "".join(c + c.upper() for c in sorted({n[0] for n in _LINK_TAGS}))
    + "|".join(_ci(n) for n in sorted(_LINK_TAGS, key=lambda n: (n != "a", n)))
    + ")(?=[\\t\\n\\r\\f />])(?:"
    "\\s++([^\\s/=><\"'&\\x00]++)\\s*+=\\s*+"
    "(?:\"([^\"<&\\x00]*+)\"|'([^'<&\\x00]*+)'|([^\\s><\"'=&\\x00]*+))"
    "|((?:" + _STRICT_ATTR + ")*+))[\\s/]*+>"
)


def _strict_scan_links(body: str, base: str) -> tuple[list[str], str]:
    """(links, base) for documents already validated by
    _STRICT_DOC.fullmatch, from one findall."""
    links: list[str] = []
    post_name = _POST_NAME.match
    for tag, name, dq, sq, bare, region in _STRICT_LINK_TAG.findall(body):
        tag = tag.lower()
        if name:
            value = dq or sq or bare
            names = _TAG_ATTRS.get(tag)  # None for base and meta
            if names:
                if value and name.lower() in names:
                    links.append(value)
                continue
            attrs = ((name.lower(), value),)
        else:
            attrs = _attrs(region, post_name(region).end(), len(region))
        base = _take(tag, attrs, links, base)
    return links, base


def extract_links(base_url: str, body: bytes | str) -> list[str]:
    """Absolutized outlinks of one HTML document, with '\\n\\r\\t'
    stripped from each link (warclinks.py:66). Parse errors swallow the
    document (warclinks.py:69-75, 106-107) and return []."""
    if isinstance(body, (bytes, bytearray)):
        try:
            body = bytes(body).decode("utf-8")
        except UnicodeDecodeError:
            body = bytes(body).decode("latin-1")
    try:
        collector = _LinkCollector(base_url)
        if _POST_NAME is not None and _STRICT_DOC.fullmatch(body) is not None:
            collector.links, collector.base = _strict_scan_links(
                body, base_url
            )
        else:
            collector.feed(body)
            collector.close()
        links = collector.abs_links()
    except Exception:
        return []
    # C-speed equivalent of "".join(c for c in link if c not in '\n\r\t');
    # the three `in` probes cost ~0.05us vs ~1us for translate() on the
    # (overwhelming) majority of links that contain no control chars
    return [
        link.translate(_CTL_STRIP)
        if ("\n" in link or "\r" in link or "\t" in link)
        else link
        for link in links
    ]


_CTL_STRIP = {ord("\n"): None, ord("\r"): None, ord("\t"): None}


def page_links(url: str | None, payload: bytes | None) -> list[str]:
    """Outlinks of one HTTP response payload behind warclinks' gates
    (warclinks.py:54-66): a 2xx response whose mime contains 'html'
    gives the links of its decoded body; any other response, or a
    null payload, gives []."""
    if payload is None:
        return []
    res = decode_http(payload)
    mime = res.mime or b""
    if 200 <= res.code < 300 and mime.find(b"html") > -1:
        return extract_links(url or "", res.decoded_body())
    return []
