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


# ---- fast-path start-tag scanner ----
#
# HTMLParser's pure-python goahead loop dominates harvest cost
# (~60% of the frontier epoch). For documents containing none of the
# constructs that make HTML parsing stateful (entities, comments,
# declarations, processing instructions, script/style rawtext), start
# tags can be scanned directly — using html.parser's OWN tolerant
# regexes (tagfind_tolerant / locatestarttagend_tolerant /
# attrfind_tolerant), so tag+attribute tokenization is bit-identical.
# Any risky byte, or any tag the regexes don't fully consume, falls
# back to the real HTMLParser for the whole document.
# Equality is pinned by tests/test_links_canon.py::test_fast_path_*.

import html.parser as _hp

_RISKY = re.compile(r"&|<!|<\?|<\s|<script|<style|\x00", re.IGNORECASE)


# tags whose attributes can produce links (plus base/meta specials) —
# attribute tokenization is skipped for every other tag, which is
# semantics-preserving because the position advance depends only on
# locatestarttagend and handle_starttag ignores non-table tags anyway
_LINK_TAGS = frozenset(_TAG_ATTRS) | {"base", "meta"}

# locatestarttagend_tolerant with a capture group added around the tag
# name, derived FROM the stdlib's private patterns at import — one
# C-regex call yields both the tag end and the name, replacing the
# separate tagfind match per tag. These are PRIVATE html.parser
# internals: if a CPython version reshapes them, we must NOT take the
# whole module down — we just lose the fast path and every document
# goes through the real HTMLParser (identical results, slower).
try:
    _NAME_TXT = _hp.tagfind_tolerant.pattern[1:].split(")")[0]
    if "<" + _NAME_TXT not in _hp.locatestarttagend_tolerant.pattern:
        raise ValueError("stdlib html.parser pattern shape changed")
    _TAG_END_NAMED = re.compile(
        _hp.locatestarttagend_tolerant.pattern.replace(
            "<" + _NAME_TXT, "<(" + _NAME_TXT + ")", 1
        ),
        _hp.locatestarttagend_tolerant.flags,
    )
    # tagfind_tolerant's trailing skip, applied after the name to
    # position the attr loop exactly where tagfind.end() used to
    _POST_NAME = re.compile(_hp.tagfind_tolerant.pattern.split(")", 1)[1])
    FAST_SCAN_AVAILABLE = True
except Exception:  # pragma: no cover - depends on stdlib internals
    _TAG_END_NAMED = None
    _POST_NAME = None
    FAST_SCAN_AVAILABLE = False


def _fast_scan_links(body: str, base: str) -> tuple[list[str], str]:
    """(links, base) exactly as _LinkCollector.feed would produce, or
    raise _FallBack if anything is not plainly understood.

    Tokenization uses html.parser's OWN tolerant regexes, so accepted
    documents tokenize bit-identically; attrs are only parsed for the
    ~20 link-bearing tags."""
    pos = 0
    links: list[str] = []
    find = body.find
    tag_end = _TAG_END_NAMED.match
    post_name = _POST_NAME.match
    while True:
        lt = find("<", pos)
        if lt < 0:
            return links, base
        nxt = body[lt + 1 : lt + 2]
        if nxt == "/":
            gt = find(">", lt)
            if gt < 0:
                return links, base  # eof in tag: HTMLParser drops it
            pos = gt + 1
            continue
        if not nxt.isalpha():
            raise _FallBack()
        m = tag_end(body, lt)
        if not m:
            raise _FallBack()
        endpos = m.end()
        if body[endpos : endpos + 1] != ">" and body[endpos : endpos + 2] != "/>":
            # ill-formed start tag -> HTMLParser's recovery quirks
            raise _FallBack()
        tag = m.group(1).lower()
        if tag in _LINK_TAGS:
            k = post_name(body, m.end(1)).end()
            base = _take(tag, _attrs(body, k, endpos), links, base)
        pos = endpos + (1 if body[endpos : endpos + 1] == ">" else 2)


class _FallBack(Exception):
    pass


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


# ---- strict whole-document scanner ----
#
# One tier above _fast_scan_links: when the ENTIRE document matches a
# conservative tiling grammar — text, end tags, and start tags whose
# quotes appear only as '='-prefixed balanced values with no '<'
# inside — tokenization is position-free: every '<' begins exactly one
# tag, every tag ends at its first unquoted '>', and html.parser's
# tolerant tokenizer provably consumes the same spans. Then link
# extraction needs just TWO C-level regex passes: the validating
# fullmatch and one findall over the link-bearing tags, whose match
# already holds the attribute of the common one-attribute tag. Only a
# tag with another attribute shape goes through the stdlib's own
# attrfind_tolerant in Python, so attr semantics are bit-identical.
# Documents rejected by the strict grammar fall through to
# _fast_scan_links unchanged (conservative: rejection can never change
# results, only speed).
#
# Grammar notes (each restriction maps to a tokenizer-divergence risk):
#   * quoted values only directly after '=' — a bare quote in the attr
#     area makes attrfind_tolerant treat it as an attr NAME and stop
#     at the next '>', splitting the tag differently;
#   * no '<' inside quoted values / end tags — keeps every '<' a real
#     tag start so the finditer cannot match inside another tag;
#   * names/bare values exclude quotes, '<', '=' — boundary ambiguity;
#   * no '&'/NUL anywhere and no script/style/'<!'/'<?' tags — the
#     _RISKY constructs — so one fullmatch subsumes the risky gate
#     (entity unescape stays identity, no rawtext/CDATA modes);
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
        # tier order: strict fullmatch implies risky-free, so accepted
        # documents pay ONE validating scan; rejected ones fall through
        # to the per-tag scanner behind the original _RISKY gate
        if FAST_SCAN_AVAILABLE and _STRICT_DOC.fullmatch(body) is not None:
            collector.links, collector.base = _strict_scan_links(
                body, base_url
            )
        elif FAST_SCAN_AVAILABLE and _RISKY.search(body) is None:
            try:
                collector.links, collector.base = _fast_scan_links(
                    body, base_url
                )
            except _FallBack:
                collector = _LinkCollector(base_url)
                collector.feed(body)
                collector.close()
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
