"""Link extraction + URL canonicalization kernel tests.

The link extractor clones the reference's fallback LinkParser
(warclinks.py:110-199): tag/attr table, <base href> override,
<meta content=";url="> extraction, relative-URL resolution with the
'../'/'./' squash loop, and the per-link '\\n\\r\\t' strip
(warclinks.py:66).
"""

import hashlib

from warctools_spark.kernels.canon import canonicalize_url, url_host, url_sha1
from warctools_spark.kernels.links import extract_links


BASE = "http://example.org/dir/page.html"


def test_tag_table_coverage():
    html = b"""
    <html><body>
    <a href="a.html">a</a>
    <img src="i.png" lowsrc="i-low.png">
    <form action="/submit"></form>
    <frame src="f.html"></frame>
    <iframe src="if.html"></iframe>
    <script src="s.js"></script>
    <link href="style.css">
    <object data="o.swf"></object>
    <table background="bg.gif"><td background="td.gif"></td></table>
    <input src="btn.png">
    <embed href="e1" src="e2">
    <area href="map.html">
    <body background="body.gif">
    </body></html>
    """
    links = extract_links(BASE, html)
    assert "http://example.org/dir/a.html" in links
    assert "http://example.org/dir/i.png" in links
    assert "http://example.org/dir/i-low.png" in links
    assert "http://example.org/submit" in links
    assert "http://example.org/dir/f.html" in links
    assert "http://example.org/dir/if.html" in links
    assert "http://example.org/dir/s.js" in links
    assert "http://example.org/dir/style.css" in links
    assert "http://example.org/dir/o.swf" in links
    assert "http://example.org/dir/bg.gif" in links
    assert "http://example.org/dir/td.gif" in links
    assert "http://example.org/dir/btn.png" in links
    assert "http://example.org/dir/e1" in links
    assert "http://example.org/dir/e2" in links
    assert "http://example.org/dir/map.html" in links
    assert "http://example.org/dir/body.gif" in links


def test_absolute_links_pass_through():
    links = extract_links(BASE, b'<a href="https://other.example/x">x</a>')
    assert links == ["https://other.example/x"]


def test_relative_resolution_dotdot():
    # warclinks.py:177-191 — leading ../ pops a dir, ./ stripped
    links = extract_links(BASE, b'<a href="../up.html">u</a><a href="./same.html">s</a>')
    assert links == ["http://example.org/up.html", "http://example.org/dir/same.html"]


def test_root_relative():
    links = extract_links(BASE, b'<a href="/rooted.html?q=1#frag">r</a>')
    # fragment dropped by the (None,) fragment slot (warclinks.py:178)
    assert links == ["http://example.org/rooted.html?q=1"]


def test_base_href_override():
    html = b'<base href="http://cdn.example/assets/"><img src="logo.png">'
    links = extract_links(BASE, html)
    assert links == ["http://cdn.example/assets/logo.png"]


def test_meta_url_extraction():
    html = b'<meta http-equiv="refresh" content="0;url=http://next.example/page">'
    links = extract_links(BASE, html)
    assert links == ["http://next.example/page"]


def test_control_chars_stripped():
    html = b'<a href="http://example.org/a\nb\tc\rd">x</a>'
    links = extract_links(BASE, html)
    assert links == ["http://example.org/abcd"]


def test_broken_html_returns_what_it_can():
    assert extract_links(BASE, b"<a href=") == []
    assert extract_links(BASE, b"") == []


# Start-tag shapes the strict tier's single findall treats specially,
# plus plain text, other tags, and constructs that send a document to
# a lower tier (entities, comments, script, '<' inside a quoted value).
_SCAN_FRAGMENTS = [
    # empty values read like missing ones
    '<a href="">', "<a href=''>", "<a href=>", "<a href= >", "<a href>",
    '<base href="">', "<base href=''>", "<base href=>",
    # unquoted values ending in '/'
    "<a href=x{}/>", "<a href=x{}/ >", "<img src=i{}/>", '<a href="q{}"/>',
    # a '/' between the name and the attributes
    "<a / href=y{}>", "<a/href=z{}>", "<img/src=s{}>",
    # several attributes, repeated ones, and attributes outside the table
    "<img lowsrc=a{} src=b{} href=c{}>", "<embed src=e{} href=f{}/>",
    "<object data=o{} data=p{}>", '<a href="a{}" class="b">',
    '<a class="b" href="a{}">', "<a href=h{} href=k{}>", "<a name=n{}>",
    # meta content with two url=, and upper-case meta
    '<meta content="0;url=m{};url=n{}">', '<META CONTENT="5;URL=u{}">',
    "<meta http-equiv=refresh content='0;url=r{}'>", '<meta content="">',
    # newline and tab inside quoted values, whitespace around '='
    '<a href="n\nl{}">', '<a href="t\tb{}">', "<img src='x\ty{}'>",
    '<a href = "s{}.html" >', "<a  href\t=\tmix{}.html >", "<a\nhref=nl{}>",
    # upper- and mixed-case names
    "<A HREF=U{}.HTM>", '<IMG SRC="I{}.PNG">', '<Base Href="http://B{}.ex/d/">',
    "<AREA HREF=ar{}>",
    # base overrides, relative and absolute targets
    '<base href="http://b{}.ex/d/">', "<base href=../r{}/>",
    "<a href=../up{}.html>", "<a href=./d{}>", "<a href=/root{}>",
    '<a href="http://ex{}.com/p">', "<a href=?q={}>",
    # every other tag of the table
    "<applet code=c{}>", "<bgsound src=s{}>", "<body background=bk{}>",
    "<fig src=fg{}>", '<form action="/f{}">', "<frame src=fr{}>",
    "<iframe src=if{}>", "<input src=btn{}.png>", "<link href=l{}.css>",
    "<layer src=ly{}>", "<overlay src=ov{}>", "<table background=t{}>",
    "<td background=bg{}.gif>", "<th background=th{}>",
    # names that only start like a link tag, or end at non-ASCII space
    "<abbr title=x{}>", "<tdx background=no{}>", "<a\xa0x href=w{}>",
    "<a\x0bb href=v{}>", "<a \xa0href=sp{}>", "<imgx src=no{}>",
    # text, other tags, end tags
    "text{} ", "<div class=c{}>", "</div>", "<p>", "</a>", "<br/>", "\n",
    # constructs the strict grammar rejects
    "&amp;", "<!-- c{} -->", "<script>var x=1</script>",
    '<a title="<a href=no{}>">', '<a href="g>t{}">', "< notag>", "<3",
    # values with file extensions, quoted and single-quoted values
    '<a href="x{}.html">', "<img src=i{}.png/>", "<div class='c{}'>",
    '<base href="http://b{}.ex/">', '<meta content="0;url=m{}.html">',
    "<a href='q{}'>", "<AREA HREF=ar{}.htm>", "<object data=o{}.bin>",
    '<a href="a" class="b">', "<a href=v{} lowsrc=w{}>", "<a\nhref=n{}.h>",
    # malformed attributes and end tags, and comments without a digit
    "<p a==b>", "</a&b>", '<a href=x{}.html"extra>', "<!-- c -->",
    '<a title="<a href=no{}.html>">', '<a href="g>t{}.html">',
]


def _html_parser_links(base, body):
    from warctools_spark.kernels.links import _CTL_STRIP, _LinkCollector

    c = _LinkCollector(base)
    c.feed(body)
    c.close()
    return [x.translate(_CTL_STRIP) for x in c.abs_links()]


def test_extract_links_differential_vs_html_parser():
    """extract_links equals the HTMLParser collector (feed + abs_links
    + control-character strip) on 20,000 seeded documents; on those the
    strict tier accepts, its single findall pass also yields the
    collector's raw links and base."""
    import random

    from warctools_spark.kernels import links as L

    rng = random.Random(20261019)
    base = "http://h.example/d/p.html"
    strict = 0
    for _ in range(20000):
        body = "".join(
            rng.choice(_SCAN_FRAGMENTS).format(*(rng.randint(0, 99) for _ in "abc"))
            for _ in range(rng.randint(1, 12))
        )
        assert extract_links(base, body) == _html_parser_links(base, body), repr(body)
        if L._STRICT_DOC.fullmatch(body) is not None:
            strict += 1
            c = L._LinkCollector(base)
            c.feed(body)
            c.close()
            assert L._strict_scan_links(body, base) == (c.links, c.base), repr(body)
    assert strict > 5000  # the single pass is what most documents exercise


def test_canonicalize():
    assert canonicalize_url("HTTP://Example.ORG:80/a/b") == "http://example.org/a/b"
    assert canonicalize_url("https://example.org:443/") == "https://example.org/"
    assert canonicalize_url("http://example.org:8080/x") == "http://example.org:8080/x"
    assert canonicalize_url("http://example.org/a/../b") == "http://example.org/b"
    assert canonicalize_url("http://example.org/a/./b") == "http://example.org/a/b"
    assert canonicalize_url("http://example.org/a#frag") == "http://example.org/a"
    assert canonicalize_url("http://example.org") == "http://example.org/"
    assert (
        canonicalize_url("http://example.org/p?q=1#f") == "http://example.org/p?q=1"
    )
    # trailing slash preserved
    assert canonicalize_url("http://example.org/d/") == "http://example.org/d/"


def test_url_sha1_stable():
    c = canonicalize_url("HTTP://Example.org:80/x")
    assert url_sha1("http://example.org/x") == hashlib.sha1(c.encode()).hexdigest()
    # equivalent spellings collapse to one seen key
    assert url_sha1("HTTP://EXAMPLE.ORG:80/a/../x") == url_sha1("http://example.org/x")


def test_canon_parts_equals_components():
    from warctools_spark.kernels.canon import canon_parts

    urls = [
        "HTTP://Example.ORG:80/a/../b?q=1#f",
        "https://example.org:443/",
        "http://example.org:8080/x",
        "http://example.org",
        "not a url",
        "http://h/p/./q",
        "ftp://odd.example/x",
        "http://a.com ",
        "http://a.com\x0c",
    ]
    for u in urls:
        assert canon_parts(u) == (canonicalize_url(u), url_sha1(u), url_host(u)), u


def test_url_host():
    assert url_host("http://WWW.Example.Org:8080/p") == "www.example.org"
    assert url_host("not a url") == ""


# ---------------------------------------------------------------
# lxml-path conformance fixtures (r03 brief #6)
# ---------------------------------------------------------------

import json
import pathlib

import pytest

_FIXTURES = json.loads(
    (pathlib.Path(__file__).parent / "fixtures" / "lxml_links_fixtures.json")
    .read_text()
)


def _case_ids():
    return [c["name"] for c in _FIXTURES["cases"]]


@pytest.mark.parametrize(
    "case", _FIXTURES["cases"], ids=_case_ids()
)
def test_fallback_matches_pinned_output(case):
    """Our kernel must keep producing exactly the pinned fallback-path
    output for every conformance case — drift in either direction
    (silently gaining or losing links) changes reference parity."""
    from warctools_spark.kernels.links import extract_links

    got = sorted(set(extract_links(_FIXTURES["base"], case["html"])))
    assert got == sorted(set(case["fallback_links"])), case["name"]


def test_divergence_classes_enumerated():
    """Every case where the pinned lxml output differs from ours must
    carry an explicit divergence note (and vice versa) — the known
    lxml-vs-fallback deltas are documented data, not surprises."""
    for case in _FIXTURES["cases"]:
        differs = sorted(set(case["lxml_links"])) != sorted(
            set(case["fallback_links"])
        )
        assert differs == (case["divergence"] is not None), case["name"]


def test_lxml_fixtures_match_real_lxml():
    """Where a real lxml exists, re-derive the pinned lxml_links from
    it (the reference's preferred path, warclinks.py:79-95) — this is
    the off-container generation step made executable. Skipped in
    containers without lxml (like this one)."""
    lxml_html = pytest.importorskip("lxml.html")

    for case in _FIXTURES["cases"]:
        doc = lxml_html.fromstring(case["html"])
        doc.make_links_absolute(_FIXTURES["base"])
        got = sorted(
            {
                link if isinstance(link, str) else link.decode()
                for _el, _attr, link, _pos in doc.iterlinks()
            }
        )
        assert got == sorted(set(case["lxml_links"])), case["name"]


def test_page_links_equals_simulator_harvest():
    """page_links, the one gate of the harvest and the extract_links
    UDF, equals the parity oracle's own copy (simulator.harvest): on
    the four wire variants of the synthetic pages (plain, gzip,
    chunked, chunked + gzip), a 404, a non-html 200 and an
    HTTP/0.9-shaped payload; a null payload gives no links."""
    from warctools_spark.kernels.links import page_links
    from warctools_spark.plans.simulator import harvest
    from warctools_spark.sources.pages import html_doc, http_response, url_for

    doc = html_doc(3, "some words " * 10, 500)
    cases = [(url_for(i), http_response(i, doc)) for i in range(4)]
    cases += [
        (url_for(4), b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n"
         b"Content-Length: 25\r\n\r\n<a href=\"gone.html\">x</a>"),
        (url_for(5), b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
         b"Content-Length: 25\r\n\r\n<a href=\"text.html\">x</a>"),
        (url_for(6), b'<html><a href="ancient.html">0.9</a></html>'),
    ]
    for url, payload in cases:
        assert page_links(url, payload) == harvest(url, payload), payload[:40]
    assert [len(page_links(u, p)) for u, p in cases] == [8, 8, 8, 8, 0, 0, 0]
    assert page_links(url_for(7), None) == []
