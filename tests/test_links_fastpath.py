"""extract_links, whose strict scan tier takes every document its
grammar accepts, must be byte-identical to the HTMLParser path —
differential over the test fixtures, the whole synthetic corpus, and
randomized documents."""

import random

import pytest

from warctools_spark.kernels import links as L


def via_htmlparser(base, body):
    if isinstance(body, (bytes, bytearray)):
        body = bytes(body).decode("utf-8")
    c = L._LinkCollector(base)
    c.feed(body)
    c.close()
    return [x.translate(L._CTL_STRIP) for x in c.abs_links()]


CASES = [
    b'<a href="a.html">x</a>',
    b'<html><head><base href="http://cdn.example/as/"><img src="l.png"></head></html>',
    b'<meta http-equiv="refresh" content="0;url=http://n.example/p">',
    b'<a href=unquoted>x</a><a href=\'single\'>y</a>',
    b'<a href="a.html" class="b" data-x>z</a>',
    b'<img src="i.png"/><br/><a href="b.html">w</a>',
    b'<A HREF="UPPER.html">u</A>',
    b'<a href="x.html" href="y.html">dup attr</a>',
    b'<form action="/go"><input src="btn.png"></form>',
    b'<td background="bg.gif">t</td>',
    b'<a\nhref="multi\nline.html">m</a>',
    b'<a href="">empty</a>',
    b'<a href>no value</a>',
    b'text only no tags at all',
    b'',
    b'<a href="q.html?x=1&y=2">entity-ish</a>',  # & -> HTMLParser tier
    b'<!-- <a href="comment.html">c</a> --><a href="real.html">r</a>',
    b'<script>var a = \'<a href="inscript.html">\'</script><a href="out.html">o</a>',
    b'<a href="3.html"><3</a>',  # '<' as text -> HTMLParser tier
    b'<a href="gt>.html">g</a>',  # '>' inside quoted attr
    b'<div><p><a href = "spaced.html" >s</a></p></div>',
]


@pytest.mark.parametrize("body", CASES, ids=range(len(CASES)))
def test_fast_path_equals_htmlparser(body):
    base = "http://example.org/dir/page.html"
    assert L.extract_links(base, body) == via_htmlparser(base, body)


def test_fast_path_over_synthetic_corpus():
    """Every page of the synthetic corpus (the bench/crawl input)."""
    from warctools_spark.sources.pages import html_doc

    base = "http://example.org/"
    for doc_id in range(0, 400, 7):
        body = html_doc(doc_id, "word " * 50, 500)
        assert L.extract_links(base, body) == via_htmlparser(base, body)


def test_fast_path_randomized():
    rng = random.Random(42)
    tags = ["a", "img", "form", "link", "div", "base", "meta", "frame"]
    attrs = ["href", "src", "action", "content", "class", "lowsrc"]
    for _ in range(300):
        parts = []
        for _ in range(rng.randint(1, 12)):
            t = rng.choice(tags)
            n_attr = rng.randint(0, 3)
            a = " ".join(
                '%s="%s"' % (rng.choice(attrs), "v%d.html" % rng.randint(0, 9))
                for _ in range(n_attr)
            )
            style = rng.random()
            if style < 0.2:
                parts.append("<%s %s/>" % (t, a))
            elif style < 0.4:
                parts.append("<%s %s>text</%s>" % (t, a, t))
            else:
                parts.append("<%s %s>" % (t, a))
        body = "".join(parts)
        base = "http://h%d.example/d/p.html" % rng.randint(0, 5)
        assert L.extract_links(base, body) == via_htmlparser(base, body), body


def test_fast_path_randomized_messy():
    """Messier generator: unquoted/single-quoted values, stray
    slashes, tabs/newlines inside tags, valueless attrs, mixed case,
    self-closing — anything the tolerant grammar accepts must
    tokenize identically; anything else goes through HTMLParser (also
    identical by construction)."""
    rng = random.Random(7)
    tags = ["a", "A", "img", "form", "link", "div", "base", "meta",
            "frame", "td", "object", "iNpUt"]
    names = ["href", "HREF", "src", "action", "content", "data-x",
             "background", "lowsrc", "code"]
    for _ in range(500):
        parts = []
        for _ in range(rng.randint(1, 10)):
            t = rng.choice(tags)
            attrs = []
            for _ in range(rng.randint(0, 4)):
                n = rng.choice(names)
                style = rng.random()
                v = "v%d.html" % rng.randint(0, 9)
                if style < 0.2:
                    attrs.append(n)  # valueless
                elif style < 0.4:
                    attrs.append("%s=%s" % (n, v))  # bare
                elif style < 0.6:
                    attrs.append("%s='%s'" % (n, v))
                else:
                    attrs.append('%s="%s"' % (n, v))
            sep = rng.choice([" ", "  ", "\t", "\n", " / "])
            inner = sep.join([t] + attrs)
            close = rng.choice([">", "/>", " >", " />"])
            parts.append("<" + inner + close)
            if rng.random() < 0.3:
                parts.append("plain text %d" % rng.randint(0, 99))
            if rng.random() < 0.2:
                parts.append("</%s>" % t)
        body = "".join(parts)
        base = "http://m%d.example/a/b/c.html" % rng.randint(0, 3)
        assert L.extract_links(base, body) == via_htmlparser(base, body), body
