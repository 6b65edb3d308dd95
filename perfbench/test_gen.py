"""Tests of the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py -q

Run from the repository root (the identity-layout test imports the
program's sources.pages).
"""

import pandas as pd

import gen


def test_identity_layout_reproduces_pages_pdf():
    from warctools_spark.sources.pages import pages_pdf

    docs = gen.make_documents(0, 400)
    want = pages_pdf(
        pd.DataFrame(docs, columns=["doc_id", "text", "lang"]), len(docs)
    )
    got = gen.identity_pages(docs)
    assert len(got) == len(want)
    for p, (url, ts, html, text, lang) in zip(got, want.itertuples(index=False)):
        assert (p.url, p.html, p.text, p.lang) == (url, html, text, lang)
        assert p.warc_ts == ts.to_pydatetime()


def _frontier_inputs(seed):
    model = gen.make_link_model(seed, 3000, 200, 50)
    pages = gen.zipf_pages(model, gen.make_documents(seed, 50))
    return model, pages


def test_same_seed_same_bytes():
    a, b, c = _frontier_inputs(7), _frontier_inputs(7), _frontier_inputs(8)
    assert [p.html for p in a[1]] == [p.html for p in b[1]]
    assert [p.html for p in a[1]] != [p.html for p in c[1]]
    wa, wb = gen.make_warc(7, a[1], 4), gen.make_warc(7, b[1], 4)
    assert wa.files == wb.files and wa.malformed_ids == wb.malformed_ids


def test_hrefs_canonicalize_to_the_model():
    from warctools_spark.kernels.canon import canonicalize_url
    from warctools_spark.kernels.http_decode import decode_http
    from warctools_spark.kernels.links import extract_links

    model, pages = _frontier_inputs(3)
    for p, page in enumerate(pages):
        body = decode_http(page.html, kind="response").decoded_body()
        assert body.decode("utf-8") == page.text
        got = [canonicalize_url(u) for u in extract_links(page.url, body)]
        assert got == [model.url(u) for u in model.targets[p]]


def test_hot_host_share():
    model = gen.make_link_model(0, 20_000, 10, 1000)
    hot = sum(1 for h in model.host_of if h == 0) / model.n_urls
    assert 0.27 < hot < 0.33
