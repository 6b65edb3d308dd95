"""Property-based tests (hypothesis): randomized WARC round-trips,
randomized HTTP payload differentials vs the reference, and
canonicalization invariants."""

import gzip
import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import reference_available
from warctools_spark.kernels.canon import canon_parts, canonicalize_url
from warctools_spark.kernels.http_decode import decode_http
from warctools_spark.kernels.warc_parse import parse_archive
from warctools_spark.kernels.warc_write import write_warc_record

header_name = st.text(
    alphabet=string.ascii_letters + "-", min_size=1, max_size=20
).map(lambda s: s.encode())
header_value = st.text(
    alphabet=string.ascii_letters + string.digits + " :/._<>@-", max_size=60
).map(lambda s: s.strip().encode())
body_bytes = st.binary(max_size=2000)

record_strategy = st.tuples(
    st.lists(st.tuples(header_name, header_value), min_size=1, max_size=8),
    st.sampled_from(
        [b"application/http;msgtype=response", b"text/plain", b"", None]
    ),
    body_bytes,
)


@settings(max_examples=150, deadline=None)
@given(st.lists(record_strategy, min_size=1, max_size=5), st.booleans())
def test_warc_write_parse_roundtrip(records, gz):
    """serialize(records) |> parse == records, for any headers/body,
    plain and per-record-gzip."""
    blobs = []
    expected = []
    for headers, ctype, body in records:
        # the writer drops supplied Content-Type/Length (exact-name
        # match) and re-derives them — mirror that in the expectation
        kept = [
            (k, v)
            for k, v in headers
            if k not in (b"Content-Type", b"Content-Length")
        ]
        blobs.append(
            write_warc_record(headers, ctype, body, gzip_record=gz)
        )
        expected.append((kept, ctype if ctype else None, body))
    data = b"".join(blobs)
    rows = parse_archive(data, fmt="warc")
    assert len(rows) == len(expected)
    for row, (kept, ctype, body) in zip(rows, expected):
        assert row.errors == []
        assert row.content == body
        assert row.content_length == len(body)
        if ctype:
            assert row.content_type == ctype
        # every kept header present with its value (order preserved,
        # plus the derived Content-Type/Length at the end)
        parsed_pairs = row.headers[: len(kept)]
        assert parsed_pairs == [(k, v) for k, v in kept]


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=400))
def test_parse_archive_never_raises(junk):
    """Arbitrary bytes: errors become rows, never exceptions."""
    rows = parse_archive(junk)
    for r in rows:
        assert isinstance(r.errors, list)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=400))
def test_decode_http_never_raises(junk):
    res = decode_http(junk)
    assert res.complete in (True, False)
    res.get_decoded_message()
    res.decoded_body()


status = st.integers(min_value=100, max_value=599)
hval = st.text(alphabet=string.ascii_letters + string.digits + " ;=/-", max_size=30)


@pytest.mark.skipif(not reference_available(), reason="reference not importable")
@settings(max_examples=120, deadline=None)
@given(
    status,
    st.lists(
        st.tuples(
            st.sampled_from(
                ["Content-Type", "X-Custom", "Server", "Content-Encoding"]
            ),
            hval,
        ),
        max_size=4,
    ),
    st.binary(max_size=300),
    st.sampled_from(["length", "chunked", "close", "gzip"]),
)
def test_http_differential_random(code, headers, body, framing):
    """Random well-formed-ish responses: our batch decode must agree
    with the reference push parser on complete/body/decoded output."""
    from hanzo.httptools.messaging import RequestMessage, ResponseMessage

    lines = [b"HTTP/1.1 %d SomePhrase" % code]
    for k, v in headers:
        lines.append(("%s: %s" % (k, v)).encode())
    if framing == "length":
        lines.append(b"Content-Length: %d" % len(body))
        payload = b"\r\n".join(lines) + b"\r\n\r\n" + body
    elif framing == "chunked":
        lines.append(b"Transfer-Encoding: chunked")
        chunked = b""
        for i in range(0, len(body), 77):
            c = body[i : i + 77]
            chunked += b"%x\r\n%s\r\n" % (len(c), c)
        chunked += b"0\r\n\r\n"
        payload = b"\r\n".join(lines) + b"\r\n\r\n" + chunked
    elif framing == "gzip":
        gz = gzip.compress(body, mtime=0)
        lines.append(b"Content-Encoding: gzip")
        lines.append(b"Content-Length: %d" % len(gz))
        payload = b"\r\n".join(lines) + b"\r\n\r\n" + gz
    else:
        payload = b"\r\n".join(lines) + b"\r\n\r\n" + body

    try:
        ref = ResponseMessage(RequestMessage())
        leftover = ref.feed(payload)
        ref.close()
    except Exception:
        decode_http(payload)  # must not raise where reference does
        return
    ours = decode_http(payload)
    assert ours.complete == ref.complete()
    assert ours.body == ref.get_body()
    if ref.complete():
        assert ours.get_decoded_message() == ref.get_decoded_message()


terminators = st.lists(
    st.sampled_from([b"\r\n", b"\n", b"\r"]), min_size=1, max_size=5
).map(b"".join).filter(lambda t: t.endswith((b"\n",)))


@pytest.mark.skipif(not reference_available(), reason="reference not importable")
@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.tuples(
                    st.sampled_from(
                        [b"WARC-Type", b"WARC-Record-ID", b"WARC-Target-URI", b"X-H"]
                    ),
                    st.text(
                        alphabet=string.ascii_letters + string.digits + ":/<>-.",
                        max_size=30,
                    ).map(lambda s: s.encode()),
                ),
                min_size=1,
                max_size=4,
            ),
            st.binary(max_size=500),
        ),
        min_size=1,
        max_size=4,
    ),
    terminators,
)
def test_warc_parse_differential_random(records, term):
    """Random WARC files (our writer + random inter-record
    terminators): our parser must agree with the reference parser on
    offsets, headers, types and content."""
    from io import BytesIO

    from hanzo import warctools

    blobs = []
    for headers, body in records:
        blobs.append(write_warc_record(headers, b"text/x", body))
    data = b"".join(b + term for b in blobs)

    fh = warctools.ArchiveRecord.open_archive(file_handle=BytesIO(data))
    ref_rows = []
    try:
        for offset, record, errors in fh.read_records(limit=None, offsets=True):
            if record is not None:
                ref_rows.append(
                    (offset, list(record.headers), record.content[1])
                )
    except Exception:
        parse_archive(data, fmt="warc")  # we must not raise
        return
    ours = [r for r in parse_archive(data, fmt="warc") if not r.errors or r.headers]
    assert len(ours) == len(ref_rows)
    for mine, (off, headers, content) in zip(ours, ref_rows):
        assert mine.offset == off
        assert mine.headers == headers
        assert mine.content == content


url_path = st.text(
    alphabet=string.ascii_lowercase + string.digits + "/._-", max_size=40
)


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["http", "https", "HTTP", "Https"]),
    st.text(alphabet=string.ascii_letters + string.digits + ".-", min_size=1, max_size=20),
    st.one_of(st.none(), st.integers(min_value=1, max_value=65535)),
    url_path,
    st.text(alphabet=string.ascii_lowercase + "=&", max_size=15),
)
def test_canonicalization_idempotent_and_consistent(scheme, host, port, path, query):
    url = "%s://%s%s/%s%s" % (
        scheme,
        host,
        ":%d" % port if port else "",
        path,
        "?" + query if query else "",
    )
    c = canonicalize_url(url)
    # idempotent
    assert canonicalize_url(c) == c
    # canon_parts agrees with the component functions
    from warctools_spark.kernels.canon import url_host, url_sha1

    assert canon_parts(url) == (c, url_sha1(url), url_host(url))
    # fragment-free, lowercase scheme+host
    assert "#" not in c


@given(
    st.lists(
        st.text(alphabet="0123456789abcdef", min_size=40, max_size=40),
        min_size=0,
        max_size=60,
    ),
    st.lists(
        st.text(alphabet="0123456789abcdef", min_size=40, max_size=40),
        min_size=1,
        max_size=40,
    ),
)
@settings(max_examples=60, deadline=None)
def test_bloom_probe_batch_equals_scalar(members, queries):
    """The vectorized bitset probe answers exactly like the scalar
    double-hash membership test, for any member/query mix."""
    import numpy as np

    from warctools_spark.operators.seen import _positions, _probe_batch

    m, k = 1 << 12, 5
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    for h in members:
        pos = _positions(h, k, m)
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    got = _probe_batch(bits, m, k, queries)
    for q, g in zip(queries, got):
        pos = _positions(q, k, m)
        want = bool(np.all((bits[pos >> 3] >> (pos & 7)) & 1))
        assert bool(g) == want


@given(
    st.lists(
        st.text(alphabet="0123456789abcdef", min_size=40, max_size=40),
        min_size=0,
        max_size=60,
    ),
    st.lists(
        st.text(alphabet="0123456789abcdef", min_size=40, max_size=40),
        min_size=1,
        max_size=40,
    ),
)
@settings(max_examples=60, deadline=None)
def test_cuckoo_contains_batch_equals_scalar(members, queries):
    from warctools_spark.operators.cuckoo import CuckooFilter

    flt = CuckooFilter.sized_for(max(len(members), 8))
    for h in sorted(set(members)):
        flt.insert(h)
    got = flt.contains_batch(queries)
    for q, g in zip(queries, got):
        assert bool(g) == flt.contains(q)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_segment_dedup_reconstruction_property(corpora):
    """Pure-kernel property (no Spark session needed): when every
    10-token window is globally unique, segment_dedup must be the
    identity; in general, surviving segments per doc are a prefix-
    order-preserving subset. Verified against an independent Python
    model of the keeper rule."""
    # python model of the operator
    docs = []
    for i, words in enumerate(corpora):
        docs.append((i, " ".join(words)))
    k = 10
    seen = {}
    expect = {}
    for doc_id, text in docs:
        toks = text.split() if text.strip() else []
        segs = [" ".join(toks[j : j + k]) for j in range(0, len(toks), k)]
        kept = []
        for pos, s in enumerate(segs):
            if s not in seen:
                seen[s] = (doc_id, pos)
            if seen[s] == (doc_id, pos):
                kept.append(s)
        expect[doc_id] = (" ".join(kept), len(segs), len(kept))
    # oracle-identical SQL replay through DuckDB (same engine the
    # driver gate uses) — keeps this hypothesis sweep session-free
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["segment_dedup"]
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(sql).fetchall()
    }
    assert got == expect


# ---------------------------------------------------------------
# round-3 operator properties (pure-Python replays of the Catalyst
# expressions, checked against the Spark output on sampled corpora)
# ---------------------------------------------------------------

words_strategy = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=3), min_size=0, max_size=40
)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(words_strategy, min_size=1, max_size=6),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
)
def test_chunk_documents_covers_every_token(spark, corpora, window, stride):
    from warctools_spark.operators.text_analysis import chunk_documents

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpora)],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, window=window, stride=stride).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, ws in enumerate(corpora):
        chunks = by_doc.get(i, [])
        if not ws:
            assert chunks == []
            continue
        covered = set()
        for r in chunks:
            # chunk text really is the slice it claims to be
            assert r["chunk"] == " ".join(
                ws[r["tok_start"]:r["tok_start"] + r["n_tokens"]]
            )
            assert 1 <= r["n_tokens"] <= window
            covered.update(range(r["tok_start"], r["tok_start"] + r["n_tokens"]))
        if stride <= window:
            # overlapping/adjacent regime: full coverage guaranteed
            assert covered == set(range(len(ws)))
        else:
            # subsampling regime: one chunk per start, gaps allowed
            assert all(
                s in covered for s in range(0, len(ws), stride)
            )


@settings(max_examples=20, deadline=None)
@given(st.lists(words_strategy, min_size=1, max_size=5))
def test_inverted_index_counts_consistent(spark, corpora):
    from warctools_spark.operators.text_analysis import inverted_index

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpora)],
        "doc_id long, text string",
    )
    rows = inverted_index(docs).collect()
    # total postings equals total (non-empty) tokens
    assert sum(r["n_postings"] for r in rows) == sum(
        len(ws) for ws in corpora
    )
    for r in rows:
        postings = r["postings"].split(",") if r["postings"] else []
        assert len(postings) == r["n_postings"]
        # posting list is sorted by (doc, pos) and df matches it
        parsed = [tuple(map(int, p.split(":"))) for p in postings]
        assert parsed == sorted(parsed)
        assert len({d for d, _ in parsed}) == r["df"]
        # every posting points at the right token
        for d, p in parsed:
            assert corpora[d][p] == r["term"]


@settings(max_examples=15, deadline=None)
@given(
    # a two-word vocabulary, so that 10-grams repeat within and
    # across documents
    st.lists(st.lists(st.sampled_from(["a", "b"]), max_size=40),
             min_size=1, max_size=4),
)
def test_duplicate_spans_are_disjoint_and_in_bounds(spark, corpora):
    from warctools_spark.operators.dedup import duplicate_spans

    k = 10  # duplicate_spans flags runs of duplicated 10-grams
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpora)],
        "doc_id long, text string",
    )
    rows = duplicate_spans(docs, min_span_tokens=k).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    for i, spans in by_doc.items():
        n = len(corpora[i])
        spans.sort()
        prev_end = -1
        for s, e in spans:
            assert 0 <= s < e <= n
            assert s > prev_end  # merged spans never overlap or touch
            prev_end = e
        # every flagged span's leading k-gram has a STRICTLY earlier
        # occurrence (smaller (doc, pos) — overlapping same-doc
        # occurrences count, e.g. eleven 'a's: pos 1 duplicates pos 0
        # even though the windows overlap)
        for s, e in spans:
            gram = corpora[i][s:s + k]
            found_earlier = any(
                ws[p:p + k] == gram
                for j, ws in enumerate(corpora[:i + 1])
                for p in range(
                    (len(ws) - k + 1) if j < i else s
                )
            )
            assert found_earlier


@settings(max_examples=15, deadline=None)
@given(
    # beyond [a-d ]: digits, punctuation and non-ASCII codepoints
    # exercise substr/md5 codepoint parity between Spark and the
    # python reference
    st.text(alphabet="abcd19.,-éß界 ", min_size=12, max_size=60),
    st.text(alphabet="abcd19.,-éß界 ", min_size=0, max_size=20),
    st.text(alphabet="abcd19.,-éß界 ", min_size=0, max_size=20),
)
def test_winnowing_shared_substring_guarantee(spark, shared, pre, post):
    """The winnowing guarantee (Schleimer et al. 2003, theorem 1):
    two documents sharing a substring of length >= k + w - 1 share at
    least one selected fingerprint. Construct doc B by wrapping doc
    A's text in arbitrary prefix/suffix; after normalization the
    shared run must still produce an overlapping fingerprint."""
    from warctools_spark.operators.text_analysis import (
        normalize,
        winnow_fingerprints,
    )
    import re

    k, w = 8, 4  # winnow_fingerprints' k-gram and window sizes
    norm_shared = re.sub(r"\s+", " ", shared.lower()).strip()
    if len(norm_shared) < k + w - 1:
        return  # guarantee only applies at k+w-1 chars
    a = shared
    b = pre + " " + shared + " " + post
    docs = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id long, text string"
    )
    rows = winnow_fingerprints(docs).collect()
    f0 = {r["fingerprint"] for r in rows if r["doc_id"] == 0}
    f1 = {r["fingerprint"] for r in rows if r["doc_id"] == 1}
    assert f0 & f1, (a, b)


@settings(max_examples=20, deadline=None)
@given(st.lists(words_strategy, min_size=1, max_size=5))
def test_bpe_pair_counts_equal_python_reference(spark, corpora):
    """Pair counts must equal a direct python count of adjacent char
    pairs inside words (>=2 chars), at any corpus shape."""
    from collections import Counter

    from warctools_spark.operators.text_analysis import bpe_pair_counts

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpora)],
        "doc_id long, text string",
    )
    # five letters make at most 25 pairs, inside the top 200
    got = {r["pair"]: r["n"] for r in bpe_pair_counts(docs).collect()}
    ref = Counter()
    for ws in corpora:
        for w in ws:
            for i in range(len(w) - 1):
                ref[w[i:i + 2]] += 1
    assert got == dict(ref)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9),
                min_size=1, max_size=50, unique=True))
def test_split_assign_stable_under_id_subsets(spark, ids):
    """A doc's split depends only on its id (and seed): any subset of
    the corpus assigns identically — adding/removing other docs can
    never move a doc between train and test."""
    from warctools_spark.operators.sampling import split_assign

    full = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    half = spark.createDataFrame(
        [(i,) for i in ids[: max(len(ids) // 2, 1)]], "doc_id long"
    )
    a = {r["doc_id"]: r["split"] for r in split_assign(full).collect()}
    b = {r["doc_id"]: r["split"] for r in split_assign(half).collect()}
    assert all(a[k] == v for k, v in b.items())
