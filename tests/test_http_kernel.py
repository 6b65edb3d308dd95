"""Differential tests: our batch HTTP decode kernel vs the reference
push parser (hanzo.httptools.messaging), fed the whole payload at once
— the only call pattern the reference CLI operators use
(warc2warc.py:48, warcfilter.py:31-33, warclinks.py:35-36).

Also re-expresses the reference's own test suite
(hanzo/httptools/tests/parse_test.py) against the kernel. Only the tests
that call the reference parser skip without the reference tree; the
checks against literal expectations always run.
"""

import gzip
import io
import zlib

import pytest

from tests.conftest import reference_available
from warctools_spark.kernels.http_decode import decode_http, parse_http_response

needs_reference = pytest.mark.skipif(
    not reference_available(), reason="reference tree not importable"
)


def ref_response(payload: bytes, ignore_headers=()):
    from hanzo.httptools.messaging import RequestMessage, ResponseMessage

    m = ResponseMessage(RequestMessage(), ignore_headers=ignore_headers)
    leftover = m.feed(payload)
    m.close()
    return m, leftover


def ref_request(payload: bytes, ignore_headers=()):
    from hanzo.httptools.messaging import RequestMessage

    m = RequestMessage(ignore_headers=ignore_headers)
    leftover = m.feed(payload)
    m.close()
    return m, leftover


def assert_response_parity(payload: bytes, ignore_headers=()):
    try:
        ref, ref_left = ref_response(payload, ignore_headers)
    except Exception:
        # the reference parser crashes on this input (e.g. EOFError on a
        # truncated gzip slice); our engine contract is errors-as-data:
        # the kernel must decode without raising
        ours = decode_http(payload, kind="response", ignore_headers=ignore_headers)
        return ours, None
    ours = decode_http(payload, kind="response", ignore_headers=ignore_headers)
    assert ours.complete == ref.complete(), payload[:80]
    assert ours.body == ref.get_body(), payload[:80]
    if ref.complete():
        assert ours.code == ref.header.code
        assert ours.get_decoded_message() == ref.get_decoded_message(), payload[:80]
    assert (ours.leftover or b"") == (bytes(ref_left) if ref_left else b"")
    return ours, ref


def assert_request_parity(payload: bytes, ignore_headers=()):
    ref, ref_left = ref_request(payload, ignore_headers)
    ours = decode_http(payload, kind="request", ignore_headers=ignore_headers)
    assert ours.complete == ref.complete(), payload[:80]
    assert ours.body == ref.get_body(), payload[:80]
    if ref.complete():
        assert ours.get_decoded_message() == ref.get_decoded_message(), payload[:80]
    return ours, ref


# ---- fixtures equivalent to the reference's own test corpus ----

GET_REQUEST = b"\r\n".join(
    [b"GET / HTTP/1.1", b"Host: example.org", b"", b""]
)
GET_RESPONSE = b"\r\n".join(
    [b"HTTP/1.1 200 OK", b"Host: example.org", b"Content-Length: 5", b"", b"tests"]
)
HEAD_RESPONSE = b"\r\n".join(
    [b"HTTP/1.1 200 OK", b"Host: example.org", b"Content-Length: 5", b"", b""]
)
POST_CHUNKED = b"\r\n".join(
    [
        b"POST / HTTP/1.1",
        b"Host: example.org",
        b"Transfer-Encoding: chunked",
        b"",
        b"8",
        b"abcdefgh",
        b"0",
        b"",
        b"",
    ]
)
POST_CHUNKED_EMPTY = b"\r\n".join(
    [
        b"POST / HTTP/1.1",
        b"Host: example.org",
        b"Transfer-Encoding: chunked",
        b"",
        b"0",
        b"",
        b"",
    ]
)
CONTINUE_RESPONSE = b"\r\n".join(
    [
        b"HTTP/1.1 100 Continue",
        b"Host: example.org",
        b"",
        b"HTTP/1.0 204 No Content",
        b"Date: now!",
        b"",
        b"",
    ]
)
TWO_PART_STATUS = b"\r\n".join(
    [
        b"HTTP/1.1 404",
        b"Cache-Control: no-cache",
        b"Content-Length: 0",
        b"Content-Type:image/gif",
        b"Pragma:no-cache",
        b"nnCoection: close",
        b"",
        b"",
    ]
)
PSEUDO_GZIPPED = b"\r\n".join(
    [
        b"HTTP/1.1 200 OK",
        b"Host: example.org",
        b"Content-Encoding: gzip",
        b"Content-Length: 7",
        b"",
        b"text",
        b"",
    ]
)
GZ_PAYLOAD = (
    b"\x1f\x8b\x08\x08G\xb2\xc5V\x00\x03test\x00+I\xad(\xe1\x02\x00'"
    b"\xda\xec7\x05\x00\x00\x00"
)
GZIPPED = b"\r\n".join(
    [
        b"HTTP/1.1 200 OK",
        b"Host: example.org",
        b"Content-Encoding: gzip",
        b"Content-Length: 30",
        b"",
        GZ_PAYLOAD,
    ]
)


class TestReferenceSuiteEquivalents:
    def test_get(self):
        ours = decode_http(GET_RESPONSE, kind="response")
        assert ours.complete and ours.code == 200
        assert ours.body == b"tests"
        assert ours.version == b"HTTP/1.1" and ours.phrase == b"OK"
        assert ours.get_decoded_message() == GET_RESPONSE

    def test_get_request(self):
        ours = decode_http(GET_REQUEST, kind="request")
        assert ours.complete
        assert ours.get_decoded_message() == GET_REQUEST

    def test_head_response_no_body(self):
        # reference HeadTest feeds the response a HEAD request context;
        # the reference CLI operators never do (ResponseMessage over a
        # blank RequestMessage), so the Content-Length body the HEAD
        # response leaves out reads as never arriving
        ours = decode_http(HEAD_RESPONSE, kind="response")
        assert not ours.complete
        assert ours.body == b""

    def test_post_chunked(self):
        ours = decode_http(POST_CHUNKED, kind="request")
        assert ours.complete and ours.body == b"abcdefgh"

    def test_post_chunked_empty(self):
        ours = decode_http(POST_CHUNKED_EMPTY, kind="request")
        assert ours.complete and ours.body == b""

    def test_100_continue_skip(self):
        ours = decode_http(CONTINUE_RESPONSE, kind="response")
        assert ours.complete and ours.code == 204
        assert ours.version == b"HTTP/1.0"
        assert ours.phrase == b"No Content"
        # the decoded message starts at the final response: the interim
        # 100 is gone
        assert ours.get_decoded_message() == b"HTTP/1.0 204 No Content\r\nDate: now!\r\n\r\n"

    def test_two_part_status(self):
        ours = decode_http(TWO_PART_STATUS, kind="response")
        assert ours.complete and ours.code == 404
        assert ours.phrase == b""
        assert ours.mime == b"image/gif"

    def test_pseudo_gzipped(self):
        ours = decode_http(PSEUDO_GZIPPED, kind="response")
        assert ours.complete and ours.code == 200
        # failed inflate keeps raw body + re-emits Content-Encoding
        assert b"Content-Encoding: gzip" in ours.get_decoded_message()

    def test_gzipped(self):
        ours = decode_http(GZIPPED, kind="response")
        assert ours.complete and ours.code == 200
        assert ours.body == b"text\n"

    @needs_reference
    @pytest.mark.parametrize(
        "payload",
        [GET_RESPONSE, HEAD_RESPONSE, CONTINUE_RESPONSE, TWO_PART_STATUS,
         PSEUDO_GZIPPED, GZIPPED],
        ids=["get", "head_without_request", "100_continue", "two_part_status",
             "pseudo_gzipped", "gzipped"],
    )
    def test_response_parity(self, payload):
        assert_response_parity(payload)

    @needs_reference
    @pytest.mark.parametrize(
        "payload",
        [GET_REQUEST, POST_CHUNKED, POST_CHUNKED_EMPTY],
        ids=["get", "post_chunked", "post_chunked_empty"],
    )
    def test_request_parity(self, payload):
        assert_request_parity(payload)


def _chunked_body(*chunks):
    out = bytearray()
    for c in chunks:
        out += ("%x" % len(c)).encode() + b"\r\n" + c + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


EXTRA_RESPONSES = [
    # connection close (no Content-Length)
    b"HTTP/1.1 200 OK\r\nHost: x\r\n\r\neverything to eof",
    # empty connection-close body
    b"HTTP/1.1 200 OK\r\nHost: x\r\n\r\n",
    # chunked response
    b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
    + _chunked_body(b"hello ", b"world"),
    # chunked with chunk extension and trailer headers
    b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
    + b"6;ext=1\r\nhello \r\n5\r\nworld\r\n0\r\nX-Trailer: yes\r\n\r\n",
    # broken chunks: first size line garbage -> identity body fallback
    b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nnot-a-chunk-size\r\nrest of body",
    # chunked + gzip content-encoding (inflate at decode time)
    b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n\r\n"
    + _chunked_body(gzip.compress(b"inflate me", mtime=0)),
    # content-length + deflate (raw zlib) body
    b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\nContent-Length: "
    + str(len(zlib.compress(b"deflated body"))).encode()
    + b"\r\n\r\n"
    + zlib.compress(b"deflated body"),
    # multiple Content-Length headers: first wins
    b"HTTP/1.1 200 OK\r\nContent-Length: 4\r\nContent-Length: 9\r\n\r\nabcdTRAIL",
    # Transfer-Encoding after Content-Length: chunked wins
    b"HTTP/1.1 200 OK\r\nContent-Length: 400\r\nTransfer-Encoding: chunked\r\n\r\n"
    + _chunked_body(b"chunked wins"),
    # 204 -> no body, leftover preserved
    b"HTTP/1.1 204 No Content\r\nHost: x\r\n\r\nleftover-bytes",
    # 304 -> no body
    b"HTTP/1.1 304 Not Modified\r\nEtag: abc\r\n\r\n",
    # truncated content-length body -> incomplete
    b"HTTP/1.1 200 OK\r\nContent-Length: 100\r\n\r\nshort",
    # headers never complete -> incomplete
    b"HTTP/1.1 200 OK\r\nHost: x\r\n",
    # header continuation line
    b"HTTP/1.1 200 OK\r\nX-Long: part1\r\n  part2\r\nContent-Length: 2\r\n\r\nok",
    # LF-only line endings
    b"HTTP/1.1 200 OK\nContent-Length: 3\n\nabc",
    # leading blank lines before status line
    b"\r\n\r\nHTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi",
    # status code zero-padded / weird but int-parsable
    b"HTTP/1.1 0200 OK\r\nContent-Length: 2\r\n\r\nhi",
    # case-insensitive header names
    b"HTTP/1.1 200 OK\r\ncontent-length: 3\r\nCONTENT-ENCODING: GZIP\r\n\r\nabc",
    # pseudo-gzip via x-gzip (endswith gzip)
    b"HTTP/1.1 200 OK\r\nContent-Encoding: x-gzip\r\nContent-Length: 5\r\n\r\nplain",
    # gzip CL where CL < member size (truncated slice -> fallback)
    b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\nContent-Length: 10\r\n\r\n"
    + gzip.compress(b"full payload bytes", mtime=0),
    # zero-length body
    b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n",
    # chunked starved mid-chunk -> incomplete
    b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nA\r\nabc",
]


@needs_reference
@pytest.mark.parametrize("payload", EXTRA_RESPONSES, ids=range(len(EXTRA_RESPONSES)))
def test_response_matrix(payload):
    assert_response_parity(payload)


EXTRA_REQUESTS = [
    b"GET /path?q=1 HTTP/1.1\r\nHost: example.org:8080\r\n\r\n",
    b"POST / HTTP/1.1\r\nContent-Length: 4\r\n\r\nbodyEXTRA",
    b"PUT /x HTTP/1.0\r\nContent-Length: 0\r\n\r\n",
    b"GET http://example.org:8080/abs HTTP/1.1\r\n\r\n",
]


@needs_reference
@pytest.mark.parametrize("payload", EXTRA_REQUESTS, ids=range(len(EXTRA_REQUESTS)))
def test_request_matrix(payload):
    assert_request_parity(payload)


@needs_reference
def test_ignore_headers_wget_workaround():
    # warc2warc --wget-chunk-fix (warc2warc.py:31-34): ignore
    # Transfer-Encoding -> body parsed as connection-close
    payload = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nliteral body no chunks"
    )
    assert_response_parity(payload, ignore_headers=[b"Transfer-Encoding"])


def test_parse_http_response_triple():
    code, mime, res = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: 5\r\n\r\nhello"
    )
    assert code == 200
    assert mime == b"text/html"
    assert res.body == b"hello"
