"""warc2warc -D record bytes pinned byte-for-byte.

`fixtures/warc2warc_sha256.json` holds the sha256 of every
`record_bytes` that `warc2warc_decode` gave for the corpus below under
three settings, recorded before the operator became one Arrow pass. The
test checks the operator still gives exactly those bytes, so it needs
no reference installation.

Regenerate (only when the record bytes are meant to change):

    python3 tests/test_warc2warc_pinned.py
"""

import hashlib
import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench import gen  # noqa: E402

FIXTURE = Path(__file__).parent / "fixtures" / "warc2warc_sha256.json"

SETTINGS = {
    "plain": {},
    "gzip_output": {"gzip_output": True},
    "wget_chunk_fix": {"wget_chunk_fix": True},
}

HTTP_RESPONSE = "application/http; msgtype=response"
HTML = (
    b"<html><head><title>pinned</title></head><body><p>"
    + b"warc2warc pinned corpus " * 40
    + b"</p></body></html>"
)


def _rid(i: int) -> str:
    return "<urn:uuid:00000000-0000-0000-0000-%012d>" % i


def _record(i, rtype, content, ctype=HTTP_RESPONSE, url=True, date=True, bad=False):
    headers = [("WARC-Type", rtype), ("WARC-Record-ID", _rid(i))]
    if date:
        headers.append(("WARC-Date", "2013-11-15T00:00:%02dZ" % i))
    if url:
        headers.append(("WARC-Target-URI", "http://pin.example/%d.html" % i))
    if ctype is not None:
        headers.append(("Content-Type", ctype))
    return gen._warc_record(headers, content, bad)


def corpus() -> bytes:
    """One plain .warc covering what warc2warc -D treats differently:
    the four wire variants (plain, gzip, chunked, chunked+gzip), a
    truncated response, a response with a malformed WARC header, an
    HTTP/0.9 payload, a Content-Encoding that is not gzip data, a
    non-http response, a response without Content-Type, and request,
    metadata and revisit rows (one with no Target-URI or Date)."""
    recs = [_record(1 + v, "response", gen.http_response(v, HTML)) for v in range(4)]
    recs += [
        _record(
            5,
            "response",
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: 999\r\n\r\n<html>cut short",
        ),
        _record(6, "response", gen.http_response(0, HTML), bad=True),
        _record(7, "response", b"<html>no status line, HTTP/0.9</html>"),
        _record(
            8,
            "response",
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            b"Content-Encoding: gzip\r\nContent-Length: 9\r\n\r\nnot gzip!",
        ),
        _record(9, "response", gen.http_response(2, HTML), ctype="text/html"),
        _record(10, "response", gen.http_response(2, HTML), ctype=None),
        _record(
            11,
            "request",
            b"GET /11.html HTTP/1.1\r\nHost: pin.example\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n3\r\nabc\r\n0\r\n\r\n",
            ctype="application/http; msgtype=request",
        ),
        _record(
            12,
            "metadata",
            b"via: http://pin.example/\r\n",
            ctype="application/warc-fields",
            url=False,
            date=False,
        ),
        _record(13, "revisit", b"", ctype="message/http"),
    ]
    return b"".join(recs)


def record_digests(spark, path) -> dict:
    """{setting: {record_id: sha256(record_bytes)}} over the corpus."""
    from warctools_spark.operators.archive_ops import warc2warc_decode
    from warctools_spark.sources.warc import read_warc

    records = read_warc(spark, str(path)).cache()
    out = {}
    for name, kw in SETTINGS.items():
        rows = warc2warc_decode(records, **kw).select("record_id", "record_bytes")
        out[name] = {
            rid: hashlib.sha256(bytes(b)).hexdigest() for rid, b in rows.collect()
        }
    records.unpersist()
    return out


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("w2w_pinned") / "pinned.warc"
    p.write_bytes(corpus())
    return p


def test_corpus_rows(spark, corpus_path):
    """The corpus parses into the rows the pins are about: 13 records,
    one WARC-level error row, 10 responses."""
    from warctools_spark.sources.warc import read_warc

    rows = read_warc(spark, str(corpus_path)).collect()
    assert len(rows) == 13
    assert [r["record_id"] for r in rows if r["errors"]] == [_rid(6)]
    assert sum(r["record_type"] == "response" for r in rows) == 10


def test_warc2warc_record_bytes_pinned(spark, corpus_path):
    want = json.loads(FIXTURE.read_text())
    got = record_digests(spark, corpus_path)
    assert set(got) == set(SETTINGS)
    for name in SETTINGS:
        assert got[name] == want[name], name


def test_pinned_settings_differ():
    """gzip_output changes every record and wget_chunk_fix the chunked
    http responses."""
    want = json.loads(FIXTURE.read_text())
    base = want["plain"]

    def changed(name):
        return {rid for rid, h in want[name].items() if base[rid] != h}

    assert changed("gzip_output") == set(base)
    assert changed("wget_chunk_fix") == {_rid(3), _rid(4)}


def test_row_decodes_only_http_responses_once(monkeypatch):
    """The fused row function decodes (through the decode_http that
    udfs imports) each application/http response once, builds
    only its decoded message (no separate decoded_body inflate), and
    never decodes request, metadata, revisit or non-http rows."""
    from warctools_spark.functions import udfs
    from warctools_spark.kernels.http_decode import HttpResult
    from warctools_spark.sources.warc import _rows_for_file

    def no_decoded_body(self):
        raise AssertionError("decoded_body() called")

    decoded, real = [], udfs.decode_http
    monkeypatch.setattr(HttpResult, "decoded_body", no_decoded_body)
    monkeypatch.setattr(
        udfs, "decode_http",
        lambda payload, *a, **kw: decoded.append(payload) or real(payload, *a, **kw),
    )
    rows = list(_rows_for_file("pinned.warc", corpus(), "auto"))
    want = [r["content"] for r in rows[:8]]
    assert {r["record_id"] for r in rows[:8]} == {_rid(i) for i in range(1, 9)}
    for name, kw in SETTINGS.items():
        decoded.clear()
        for r in rows:
            udfs.warc2warc_row(
                r["record_id"], r["record_type"], r["url"], r["warc_date"],
                r["content_type"], r["content"], kw.get("gzip_output", False),
                (b"Transfer-Encoding",) if kw.get("wget_chunk_fix") else (),
            )
        assert decoded == want, name


if __name__ == "__main__":
    import tempfile

    from warctools_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    with tempfile.TemporaryDirectory() as d:
        path = Path(d) / "pinned.warc"
        path.write_bytes(corpus())
        FIXTURE.write_text(json.dumps(record_digests(spark, path), indent=1, sort_keys=True) + "\n")
    spark.stop()
    print("wrote", FIXTURE)
