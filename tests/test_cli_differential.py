"""CLI output parity vs the reference tools, run in-process on the
same WARC file."""

import io
import sys

import pytest

from tests.conftest import reference_available

pytestmark = pytest.mark.skipif(
    not reference_available(), reason="reference not importable"
)

HTTP = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: 12\r\n"
    b"\r\n01234567890\r"
)
RECORDS = (
    b"WARC/1.0\r\n"
    b"WARC-Type: warcinfo\r\n"
    b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000aa>\r\n"
    b"WARC-Date: 2013-11-15T00:00:00Z\r\n"
    b"Content-Type: application/warc-fields\r\n"
    b"Content-Length: 10\r\n\r\nformat: x\n\r\n\r\n"
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000ab>\r\n"
    b"WARC-Date: 2013-11-15T00:00:01Z\r\n"
    b"WARC-Target-URI: http://cli.example/p\r\n"
    b"Content-Type: application/http;msgtype=response\r\n"
    b"Content-Length: " + str(len(HTTP)).encode() + b"\r\n\r\n" + HTTP + b"\r\n\r\n"
)


def _reference_index_lines(path: str) -> list[str]:
    """Run the reference warcindex projection loop (warcindex.py:35-49)
    on the file."""
    from hanzo import warctools

    out = io.BytesIO()
    fh = warctools.WarcRecord.open_archive(path, gzip="auto")
    try:
        for offset, record, errors in fh.read_records(limit=None):
            if record:
                fields = [
                    path.encode(),
                    str(offset).encode(),
                    record.type or b"-",
                    record.url or b"-",
                    record.id or b"-",
                    record.content_type or b"-",
                    str(record.content_length).encode(),
                ]
                out.write(b" ".join(fields) + b"\n")
    finally:
        fh.close()
    return out.getvalue().decode().splitlines()


def test_warcindex_output_parity(spark, tmp_path):
    f = tmp_path / "cli_diff.warc"
    f.write_bytes(RECORDS)
    ref_lines = _reference_index_lines(str(f))

    from warctools_spark.operators.archive_ops import warc_index
    from warctools_spark.sources.warc import read_warc

    rows = (
        warc_index(read_warc(spark, str(f)))
        .orderBy("offset")
        .collect()
    )
    ours = [
        "%s %s %s %s %s %s %s"
        % (
            str(f),  # spark reports file:// uri; normalize to the path
            r["offset"],
            r["warc_type"],
            r["warc_subject_uri"],
            r["warc_record_id"],
            r["content_type"],
            r["content_length"],
        )
        for r in rows
    ]
    assert ours == ref_lines


def _run(cmd: list, cwd=None) -> bytes:
    import subprocess

    res = subprocess.run(cmd, capture_output=True, cwd=cwd)
    assert res.returncode == 0, res.stderr.decode(errors="replace")
    return res.stdout


CHUNKED_HTTP = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
    b"Transfer-Encoding: chunked\r\n\r\n"
    b"5\r\nhello\r\n7\r\n world!\r\n0\r\n\r\n"
)


def _warc_with_response(http: bytes) -> bytes:
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000aa>\r\n"
        b"WARC-Date: 2013-11-15T00:00:00Z\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: 10\r\n\r\nformat: x\n\r\n\r\n"
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000ab>\r\n"
        b"WARC-Date: 2013-11-15T00:00:01Z\r\n"
        b"WARC-Target-URI: http://cli.example/p\r\n"
        b"Content-Type: application/http;msgtype=response\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )


@pytest.mark.parametrize("http", [HTTP, CHUNKED_HTTP], ids=["clen", "chunked"])
def test_warcpayload_stdout_parity(tmp_path, http):
    """Byte-for-byte stdout parity with the reference warcpayload tool
    (warcpayload.py:38-61): HTTP body after httplib transfer decoding."""
    data = _warc_with_response(http)
    f = tmp_path / "payload.warc"
    f.write_bytes(data)
    offset = data.index(b"WARC/1.0\r\nWARC-Type: response")

    ref = _run(
        [
            sys.executable,
            "-c",
            "import sys; sys.path.insert(0, '/root/reference'); "
            "from hanzo.warcpayload import main; "
            f"main(['warcpayload', '{f}:{offset}'])",
        ]
    )
    ours = _run(
        [
            sys.executable,
            "-m",
            "warctools_spark.cli",
            "--cpus",
            "2",
            "warcpayload",
            f"{f}:{offset}",
        ],
        cwd="/root/repo",
    )
    assert ours == ref


def test_warc2warc_wget_chunk_fix_stdout_parity(tmp_path):
    """warc2warc -D --wget-chunk-fix parity (warc2warc.py:26,31-34):
    a wget-bug record advertises chunked but carries a literal body;
    ignoring Transfer-Encoding decodes it as connection-close.

    NB: the reference CLI's flag is a silent no-op under python 3 —
    warc2warc.py:31 passes str header names while messaging.py:470
    compares lowercased bytes, so the ignore set never matches and the
    decode fails as incomplete. The expected bytes are therefore built
    by running the reference CLI's own process() loop with the ignore
    list as bytes (the working py2-era semantic, same as the kernel
    differential at test_http_kernel.py::test_ignore_headers_wget_
    workaround), serialized with the reference's record.write_to."""
    broken = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\nliteral body no chunks"
    )
    data = _warc_with_response(broken)
    f = tmp_path / "wget.warc"
    f.write_bytes(data)

    ref = _run(
        [
            sys.executable,
            "-c",
            "import sys, io; sys.path.insert(0, '/root/reference')\n"
            "from hanzo.warctools import WarcRecord\n"
            "from hanzo.httptools import RequestMessage, ResponseMessage\n"
            "out = sys.stdout.buffer\n"
            f"fh = WarcRecord.open_archive('{f}', gzip='auto')\n"
            "for record in fh:\n"
            "    if record.type == WarcRecord.RESPONSE:\n"
            "        content_type, content = record.content\n"
            "        if content_type == ResponseMessage.CONTENT_TYPE:\n"
            "            m = ResponseMessage(RequestMessage(),"
            " ignore_headers=[b'Transfer-Encoding'])\n"
            "            leftover = m.feed(content); m.close()\n"
            "            if not leftover and m.complete():\n"
            # record.content has no setter in this snapshot (record.py:88)
            # - warc2warc.py:54 would crash on py3; poke _content directly
            "                record._content = (content_type,"
            " m.get_decoded_message())\n"
            "    record.write_to(out, gzip=False)\n",
        ]
    )
    ours = _run(
        [
            sys.executable,
            "-m",
            "warctools_spark.cli",
            "--cpus",
            "2",
            "warc2warc",
            "-D",
            "--wget-chunk-fix",
            str(f),
        ],
        cwd="/root/repo",
    )
    assert ours == ref


def test_warclinks_output_parity(spark, tmp_path):
    """Our harvested links == the reference warclinks generator output
    on the same file (2xx html gate + absolutize + ctl strip)."""
    body = (
        b'<html><a href="/rel.html">r</a>'
        b'<a href="http://abs.example/x">a</a></html>'
    )
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "
        + str(len(body)).encode()
        + b"\r\n\r\n"
        + body
    )
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000ac>\r\n"
        b"WARC-Date: 2013-11-15T00:00:01Z\r\n"
        b"WARC-Target-URI: http://links.example/dir/page.html\r\n"
        b"Content-Type: application/http;msgtype=response\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
    )
    f = tmp_path / "links.warc"
    f.write_bytes(rec)

    # the reference's warclinks module fails to import on py3 (removed
    # HTMLParseError), so replicate its generator loop with our
    # reference-parity kernels gated exactly like warclinks.py:54-66 —
    # and check the engine produces the same set through Spark.
    from warctools_spark.kernels.http_decode import decode_http
    from warctools_spark.kernels.links import extract_links

    res = decode_http(http)
    expected = extract_links("http://links.example/dir/page.html", res.decoded_body())
    assert expected == [
        "http://links.example/rel.html",
        "http://abs.example/x",
    ]

    from warctools_spark.operators.archive_ops import records_to_pages
    from warctools_spark.operators.frontier import harvest_canonicalized
    from warctools_spark.sources.warc import read_warc

    pages = records_to_pages(read_warc(spark, str(f)))
    links = [r["link"] for r in harvest_canonicalized(pages).collect()]
    assert links == expected


LATIN1_BODY = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: 17\r\n"
    b"\r\n<p>caf\xe9 body</p>"
)
LATIN1_RECORDS = (
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000ba>\r\n"
    b"WARC-Date: 2013-11-15T00:00:02Z\r\n"
    b"WARC-Target-URI: http://cli.example/latin1\r\n"
    b"Content-Type: application/http;msgtype=response\r\n"
    b"Content-Length: " + str(len(LATIN1_BODY)).encode() + b"\r\n\r\n"
    + LATIN1_BODY + b"\r\n\r\n"
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000bb>\r\n"
    b"WARC-Date: 2013-11-15T00:00:03Z\r\n"
    b"WARC-Target-URI: http://cli.example/ascii\r\n"
    b"Content-Type: application/http;msgtype=response\r\n"
    b"Content-Length: " + str(len(HTTP)).encode() + b"\r\n\r\n" + HTTP + b"\r\n\r\n"
)


def _reference_filter_any_urls(path: str, pattern: bytes) -> set:
    """The warcfilter any-header-or-body mode (warcfilter.py:104-113):
    a bytes regex over every header value, then the raw content."""
    import re as _re

    from hanzo import warctools

    pat = _re.compile(pattern)
    matched = set()
    fh = warctools.WarcRecord.open_archive(path, gzip="auto")
    try:
        for record in fh:
            found = any(pat.search(v) for _, v in record.headers)
            if not found:
                _, content = record.content
                found = bool(pat.search(content))
            if found:
                matched.add(record.url)
    finally:
        fh.close()
    return matched


def test_warcfilter_any_latin1_body_parity(spark, tmp_path):
    """Byte-parity of the any-mode body regex on a NON-UTF-8 payload:
    the reference regex runs on raw bytes, ours on the latin-1 decode
    (byte i <-> codepoint i), so matched URL sets must be identical —
    including that a UTF-8-encoded pattern for the same text does NOT
    match the latin-1 body."""
    from warctools_spark.operators.archive_ops import warc_filter
    from warctools_spark.sources.warc import read_warc

    p = tmp_path / "latin1.warc"
    p.write_bytes(LATIN1_RECORDS)
    recs = read_warc(spark, str(p)).cache()

    for pat_bytes in (b"caf\xe9", b"caf\xc3\xa9", b"01234"):
        ref = _reference_filter_any_urls(str(p), pat_bytes)
        pat_str = pat_bytes.decode("latin-1")
        ours = {
            r["url"].encode("ascii")
            for r in warc_filter(recs, pat_str, mode="any").collect()
        }
        assert ours == ref, (pat_bytes, ours, ref)
    # sanity: the latin-1 pattern really selects only the latin-1 page
    assert _reference_filter_any_urls(str(p), b"caf\xe9") == {
        b"http://cli.example/latin1"
    }
