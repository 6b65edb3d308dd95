"""WARC/ARC parse + write kernel tests.

Re-expresses the reference's own suite
(hanzo/warctools/tests/test_warctools.py): the full record-terminator
matrices for ARC and WARC (plain + per-record gzip, exact offsets,
types, content-lengths and content bytes, incl. the ARC filedesc
content-length-minus-header-lines rule), plus byte-exact golden
serialization, plus a differential sweep against the reference parser.
"""

import gzip
import io

import pytest

from tests.conftest import reference_available
from warctools_spark.kernels.warc_parse import (
    detect_format,
    parse_archive,
    split_gzip_members,
)
from warctools_spark.kernels.warc_write import (
    block_digest,
    warc_datetime_str,
    warc_uuid,
    write_warc_record,
)

# ---- fixtures equivalent to test_warctools.py:23-36, 117-139 ----

ARC_REC1_CONTENT = (
    b"1 0 InternetArchive\n"
    + b"URL IP-address Archive-date Content-type Archive-length\n"
    + b"Here is some funky arc header content!\n"
)
ARC_RECORD1 = (
    b"filedesc://ArcRecordTerminatorTest.arc 0.0.0.0 20131113000000 text/plain "
    + str(len(ARC_REC1_CONTENT)).encode("ascii")
    + b"\n"
    + ARC_REC1_CONTENT
)
ARC_REC2_CONTENT = (
    b"HTTP/1.1 200 OK\r\n"
    + b"Content-Type: text/plain\r\n"
    + b"Content-Length: 12\r\n"
    + b"\r\n"
    + b"01234567890\r\n"
)
ARC_RECORD2 = (
    b"http://example.org/ 192.168.1.1 20131113000000 text/plain "
    + str(len(ARC_REC2_CONTENT)).encode("ascii")
    + b"\n"
    + ARC_REC2_CONTENT
)

WARC_RECORD1 = (
    b"WARC/1.0\r\n"
    + b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000000>\r\n"
    + b"WARC-Type: warcinfo\r\n"
    + b"Content-Type: application/warc-fields\r\n"
    + b"Content-Length: 30\r\n"
    + b"\r\n"
    + b"format: WARC File Format 1.0\r\n"
)
WARC_RECORD2 = (
    b"WARC/1.0\r\n"
    + b"WARC-Type: response\r\n"
    + b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000001>\r\n"
    + b"WARC-Target-URI: http://example.org/\r\n"
    + b"Content-Type: application/http;msgtype=response\r\n"
    + b"Content-Length: 78\r\n"
    + b"\r\n"
    + b"HTTP/1.1 200 OK\r\n"
    + b"Content-Type: text/plain\r\n"
    + b"Content-Length: 12\r\n"
    + b"\r\n"
    + b"01234567890\r\n"
)

HTTP_PAYLOAD = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
    b"Content-Length: 12\r\n\r\n01234567890\r\n"
)

TERMINATORS = [
    b"\n",
    b"\r\n\r\n",
    b"\r\n",
    b"\n\r\n",
    b"\n\n\r\n",
    b"\r\n\n",
    b"\r\n\r\n\r\n",
    b"\n" * 16,
    b"\n\n",
    b"\n\n\n",
    b"\n\n\n\n",
    b"\r\n\n\r\n\n",
    b"\r\r\r\r\r\r\n",
    b"\r\r\r\r\r\r\n\n",
    b"\r\r\r\r\r\r\n\n\n",
]


def _gz(raw: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
        f.write(raw)
    return buf.getvalue()


@pytest.mark.parametrize("terminator", TERMINATORS, ids=range(len(TERMINATORS)))
def test_warc_terminator_matrix_plain(terminator):
    data = WARC_RECORD1 + terminator + WARC_RECORD2 + terminator
    rows = parse_archive(data)
    assert len(rows) == 2
    r1, r2 = rows
    assert r1.offset == 0
    assert r1.record_type == b"warcinfo"
    assert r1.content_type == b"application/warc-fields"
    assert r1.content_length == 30
    assert r1.content == b"format: WARC File Format 1.0\r\n"
    assert r1.errors == []
    assert r2.offset == len(WARC_RECORD1) + len(terminator)
    assert r2.record_type == b"response"
    assert r2.content_type == b"application/http;msgtype=response"
    assert r2.content_length == 78
    assert r2.content == HTTP_PAYLOAD
    assert r2.url == b"http://example.org/"


@pytest.mark.parametrize("terminator", TERMINATORS, ids=range(len(TERMINATORS)))
def test_warc_terminator_matrix_record_gzip(terminator):
    gz1 = _gz(WARC_RECORD1 + terminator)
    gz2 = _gz(WARC_RECORD2 + terminator)
    rows = parse_archive(gz1 + gz2)
    assert len(rows) == 2
    assert rows[0].offset == 0
    assert rows[0].content == b"format: WARC File Format 1.0\r\n"
    assert rows[1].offset == len(gz1)
    assert rows[1].content == HTTP_PAYLOAD


@pytest.mark.parametrize("terminator", TERMINATORS, ids=range(len(TERMINATORS)))
def test_arc_terminator_matrix_plain(terminator):
    data = ARC_RECORD1 + terminator + ARC_RECORD2 + terminator
    rows = parse_archive(data)
    assert len(rows) == 2
    r1, r2 = rows
    assert r1.offset == 0
    assert r1.format == "arc_filedesc"
    assert r1.record_type == b"filedesc"
    assert r1.content_type == b"text/plain"
    # content_length is reduced by the in-band version+names lines
    # (arc.py:132-134; test_warctools.py:73-74 pins 115 vs 39 bytes)
    assert r1.get_header(b"Archive-length") == b"115"
    assert r1.content == b"Here is some funky arc header content!\n"
    assert r2.offset == len(ARC_RECORD1) + len(terminator)
    assert r2.format == "arc"
    assert r2.record_type == b"response"
    assert r2.content_type == b"text/plain"
    assert r2.content_length == 78
    assert r2.content == ARC_REC2_CONTENT
    assert r2.url == b"http://example.org/"


@pytest.mark.parametrize("terminator", TERMINATORS, ids=range(len(TERMINATORS)))
def test_arc_terminator_matrix_record_gzip(terminator):
    gz1 = _gz(ARC_RECORD1 + terminator)
    gz2 = _gz(ARC_RECORD2 + terminator)
    rows = parse_archive(gz1 + gz2)
    assert len(rows) == 2
    assert rows[0].offset == 0
    assert rows[0].content == b"Here is some funky arc header content!\n"
    assert rows[1].offset == len(gz1)
    assert rows[1].content == ARC_REC2_CONTENT


def test_arc_fencepost_url_with_spaces():
    """arc.py:159-173: URL containing spaces repaired by the reversed
    fencepost split."""
    content = b"payload"
    rec = (
        b"http://example.org/a b c.html 192.168.1.1 20131113000000 text/plain "
        + str(len(content)).encode()
        + b"\n"
        + content
    )
    data = ARC_RECORD1 + b"\n" + rec + b"\n"
    rows = parse_archive(data)
    assert len(rows) == 2
    assert rows[1].url == b"http://example.org/a b c.html"
    assert rows[1].content == content


def test_mixed_arc_warc():
    """mixed.py:19-28: per-record dispatch on the leading 'WARC'."""
    data = ARC_RECORD1 + b"\n" + WARC_RECORD2 + b"\r\n\r\n" + ARC_RECORD2 + b"\n"
    rows = parse_archive(data, fmt="mixed")
    assert [r.format for r in rows] == ["arc_filedesc", "warc", "arc"]
    assert rows[1].content_length == 78
    assert rows[2].content == ARC_REC2_CONTENT


def test_whole_file_gzip():
    # a whole-file gzip is one member: both records sit at its offset
    data = WARC_RECORD1 + b"\r\n\r\n" + WARC_RECORD2 + b"\r\n\r\n"
    rows = parse_archive(gzip.compress(data))
    assert len(rows) == 2
    assert [r.offset for r in rows] == [0, 0]
    assert not any(r.errors for r in rows)
    assert rows[1].content == HTTP_PAYLOAD


def test_detect_format():
    assert detect_format(b"WARC/1.0\r\n") == "warc"
    assert detect_format(b"filedesc://x.arc 0.0.0.0 20130000000000 text/plain 5\n") == "arc"
    assert detect_format(b"\r\n") == "warc"
    assert detect_format(b"garbage\n") is None


def test_warc_version_error_rows():
    bad = b"WARC/9.9\n" + b"Content-Length: 0\r\n\r\n"
    rows = parse_archive(bad, fmt="warc")
    assert len(rows) == 1
    errs = " ".join(rows[0].errors)
    assert "version field is not known" in errs
    assert "incorrect newline" in errs


def test_warc_junk_prefix_gives_up():
    junk = b"x\n" * 7
    rows = parse_archive(junk, fmt="warc")
    assert len(rows) == 1
    assert any("giving up" in e for e in rows[0].errors)


def test_split_gzip_members():
    a, b = _gz(b"hello"), _gz(b"world")
    members = list(split_gzip_members(a + b))
    assert members == [(0, b"hello"), (len(a), b"world")]


# ---- golden serialization (test_warctools.py:292-361) ----

GOLDEN = (
    b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: "
    b"<urn:uuid:00000000-0000-0000-0000-000000000000>\r\nWARC-Date: "
    b"2013-11-15T00:00:00Z\r\nWARC-Target-URI: http://example.org/\r\n"
    b"Content-Type: application/http;msgtype=request\r\nContent-Length: 23"
    b"\r\n\r\nLuke, I am your payload\r\n\r\n"
)


def _golden_headers():
    return [
        (b"WARC-Type", b"response"),
        (b"WARC-Record-ID", b"<urn:uuid:00000000-0000-0000-0000-000000000000>"),
        (b"WARC-Date", b"2013-11-15T00:00:00Z"),
        (b"WARC-Target-URI", b"http://example.org/"),
        # supplied Content-Type/Length must be dropped + re-derived
        (b"Content-Type", b"application/http;msgtype=request"),
    ]


def test_write_golden():
    out = write_warc_record(
        _golden_headers(),
        b"application/http;msgtype=request",
        b"Luke, I am your payload",
    )
    assert out == GOLDEN
    # idempotent (tuple content can be written twice, test_warctools.py:301-305)
    out2 = write_warc_record(
        _golden_headers(),
        b"application/http;msgtype=request",
        b"Luke, I am your payload",
    )
    assert out2 == GOLDEN


def test_write_golden_gzip():
    out = write_warc_record(
        _golden_headers(),
        b"application/http;msgtype=request",
        b"Luke, I am your payload",
        gzip_record=True,
    )
    assert gzip.decompress(out) == GOLDEN
    # deterministic bytes (mtime=0)
    out2 = write_warc_record(
        _golden_headers(),
        b"application/http;msgtype=request",
        b"Luke, I am your payload",
        gzip_record=True,
    )
    assert out == out2


def test_roundtrip_parse_write():
    rows = parse_archive(WARC_RECORD2 + b"\r\n\r\n")
    r = rows[0]
    assert r.version == b"WARC/1.0"  # the one version the writer emits
    out = write_warc_record(r.headers, r.content_type, r.content)
    assert out == WARC_RECORD2 + b"\r\n\r\n"


def test_warc_uuid_and_digest():
    # warc.py:146-148 — deterministic uuid from sha1 prefix
    assert warc_uuid(b"http://example.org/") == warc_uuid(b"http://example.org/")
    u = warc_uuid(b"abc").decode()
    assert u.startswith("<urn:uuid:") and u.endswith(">") and len(u) == 47
    assert block_digest(b"") == (
        "sha256:e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    )
    from datetime import datetime

    assert warc_datetime_str(datetime(2013, 11, 15, 0, 0, 0, 123456)) == (
        b"2013-11-15T00:00:00Z"
    )


# ---- differential sweep vs the reference parser ----


@pytest.mark.skipif(not reference_available(), reason="reference not importable")
@pytest.mark.parametrize("terminator", TERMINATORS, ids=range(len(TERMINATORS)))
def test_differential_warc_plain(terminator):
    from io import BytesIO

    from hanzo import warctools

    data = WARC_RECORD1 + terminator + WARC_RECORD2 + terminator
    fh = warctools.ArchiveRecord.open_archive(file_handle=BytesIO(data))
    ref_rows = []
    for offset, record, errors in fh.read_records(limit=None, offsets=True):
        if record is not None:
            ref_rows.append(
                (offset, record.type, record.content_type, record.content[1])
            )
    ours = parse_archive(data)
    assert len(ours) == len(ref_rows)
    for mine, ref in zip(ours, ref_rows):
        assert (mine.offset, mine.record_type, mine.content_type, mine.content) == ref


@pytest.mark.skipif(not reference_available(), reason="reference not importable")
def test_differential_uuid():
    from hanzo.warctools.warc import WarcRecord

    for text in (b"a", b"http://example.org/x?y=1", b"\x00\xff"):
        assert warc_uuid(text) == WarcRecord.warc_uuid(text)


@pytest.mark.skipif(not reference_available(), reason="reference not importable")
def test_differential_datetime():
    from datetime import datetime

    from hanzo.warctools.warc import warc_datetime_str as ref_dt

    for d in (datetime(2013, 11, 15), datetime(2020, 2, 29, 23, 59, 59, 999999)):
        assert warc_datetime_str(d) == ref_dt(d)


def test_expand_files(spark, tmp_path):
    """expand_files: globs, recursive dirs, passthrough, dedup+sort
    (reference expand_files + s3.list_files, via Hadoop FileSystem so
    the same code path serves s3a:// in production)."""
    from warctools_spark.sources.warc import expand_files

    (tmp_path / "a.warc").write_bytes(b"x")
    sub = tmp_path / "seg"
    sub.mkdir()
    (sub / "b.warc").write_bytes(b"x")
    (sub / "c.warc.gz").write_bytes(b"x")
    (sub / "_SUCCESS").write_bytes(b"")  # hidden marker: excluded

    got = expand_files(spark, [str(tmp_path / "*.warc"), str(sub)])
    names = [p.rsplit("/", 1)[1] for p in got]
    assert names == ["a.warc", "b.warc", "c.warc.gz"]
    assert all(p.startswith("file:") for p in got)

    # plain file passthrough + dedup with its glob match
    again = expand_files(
        spark, [str(tmp_path / "a.warc"), str(tmp_path / "a.*")]
    )
    assert [p.rsplit("/", 1)[1] for p in again] == ["a.warc"]

    # unmatched input stays verbatim for downstream error reporting
    missing = expand_files(spark, [str(tmp_path / "nope" / "*.warc")])
    assert missing == [str(tmp_path / "nope" / "*.warc")]
