"""Spark-level tests for the CLI-parity operators: read_warc ingest,
warcfilter modes, warcindex, warcvalid, warc2warc -D round-trip,
arc2warc."""

import gzip
import io

import pytest
from pyspark.sql import functions as F

from tests.conftest import reference_available
from warctools_spark.operators import archive_ops as AO
from warctools_spark.operators.arc2warc import arc_to_warc
from warctools_spark.sources.warc import read_warc

HTTP_PAYLOAD = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
    b"Content-Length: 25\r\n\r\n<html><p>hi</p></html>\r\n\r"
)


def _warc_record(rid, rtype, url, extra=b"", content=HTTP_PAYLOAD,
                 ctype=b"application/http;msgtype=response"):
    head = (
        b"WARC/1.0\r\n"
        + b"WARC-Type: " + rtype + b"\r\n"
        + b"WARC-Record-ID: <urn:uuid:" + rid + b">\r\n"
        + b"WARC-Date: 2013-11-15T00:00:00Z\r\n"
        + b"WARC-Target-URI: " + url + b"\r\n"
        + extra
        + b"Content-Type: " + ctype + b"\r\n"
        + b"Content-Length: " + str(len(content)).encode() + b"\r\n\r\n"
    )
    return head + content + b"\r\n\r\n"


CHUNKED_PAYLOAD = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
    b"Transfer-Encoding: chunked\r\n\r\n5\r\nhello\r\n0\r\n\r\n"
)

WARC_FILE = (
    _warc_record(b"00000000-0000-0000-0000-000000000001", b"response",
                 b"http://a.example/x")
    + _warc_record(b"00000000-0000-0000-0000-000000000002", b"request",
                   b"http://a.example/x",
                   extra=b"WARC-Concurrent-To: <urn:uuid:00000000-0000-0000-0000-000000000001>\r\n",
                   content=b"GET /x HTTP/1.1\r\nHost: a.example\r\n\r\n",
                   ctype=b"application/http;msgtype=request")
    + _warc_record(b"00000000-0000-0000-0000-000000000003", b"response",
                   b"http://b.example/chunked", content=CHUNKED_PAYLOAD)
    + _warc_record(b"00000000-0000-0000-0000-000000000004", b"metadata",
                   b"http://a.example/x", content=b"meta",
                   ctype=b"application/warc-fields")
    + _warc_record(b"00000000-0000-0000-0000-000000000005", b"revisit",
                   b"http://a.example/x-again",
                   extra=(b"WARC-Payload-Digest: sha1:AAAA\r\n"),
                   content=b"", ctype=b"message/http")
    + _warc_record(b"00000000-0000-0000-0000-000000000006", b"response",
                   b"http://a.example/orig",
                   extra=(b"WARC-Payload-Digest: sha1:AAAA\r\n"))
)

ARC_HEADER_CONTENT = (
    b"1 0 InternetArchive\n"
    b"URL IP-address Archive-date Content-type Archive-length\n"
    b"funky\n"
)
ARC_FILE = (
    b"filedesc://test.arc 0.0.0.0 20131113000000 text/plain "
    + str(len(ARC_HEADER_CONTENT)).encode() + b"\n" + ARC_HEADER_CONTENT
    + b"\n"
    + b"http://c.example/1 10.0.0.1 20131113120000 text/html "
    + str(len(HTTP_PAYLOAD)).encode() + b"\n" + HTTP_PAYLOAD
    + b"\n"
    + b"dns:c.example 0.0.0.0 20131113 text/dns 4\nA 1\n"
    + b"\n"
)


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("warcs")
    (d / "plain.warc").write_bytes(WARC_FILE)
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(WARC_FILE)
    (d / "whole.warc.gz").write_bytes(buf.getvalue())
    (d / "test.arc").write_bytes(ARC_FILE)
    return str(d)


@pytest.fixture(scope="module")
def records(spark, warc_dir):
    df = read_warc(spark, f"{warc_dir}/plain.warc").cache()
    df.count()
    return df


def test_read_warc_counts(records):
    assert records.count() == 6
    by_type = {
        r["record_type"]: r["count"]
        for r in records.groupBy("record_type").count().collect()
    }
    assert by_type == {"response": 3, "request": 1, "metadata": 1, "revisit": 1}


def test_read_warc_gz_whole_file(spark, warc_dir):
    df = read_warc(spark, f"{warc_dir}/whole.warc.gz")
    # whole-file gzip is sniffed as record-gzip first; our kernel
    # handles a single member transparently
    assert df.count() == 6


def test_read_arc(spark, warc_dir):
    df = read_warc(spark, f"{warc_dir}/test.arc")
    rows = df.orderBy("offset").collect()
    assert [r["format"] for r in rows] == ["arc_filedesc", "arc", "arc"]
    assert rows[1]["url"] == "http://c.example/1"
    assert rows[1]["content_length"] == len(HTTP_PAYLOAD)


def test_warc_filter_modes(records):
    assert AO.warc_filter(records, r"^http://a\.", mode="url").count() == 5
    assert AO.warc_filter(records, r"^http://a\.", mode="url", invert=True).count() == 1
    assert AO.warc_filter(records, "response", mode="type").count() == 3
    assert AO.warc_filter(records, "msgtype=request", mode="content_type").count() == 1
    assert AO.warc_filter(records, "2013-11-15", mode="warc_date").count() == 6
    # http mode parses the payload mime
    assert AO.warc_filter(records, "text/plain", mode="http_content_type").count() == 1
    # any mode: header value or body bytes
    assert AO.warc_filter(records, "hello", mode="any").count() == 1
    assert AO.warc_filter(records, "sha1:AAAA", mode="any").count() == 2


def test_warc_index(records):
    idx = AO.warc_index(records).orderBy("offset").collect()
    assert idx[0]["offset"] == 0
    assert idx[0]["warc_type"] == "response"
    assert idx[0]["warc_subject_uri"] == "http://a.example/x"
    assert idx[0]["content_length"] == len(HTTP_PAYLOAD)
    # '-' for missing values
    assert all(r["warc_record_id"] != "" for r in idx)


def test_warc_valid(records):
    assert AO.warc_valid(records).count() == 0
    from warctools_spark.sources.warc import read_warc as _rw


def _cut_records():
    return [
        _warc_record(b"00000000-0000-0000-0000-00000000010%d" % i, b"response",
                     b"http://cut.example/%d" % i)
        for i in range(3)
    ]


def _read_cut(spark, path, data):
    """read_warc + warc_valid over a truncated segment: both collect
    without a task failure."""
    path.write_bytes(data)
    rows = read_warc(spark, str(path)).collect()
    valid = AO.warc_valid(read_warc(spark, str(path))).collect()
    good = sorted(
        (r["offset"], r["record_id"], bytes(r["content"]))
        for r in rows if not r["errors"]
    )
    return good, {(r["offset"], tuple(r["errors"])) for r in valid}


def test_truncated_gzip_segment(spark, tmp_path):
    """A .warc.gz cut in the middle of its third gzip member: the two
    records before the cut come back intact at their member offsets,
    and the cut is reported twice — the partial record as an error row
    at the cut member's offset, plus a row with a null offset naming
    the truncated member."""
    members = [gzip.compress(r, mtime=0) for r in _cut_records()]
    cut = len(members[0]) + len(members[1])
    good, bad = _read_cut(
        spark, tmp_path / "cut.warc.gz",
        b"".join(members)[: cut + len(members[2]) // 2],
    )
    assert good == [
        (0, "<urn:uuid:00000000-0000-0000-0000-000000000100>", HTTP_PAYLOAD),
        (len(members[0]), "<urn:uuid:00000000-0000-0000-0000-000000000101>",
         HTTP_PAYLOAD),
    ]
    assert len(bad) == 2
    assert (None, ("truncated gzip member at offset %d" % cut,)) in bad
    ((off, errors),) = bad - {(None, ("truncated gzip member at offset %d" % cut,))}
    assert off == cut and errors


def test_truncated_plain_segment(spark, tmp_path):
    """A plain .warc cut in the middle of its third record: the two
    records before the cut intact, the cut one error row at its
    offset."""
    recs = _cut_records()
    cut = len(recs[0]) + len(recs[1])
    good, bad = _read_cut(
        spark, tmp_path / "cut.warc", b"".join(recs)[: cut + len(recs[2]) // 2]
    )
    assert good == [
        (0, "<urn:uuid:00000000-0000-0000-0000-000000000100>", HTTP_PAYLOAD),
        (len(recs[0]), "<urn:uuid:00000000-0000-0000-0000-000000000101>",
         HTTP_PAYLOAD),
    ]
    ((off, errors),) = bad
    assert off == cut and errors


def test_warc2warc_roundtrip(spark, records):
    """-D decode: chunked response content replaced by decoded message
    with recomputed Content-Length; reparse gives the decoded body."""
    out = AO.warc2warc_decode(records)
    rows = {r["record_id"]: r for r in out.collect()}
    chunked = rows["<urn:uuid:00000000-0000-0000-0000-000000000003>"]
    decoded = bytes(chunked["out_content"])
    assert b"Transfer-Encoding" not in decoded
    assert b"Content-Length: 5" in decoded
    assert decoded.endswith(b"hello")
    # non-response rows untouched
    meta = rows["<urn:uuid:00000000-0000-0000-0000-000000000004>"]
    assert bytes(meta["out_content"]) == b"meta"
    # serialized record reparses cleanly
    from warctools_spark.kernels.warc_parse import parse_archive

    rec = parse_archive(bytes(chunked["record_bytes"]))[0]
    assert rec.errors == []
    assert rec.content == decoded


@pytest.mark.skipif(not reference_available(), reason="reference not importable")
def test_warc2warc_parity_vs_reference(spark, records, warc_dir):
    """Differential: our -D output content == reference process()."""
    import sys
    from io import BytesIO

    from hanzo import warctools
    from hanzo.httptools import RequestMessage, ResponseMessage

    ref_contents = {}
    fh = warctools.ArchiveRecord.open_archive(
        file_handle=BytesIO(WARC_FILE)
    )
    for rec in fh:
        content_type, content = rec.content
        if rec.type == b"response" and content_type == ResponseMessage.CONTENT_TYPE.replace(b";msgtype=response", b"") + b";msgtype=response":
            m = ResponseMessage(RequestMessage())
            leftover = m.feed(content)
            m.close()
            if not leftover and m.complete():
                content = m.get_decoded_message()
        ref_contents[rec.get_header(b"WARC-Record-ID").decode()] = content

    ours = {
        r["record_id"]: bytes(r["out_content"])
        for r in AO.warc2warc_decode(records).collect()
    }
    for rid, ref_c in ref_contents.items():
        assert ours[rid] == ref_c, rid


def test_http_triage(records):
    t = AO.http_triage(records).collect()
    assert len(t) == 3
    codes = {r["url"]: r["code"] for r in t}
    assert codes["http://b.example/chunked"] == 200
    bodies = {r["url"]: bytes(r["decoded_body"]) for r in t}
    assert bodies["http://b.example/chunked"] == b"hello"


def test_records_to_pages(records):
    pages = AO.records_to_pages(records)
    rows = pages.collect()
    assert len(rows) == 3
    assert {f.name for f in pages.schema.fields} == {
        "url", "warc_ts", "html", "text", "lang"
    }
    by_url = {r["url"]: r for r in rows}
    assert by_url["http://b.example/chunked"]["text"] == "hello"


def test_arc_to_warc(spark, warc_dir):
    recs = read_warc(spark, f"{warc_dir}/test.arc")
    out = arc_to_warc(recs).orderBy("offset").collect()
    assert len(out) == 2
    http_rec = out[0]
    assert http_rec["warc_type"] == "response"
    assert http_rec["content_type_out"] == "application/http;msgtype=response"
    assert http_rec["warc_date_out"] == "2013-11-13T12:00:00Z"
    assert http_rec["ip_address"] == "10.0.0.1"
    assert http_rec["warc_id"].startswith("<urn:uuid:")
    dns_rec = out[1]
    assert dns_rec["warc_type"] == "resource"  # text/dns + ascii body
    assert dns_rec["ip_address"] is None  # 0.0.0.0 dropped


@pytest.mark.skipif(not reference_available(), reason="reference not importable")
def test_arc_to_warc_uuid_parity(spark, warc_dir):
    from hanzo.arc2warc import ArcTransformer

    recs = read_warc(spark, f"{warc_dir}/test.arc")
    row = arc_to_warc(recs).orderBy("offset").collect()[0]
    ref_id = ArcTransformer.make_warc_uuid(
        b"http://c.example/1" + b"20131113120000"
    ).decode()
    assert row["warc_id"] == ref_id
