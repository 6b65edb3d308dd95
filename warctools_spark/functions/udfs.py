"""Vectorized pandas UDFs wrapping the pure kernels.

Every UDF is Arrow-batched (`pandas_udf`) — no per-row Python UDFs
anywhere in the engine (BASELINE.json input_hint). The kernels
themselves are per-value Python, but they run over whole Arrow batches
inside one Python worker call, which is the Spark-idiomatic shape for
byte-level logic that Catalyst expressions cannot express (HTTP state
machines, HTML parsing).

Everything built-in-expressible stays JVM-side in exprs.py instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from warctools_spark.kernels.canon import canon_parts_fast as canon_parts
from warctools_spark.kernels.canon import url_host
from warctools_spark.kernels.http_decode import decode_http
from warctools_spark.kernels.links import page_links
from warctools_spark.kernels.warc_write import warc_uuid, write_warc_record

# Struct produced by the HTTP decoder: the (code, mime) triage pair of
# warcfilter.py:28-46, whether the message was complete, and the raw
# and decoded bodies (sitemap seeds, http_triage).
HTTP_STRUCT = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("mime", T.StringType()),
        T.StructField("complete", T.BooleanType()),
        T.StructField("body", T.BinaryType()),
        T.StructField("decoded_body", T.BinaryType()),
    ]
)


def _header_names(ignore_headers) -> tuple:
    return tuple(
        h if isinstance(h, bytes) else h.encode("latin-1") for h in ignore_headers
    )


def _mime(res):
    mime = res.mime
    return mime.decode("latin-1") if mime is not None else None


def _body_text(res) -> str:
    """Decoded HTTP body as UTF-8 text, latin-1 when it is not UTF-8
    (= message.get_body() after the decoded-message inflate attempt,
    messaging.py:253-263 + 238-247)."""
    body = res.decoded_body()
    try:
        return body.decode("utf-8")
    except UnicodeDecodeError:
        return body.decode("latin-1")


@pandas_udf(HTTP_STRUCT)
def udf_decode_http(html: pd.Series) -> pd.DataFrame:
    """HTTP response decode (messaging.py feed-whole+close semantics);
    a null payload gives a row of nulls."""
    out = {k: [] for k in HTTP_STRUCT.fieldNames()}
    for payload in html:
        if payload is None:
            for col in out.values():
                col.append(None)
            continue
        res = decode_http(payload)
        out["code"].append(res.code)
        out["mime"].append(_mime(res))
        out["complete"].append(res.complete)
        out["body"].append(res.body)
        out["decoded_body"].append(res.decoded_body())
    return pd.DataFrame(out)


@pandas_udf(T.StringType())
def udf_extract_text(html: pd.Series) -> pd.Series:
    """Byte-parity text extraction: decoded HTTP body as UTF-8 text
    (see _body_text)."""
    return pd.Series(
        [
            None if payload is None else _body_text(decode_http(bytes(payload)))
            for payload in html
        ],
        dtype="object",
    )


CDX_STRUCT = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("mime", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


@pandas_udf(CDX_STRUCT)
def udf_cdx_fields(html: pd.Series) -> pd.DataFrame:
    """(code, mime, text) of one decode per page: the status and mime
    of udf_decode_http and the text of udf_extract_text."""
    out = {k: [] for k in CDX_STRUCT.fieldNames()}
    for payload in html:
        if payload is None:
            for col in out.values():
                col.append(None)
            continue
        res = decode_http(bytes(payload))
        out["code"].append(res.code)
        out["mime"].append(_mime(res))
        out["text"].append(_body_text(res))
    return pd.DataFrame(out)


@pandas_udf(T.ArrayType(T.StringType()))
def udf_extract_links(url: pd.Series, html: pd.Series) -> pd.Series:
    """Outlinks of 2xx text/html responses (kernels/links.page_links);
    non-HTML / non-2xx / null rows -> empty array."""
    return pd.Series(
        [page_links(u, payload) for u, payload in zip(url, html)], dtype="object"
    )


@pandas_udf(T.StringType())
def udf_canonicalize_url(url: pd.Series) -> pd.Series:
    return url.map(lambda u: canon_parts(u)[0] if u is not None else None)


@pandas_udf(T.StringType())
def udf_url_sha1(url: pd.Series) -> pd.Series:
    return url.map(lambda u: canon_parts(u)[1] if u is not None else None)


@pandas_udf(T.StringType())
def udf_url_host(url: pd.Series) -> pd.Series:
    return url.map(lambda u: url_host(u) if u is not None else None)


@pandas_udf(T.StringType())
def udf_warc_uuid(text: pd.Series) -> pd.Series:
    """Deterministic WARC record id (warc.py:146-148)."""
    return text.map(
        lambda t: warc_uuid(t.encode("utf-8")).decode("ascii") if t is not None else None
    )


def _warc_record_bytes(rid, rtype, url, date, ctype, body, gz) -> bytes:
    """One row's WARC record bytes (warc.py:76-127), optionally one
    gzip member (record.py:167-185); null header values are left out."""
    headers = []
    for name, value in (
        (b"WARC-Type", rtype),
        (b"WARC-Record-ID", rid),
        (b"WARC-Date", date),
        (b"WARC-Target-URI", url),
    ):
        if value is not None:
            headers.append((name, value.encode("latin-1")))
    return write_warc_record(
        headers,
        ctype.encode("latin-1") if ctype is not None else None,
        bytes(body) if body is not None else b"",
        gzip_record=bool(gz),
    )


@pandas_udf(T.BinaryType())
def udf_write_warc(
    record_id: pd.Series,
    record_type: pd.Series,
    url: pd.Series,
    date_str: pd.Series,
    content_type: pd.Series,
    content: pd.Series,
    gzip_flag: pd.Series,
) -> pd.Series:
    """Serialize rows to WARC record bytes (see _warc_record_bytes)."""
    return pd.Series(
        [
            _warc_record_bytes(*row)
            for row in zip(
                record_id, record_type, url, date_str, content_type, content, gzip_flag
            )
        ],
        dtype="object",
    )


W2W_STRUCT = T.StructType(
    [
        T.StructField("out_content", T.BinaryType()),
        T.StructField("record_bytes", T.BinaryType()),
    ]
)


def warc2warc_row(rid, rtype, url, date, ctype, content, gz, ignore_headers=()):
    """warc2warc -D for one record (warc2warc.py:33-61): an http
    `response` record whose payload decodes complete and without
    errors gets the decoded message as its content (chunking
    stripped, body inflated, Content-Length rewritten); every other
    record keeps its content. Returns (out_content, record_bytes)."""
    out = content
    if (
        content is not None
        and rtype == "response"
        and ctype is not None
        and ctype.startswith("application/http")
    ):
        res = decode_http(content, ignore_headers=ignore_headers)
        if res.complete and not res.errors:
            out = res.get_decoded_message()
    return out, _warc_record_bytes(rid, rtype, url, date, ctype, out, gz)


def make_udf_warc2warc(ignore_headers=()):
    """warc2warc -D as one Arrow pass: (record_id, record_type, url,
    warc_date, content_type, content, gzip flag) ->
    struct<out_content, record_bytes>. `ignore_headers` are dropped at
    parse time — e.g. ("Transfer-Encoding",) replicates warc2warc
    --wget-chunk-fix (warc2warc.py:26,31-34)."""
    ignore = _header_names(ignore_headers)

    @pandas_udf(W2W_STRUCT)
    def _udf(*cols: pd.Series) -> pd.DataFrame:
        rows = [warc2warc_row(*row, ignore) for row in zip(*cols)]
        return pd.DataFrame(rows, columns=W2W_STRUCT.fieldNames())

    return _udf
