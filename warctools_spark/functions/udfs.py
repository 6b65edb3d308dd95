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
from warctools_spark.kernels.links import extract_links
from warctools_spark.kernels.warc_write import warc_uuid, write_warc_record

# Struct produced by the HTTP decoder — mirrors the
# (code, mime, message) triage triple of warcfilter.py:28-46 plus the
# decoded body/message needed by warc2warc -D and text extraction.
HTTP_STRUCT = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("mime", T.StringType()),
        T.StructField("complete", T.BooleanType()),
        T.StructField("body", T.BinaryType()),
        T.StructField("decoded_body", T.BinaryType()),
        T.StructField("decoded_message", T.BinaryType()),
        T.StructField("errors", T.ArrayType(T.StringType())),
    ]
)


def make_udf_decode_http(ignore_headers=(), http09_fallback=False):
    """HTTP response decode udf, optionally ignoring headers at parse
    time — e.g. ("Transfer-Encoding",) replicates warc2warc
    --wget-chunk-fix (warc2warc.py:26,31-34).

    http09_fallback=True re-interprets payloads with no parseable
    HTTP/1.x status line as HTTP/0.9 (whole payload = body, implied
    200 — messaging.py:696-738) instead of surfacing an error row."""
    ignore = tuple(
        h if isinstance(h, bytes) else h.encode("latin-1")
        for h in ignore_headers
    )

    @pandas_udf(HTTP_STRUCT)
    def _udf(html: pd.Series) -> pd.DataFrame:
        return _decode_http_batch(html, ignore, http09_fallback)

    return _udf


def _decode_http_batch(
    html: pd.Series, ignore_headers=(), http09_fallback=False
) -> pd.DataFrame:
    """HTTP response decode (messaging.py feed-whole+close semantics)."""
    from warctools_spark.kernels.http_decode import decode_http_with_09_fallback

    out = {k: [] for k in ("code", "mime", "complete", "body", "decoded_body", "decoded_message", "errors")}
    for payload in html:
        if payload is None:
            res = None
        elif http09_fallback:
            res = decode_http_with_09_fallback(
                bytes(payload), ignore_headers=ignore_headers
            )
        else:
            res = decode_http(
                bytes(payload), kind="response", ignore_headers=ignore_headers
            )
        if res is None:
            out["code"].append(None)
            out["mime"].append(None)
            out["complete"].append(None)
            out["body"].append(None)
            out["decoded_body"].append(None)
            out["decoded_message"].append(None)
            out["errors"].append(None)
        else:
            mime = res.mime
            out["code"].append(res.code)
            out["mime"].append(mime.decode("latin-1") if mime is not None else None)
            out["complete"].append(res.complete)
            out["body"].append(res.body)
            out["decoded_body"].append(res.decoded_body())
            out["decoded_message"].append(res.get_decoded_message())
            out["errors"].append(res.errors)
    return pd.DataFrame(out)


udf_decode_http = make_udf_decode_http()


@pandas_udf(T.StringType())
def udf_extract_text(html: pd.Series) -> pd.Series:
    """Byte-parity text extraction: decoded HTTP body as UTF-8 text
    (= message.get_body() after the decoded-message inflate attempt,
    messaging.py:253-263 + 238-247)."""
    vals = []
    for payload in html:
        if payload is None:
            vals.append(None)
            continue
        res = decode_http(bytes(payload), kind="response")
        body = res.decoded_body()
        try:
            vals.append(body.decode("utf-8"))
        except UnicodeDecodeError:
            vals.append(body.decode("latin-1"))
    return pd.Series(vals, dtype="object")


@pandas_udf(T.ArrayType(T.StringType()))
def udf_extract_links(url: pd.Series, html: pd.Series) -> pd.Series:
    """Outlinks of 2xx text/html responses (warclinks.py:54-66 gates +
    extract_links_from_html). Non-HTML / non-2xx rows -> empty array."""
    out = []
    for u, payload in zip(url, html):
        if payload is None:
            out.append([])
            continue
        res = decode_http(bytes(payload), kind="response")
        mime = res.mime or b""
        if 200 <= res.code < 300 and mime.find(b"html") > -1:
            out.append(extract_links(u or "", res.decoded_body()))
        else:
            out.append([])
    return pd.Series(out, dtype="object")


LINK_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("link", T.StringType()),
            T.StructField("canon_url", T.StringType()),
            T.StructField("url_sha1", T.StringType()),
            T.StructField("host", T.StringType()),
        ]
    )
)


@pandas_udf(LINK_STRUCT)
def udf_harvest_canon(url: pd.Series, html: pd.Series) -> pd.Series:
    """Fused harvest: http decode -> link extract -> canonicalize ->
    sha1 -> host, one Arrow pass (vs 4 separate UDF passes — the
    canonical scan-side shape for the frontier hot path).

    Link-level results are memoized per Arrow batch: web link graphs
    repeat targets heavily, so the urlparse/sha1 work runs once per
    distinct link instead of once per occurrence."""
    out = []
    memo: dict = {}
    for u, payload in zip(url, html):
        if payload is None:
            out.append([])
            continue
        res = decode_http(bytes(payload), kind="response")
        mime = res.mime or b""
        if not (200 <= res.code < 300 and mime.find(b"html") > -1):
            out.append([])
            continue
        rows = []
        for link in extract_links(u or "", res.decoded_body()):
            row = memo.get(link)
            if row is None:
                canon, sha1, host = canon_parts(link)
                row = {
                    "link": link,
                    "canon_url": canon,
                    "url_sha1": sha1,
                    "host": host,
                }
                memo[link] = row
            rows.append(row)
        out.append(rows)
    return pd.Series(out, dtype="object")


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
    """Serialize rows to WARC record bytes (warc.py:76-127), optionally
    one gzip member per record (record.py:167-185)."""
    out = []
    for rid, rtype, u, d, ct, body, gz in zip(
        record_id, record_type, url, date_str, content_type, content, gzip_flag
    ):
        headers = []
        if rtype is not None:
            headers.append((b"WARC-Type", rtype.encode("latin-1")))
        if rid is not None:
            headers.append((b"WARC-Record-ID", rid.encode("latin-1")))
        if d is not None:
            headers.append((b"WARC-Date", d.encode("latin-1")))
        if u is not None:
            headers.append((b"WARC-Target-URI", u.encode("latin-1")))
        out.append(
            write_warc_record(
                headers,
                ct.encode("latin-1") if ct is not None else None,
                bytes(body) if body is not None else b"",
                gzip_record=bool(gz),
            )
        )
    return pd.Series(out, dtype="object")
