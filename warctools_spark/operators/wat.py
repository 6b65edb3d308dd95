"""WAT metadata sidecar records — the third Common-Crawl artifact
family (WARC = raw, WET = extracted text, WAT = per-record metadata
JSON). The reference has no WAT tool; the record model follows its
WARC writer semantics (warc.py:76-127) and the envelope layout
follows the public IIPC WAT specification / Common Crawl's published
WAT structure: a WARC `metadata` record per response whose payload is
a JSON "Envelope" carrying the WARC headers, HTTP response metadata,
and HTML head/link metadata.

Determinism contract: the JSON payload is `json.dumps(...,
sort_keys=True, separators=(",", ":"))` — a pure function of the
page row, bit-identical across partitionings and runs, so the
serialized record (and its digest/length) is oracle-checkable.

Scale: one Arrow pass per partition (mapInPandas) over a pruned
(url, ts, html) projection — decode, link extraction, title scan,
JSON build, WARC serialization, and reparse verification all happen
scan-side with no shuffle at any corpus size; the operator inherits
the input's partitioning. The flat metadata projection (`url,
http_status, mime, title, n_links, links_digest`) is the
SQL-replayable surface; `payload` / `record_bytes` carry the full
sidecar for sinks.
"""

from __future__ import annotations

import hashlib
import json
import re

from pyspark.sql import DataFrame

# \s|> boundary so <titlebar>-style tags don't match; SVG/commented
# <title> occurrences can still win (documented limit — the kernel is
# a regex scan, not a DOM).
_TITLE_RE = re.compile(rb"<title(?:\s[^>]*)?>(.*?)</title>", re.I | re.S)

WAT_SCHEMA = (
    "url string, rec_type string, refers_to string, http_status int, "
    "mime string, title string, n_links int, links_digest string, "
    "content_length bigint, payload string, record_bytes binary"
)


def _title_of(body: bytes) -> str | None:
    m = _TITLE_RE.search(body)
    if not m:
        return None
    t = re.sub(rb"\s+", b" ", m.group(1)).strip()
    return t.decode("utf-8", "replace") if t else None


def wat_records(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    gzip_output: bool = False,
) -> DataFrame:
    """pages -> one WAT metadata record per well-formed page row.

    Rows with a null url, null/unparseable timestamp, or null payload
    produce no sidecar record (a sidecar derives FROM a fetched
    response; rows that never identified or dated one have nothing to
    describe — same skip-don't-crash posture as the harvest gate).

    Per row: decode the HTTP response (http_decode kernel), extract
    outlinks with the same gate as `harvest_canonicalized` (2xx + html mime;
    warclinks.py:54-66), scan the decoded body for <title>, build the
    sorted-key JSON envelope, serialize it as a WARC metadata record
    (write_sidecar_record — the same md5-of-url uuid convention as
    `wet_conversion`), then reparse the serialized bytes with the
    parse kernel so the emitted `content_length`/`rec_type` are read
    back from the wire format, not assumed.

    Envelope fidelity notes: Link objects are url-only — the harvest
    kernel returns flat links for every link-bearing tag/attr
    (mirroring reference warclinks), so per-link `path` provenance
    (CC's `A@/href`) is not known and is not fabricated. Repeated
    HTTP headers (Set-Cookie et al.) become a JSON array under their
    one Headers key — lossless and deterministic, where comma-joining
    would collide with the commas inside cookie Expires dates.

    `links_digest` = md5 of the extracted links joined by '\\n' in
    document order (null when no links) — a fixed-width per-page
    summary of the link list that a SQL oracle can recompute with
    `md5(string_agg(link, chr(10) ORDER BY i))`.
    """
    import pandas as pd

    from warctools_spark.kernels.http_decode import decode_http
    from warctools_spark.kernels.links import extract_links
    from warctools_spark.kernels.warc_parse import parse_archive
    from warctools_spark.kernels.warc_write import (
        decode_sidecar_url,
        write_sidecar_record,
    )

    def run(batches):
        for pdf in batches:
            out = []
            for url, ts, html in zip(pdf[url_col], pdf[ts_col], pdf[html_col]):
                if url is None or html is None or pd.isna(ts):
                    continue
                res = decode_http(bytes(html), kind="response")
                body = res.decoded_body()
                mime = (res.mime or b"").decode("latin-1") or None
                is_html = (
                    200 <= res.code < 300
                    and mime is not None
                    and mime.find("html") > -1
                )
                links = extract_links(url, body) if is_html else []
                title = _title_of(body) if is_html else None

                # repeated headers (Set-Cookie) become a JSON array —
                # comma-joining would be ambiguous because cookie
                # Expires dates legally contain commas
                headers: dict = {}
                for k, v in res.headers:
                    ks = k.decode("latin-1")
                    vs = v.decode("latin-1")
                    if ks in headers:
                        cur = headers[ks]
                        if isinstance(cur, list):
                            cur.append(vs)
                        else:
                            headers[ks] = [cur, vs]
                    else:
                        headers[ks] = vs
                env: dict = {
                    "Envelope": {
                        "Format": "WARC",
                        "WARC-Header-Metadata": {
                            "WARC-Type": "response",
                            "WARC-Target-URI": url,
                            "WARC-Date": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                        },
                        "Payload-Metadata": {
                            "Actual-Content-Length": len(body),
                            "HTTP-Response-Metadata": {
                                "Response-Message": {
                                    "Status": res.code,
                                    "Version": res.version.decode("latin-1"),
                                    "Reason": res.phrase.decode("latin-1"),
                                },
                                "Headers": headers,
                            },
                        },
                    }
                }
                if is_html:
                    html_meta: dict = {
                        "Links": [{"url": link} for link in links]
                    }
                    if title is not None:
                        html_meta["Head"] = {"Title": title}
                    env["Envelope"]["Payload-Metadata"][
                        "HTTP-Response-Metadata"
                    ]["HTML-Metadata"] = html_meta

                payload = json.dumps(
                    env, sort_keys=True, separators=(",", ":")
                )
                rec = write_sidecar_record(
                    url,
                    ts,
                    b"metadata",
                    b"wat-",
                    b"application/json",
                    payload.encode("utf-8"),
                    gzip_record=gzip_output,
                )
                (row,) = parse_archive(rec, fmt="warc", gzip_mode="auto")
                digest = (
                    hashlib.md5("\n".join(links).encode("utf-8")).hexdigest()
                    if links
                    else None
                )
                out.append(
                    {
                        "url": decode_sidecar_url(row.url),
                        "rec_type": (row.record_type or b"").decode("latin-1"),
                        "refers_to": (
                            row.get_header(b"WARC-Refers-To") or b""
                        ).decode("latin-1"),
                        "http_status": res.code,
                        "mime": mime,
                        "title": title,
                        "n_links": len(links),
                        "links_digest": digest,
                        "content_length": row.content_length,
                        "payload": payload,
                        "record_bytes": rec,
                    }
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "url",
                    "rec_type",
                    "refers_to",
                    "http_status",
                    "mime",
                    "title",
                    "n_links",
                    "links_digest",
                    "content_length",
                    "payload",
                    "record_bytes",
                ],
            )

    return pages.select(url_col, ts_col, html_col).mapInPandas(run, WAT_SCHEMA)


def wat_metadata(pages: DataFrame, **kw) -> DataFrame:
    """The SQL-replayable flat projection of `wat_records` — the
    round-6 registration surface (url, http_status, mime, title,
    n_links, links_digest)."""
    return wat_records(pages, **kw).select(
        "url", "http_status", "mime", "title", "n_links", "links_digest"
    )
