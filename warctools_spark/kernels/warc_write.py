"""WARC record serialization kernel.

Clean-room reimplementation of WarcRecord._write_to
(/root/reference/hanzo/warctools/warc.py:76-127) and the per-record
gzip wrapper (record.py:167-185). Golden-byte parity is pinned by
tests mirroring test_warctools.py:292-361.

Determinism note: the reference's GzipFile embeds wall-clock mtime in
the member header; we write mtime=0 so serialized bytes are stable
across runs (decompressed payload is byte-identical either way).
"""

from __future__ import annotations

import gzip as _gzip
import hashlib
import io
import uuid as _uuid
from datetime import datetime

WARC_VERSION = b"WARC/1.0"
CONTENT_TYPE = b"Content-Type"
CONTENT_LENGTH = b"Content-Length"


def write_warc_record(
    headers,
    content_type: bytes | None,
    content: bytes | None,
    gzip_record: bool = False,
) -> bytes:
    """Serialize one WARC record.

    Mirrors the content-tuple branch of _write_to (warc.py:101-127):
    any Content-Type / Content-Length in `headers` are dropped (exact
    name match, warc.py:89) and re-derived from the content tuple.
    """
    out = io.BytesIO()
    out.write(WARC_VERSION)
    out.write(b"\r\n")
    for k, v in headers:
        if k not in (CONTENT_TYPE, CONTENT_LENGTH):
            out.write(k)
            out.write(b": ")
            out.write(v)
            out.write(b"\r\n")
    if content_type:
        out.write(CONTENT_TYPE)
        out.write(b": ")
        out.write(content_type)
        out.write(b"\r\n")
    if content is None:
        content = b""
    out.write(CONTENT_LENGTH)
    out.write(b": ")
    out.write(str(len(content)).encode("ascii"))
    out.write(b"\r\n")
    out.write(b"\r\n")  # end of headers
    if content:
        out.write(content)
    out.write(b"\r\n")
    out.write(b"\r\n")
    raw = out.getvalue()
    if gzip_record:
        return gzip_member(raw)
    return raw


def gzip_member(raw: bytes) -> bytes:
    """One deterministic gzip member per record (record.py:172-182)."""
    buf = io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", compresslevel=9, mtime=0) as gz:
        gz.write(raw)
    return buf.getvalue()


def warc_uuid(text: bytes) -> bytes:
    """Deterministic record id: uuid from sha1 prefix (warc.py:146-148)."""
    return "<urn:uuid:{}>".format(
        _uuid.UUID(hashlib.sha1(text).hexdigest()[0:32])
    ).encode("ascii")


def block_digest(content: bytes) -> str:
    """'sha256:' + hexdigest (warc.py:139-144)."""
    return "sha256:%s" % hashlib.sha256(content).hexdigest()


def warc_datetime_str(d: datetime) -> bytes:
    """ISO format truncated at sub-seconds + 'Z' (warc.py:361-365)."""
    s = d.isoformat()
    if "." in s:
        s = s[: s.find(".")]
    return (s + "Z").encode("utf-8")


def write_sidecar_record(
    url: str,
    ts,
    warc_type: bytes,
    id_prefix: bytes,
    content_type: bytes,
    payload: bytes,
    gzip_record: bool = False,
) -> bytes:
    """The sidecar-record convention of the WET family
    (operators/archive_ops.py::wet_conversion): a derived record whose
    WARC-Record-ID is `urn:uuid:<prefix><md5(url)>` and whose
    WARC-Refers-To is `urn:uuid:<md5(url)>` — the deterministic uuid
    of the response record it was derived from.

    Target-URI is UTF-8-encoded (ASCII-identical for ASCII urls;
    IRIs serialize instead of raising like latin-1 would) — readers
    of sidecar records must decode it as UTF-8 (see
    decode_sidecar_url). Dates go through warc_datetime_str (the one
    WARC date convention this kernel exports); tz-aware timestamps
    are normalized to naive UTC first so the 'Z' suffix stays
    truthful.
    """
    uhash = hashlib.md5(url.encode("utf-8")).hexdigest().encode()
    if getattr(ts, "tzinfo", None) is not None:
        from datetime import timezone as _tz

        ts = ts.astimezone(_tz.utc).replace(tzinfo=None)
    date = warc_datetime_str(ts)
    return write_warc_record(
        [
            (b"WARC-Type", warc_type),
            (b"WARC-Record-ID", b"<urn:uuid:" + id_prefix + uhash + b">"),
            (b"WARC-Refers-To", b"<urn:uuid:" + uhash + b">"),
            (b"WARC-Date", date),
            (b"WARC-Target-URI", url.encode("utf-8")),
        ],
        content_type,
        payload,
        gzip_record=gzip_record,
    )


def decode_sidecar_url(raw: bytes | None) -> str:
    """Decode a Target-URI written by write_sidecar_record: UTF-8
    with replacement (ASCII-identical for ASCII urls) — the paired
    read convention, so sidecar operators can't half-migrate to a
    different charset than the writer."""
    return (raw or b"").decode("utf-8", "replace")
