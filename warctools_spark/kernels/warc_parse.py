"""WARC/ARC archive parse kernel: whole file bytes -> record rows.

Clean-room batch reimplementation of the reference stream machinery:

* record terminator tolerance — any run of [\\r\\n] between records is
  consumed (stream.py:94-99, 219-222, 249-252)
* WARC version-stamp scan with <=5 junk lines before giving up, prefix
  offset accounting, non-CRLF newline errors, unknown-version errors
  (warc.py:10, 179-229)
* WARC header parse incl. continuation lines joined by b' '
  (warc.py:232-256) and Content-Type/Content-Length capture with
  int-parse error rows (warc.py:260-271)
* ARC filedesc in-band schema: version + names lines consumed from the
  record body, content_length reduced by their length (arc.py:103-139);
  positional space-split header rows with reversed-fencepost repair for
  URLs containing spaces (arc.py:159-173); missing filedesc -> error
  (arc.py:141-142)
* per-record-gzip member splitting with raw member offsets
  (stream.py:183-235), whole-file gzip (stream.py:237-257)
* format autodetect from the first line: WARC version stamp / blank ->
  WARC, filedesc:// -> ARC (archive_detect.py:10-27, warc.py:285-286,
  arc.py:197); mixed per-record dispatch: line starts 'WARC' -> WARC
  else ARC (mixed.py:12-28)

Unlike the reference (which raises mid-iteration), malformed input
produces error entries on the record row — errors are data, not
exceptions, so a 100 TB scan never aborts on one bad record.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field

GZIP_MAGIC = b"\x1f\x8b"

# warc.py:159-166
_VERSION_RX = re.compile(
    rb"^(?P<prefix>.*?)(?P<version>\s*WARC/(?P<number>.*?))(?P<nl>\r\n|\r|\n)\Z",
    re.IGNORECASE,
)
_HEADER_RX = re.compile(
    rb"^(?P<name>.*?):\s?(?P<value>.*?)(?P<nl>\r\n|\r|\n)\Z", re.IGNORECASE
)
_VALUE_RX = re.compile(rb"^\s+(?P<value>.+?)(?P<nl>\r\n|\r|\n)\Z", re.IGNORECASE)
_NL_RX = re.compile(rb"^(?P<nl>\r\n|\r|\n\Z)", re.IGNORECASE)
_TERMINATOR_RX = re.compile(rb"^[\r\n]+$")

_KNOWN_VERSIONS = (b"1.0", b"0.17", b"0.18")
_BAD_LINES = 5  # warc.py:10

# ARC positional split — arc.py:71
_ARC_SPLIT = re.compile(rb"\b\s|\s\b")

# ARC header-name constants (arc.py:14-25)
ARC_URL = b"URL"
ARC_DATE = b"Archive-date"
ARC_CONTENT_TYPE = b"Content-type"
ARC_CONTENT_LENGTH = b"Archive-length"

# WARC header-name constants (warc.py:13-30)
WARC_DATE = b"WARC-Date"
WARC_TYPE = b"WARC-Type"
WARC_ID = b"WARC-Record-ID"
WARC_CONTENT_LENGTH = b"Content-Length"
WARC_CONTENT_TYPE = b"Content-Type"
WARC_URL = b"WARC-Target-URI"


@dataclass
class RecordRow:
    """One parsed archive record (flat, Arrow-friendly)."""

    offset: int | None
    format: str  # 'warc' | 'arc' | 'arc_filedesc'
    version: bytes | None
    headers: list  # [(name, value)] bytes, order + duplicates preserved
    content_type: bytes | None
    content_length: int | None
    content: bytes
    errors: list = field(default_factory=list)

    def get_header(self, name: bytes) -> bytes | None:
        """First case-insensitive match (record.py:132-137)."""
        low = name.lower()
        for k, v in self.headers:
            if k.lower() == low:
                return v
        return None

    @property
    def record_type(self) -> bytes | None:
        if self.format == "warc":
            return self.get_header(WARC_TYPE)
        if self.format == "arc_filedesc":
            return b"filedesc"  # arc.py:55-57
        return b"response"  # arc.py:34-36

    @property
    def url(self) -> bytes | None:
        if self.format == "warc":
            return self.get_header(WARC_URL)
        return self.get_header(ARC_URL)

    @property
    def date(self) -> bytes | None:
        if self.format == "warc":
            return self.get_header(WARC_DATE)
        return self.get_header(ARC_DATE)

    @property
    def record_id(self) -> bytes | None:
        if self.format == "warc":
            return self.get_header(WARC_ID)
        return None


class _Buf:
    """Line-oriented cursor over the (decompressed) archive bytes."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def readline(self) -> bytes:
        i = self.data.find(b"\n", self.pos)
        if i < 0:
            line = self.data[self.pos :]
            self.pos = len(self.data)
        else:
            line = self.data[self.pos : i + 1]
            self.pos = i + 1
        return line

    def take(self, n: int) -> bytes:
        out = self.data[self.pos : self.pos + n]
        self.pos += len(out)
        return out

    def eof(self) -> bool:
        return self.pos >= len(self.data)


def _parse_warc_record(buf: _Buf, offset: int | None, line: bytes):
    """WarcParser.parse (warc.py:179-281). Returns (RecordRow|None, errors)."""
    errors: list = []
    version = None
    match = None
    while line:
        match = _VERSION_RX.match(line)
        if match:
            version = match.group("version")
            if offset is not None:
                offset += len(match.group("prefix"))
            break
        if offset is not None:
            offset += len(line)
        if not _NL_RX.match(line):
            errors.append("ignored line: %r" % line[:64])
            if len(errors) > _BAD_LINES:
                errors.append("too many errors, giving up hope")
                return None, errors, offset
        line = buf.readline()

    if not line:
        if version:
            errors.append("warc version but no headers")
        return None, errors, offset

    content_length = 0
    content_type = None
    headers: list = []
    row_errors = list(errors)

    if match.group("nl") != b"\r\n":
        row_errors.append("incorrect newline in version")
    if match.group("number") not in _KNOWN_VERSIONS:
        row_errors.append("version field is not known")
    if match.group("prefix"):
        row_errors.append("bad prefix on WARC version header")

    line = buf.readline()
    while line and not _NL_RX.match(line):
        hmatch = _HEADER_RX.match(line)
        if hmatch:
            if hmatch.group("nl") != b"\r\n":
                row_errors.append("incorrect newline in header")
            name = hmatch.group("name").strip()
            value = [hmatch.group("value").strip()]
            line = buf.readline()
            vmatch = _VALUE_RX.match(line)
            while vmatch:
                if vmatch.group("nl") != b"\r\n":
                    row_errors.append("incorrect newline in follow header")
                value.append(vmatch.group("value").strip())
                line = buf.readline()
                vmatch = _VALUE_RX.match(line)
            joined = b" ".join(value)
            headers.append((name, joined))
            if name.lower() == WARC_CONTENT_TYPE.lower():
                if joined:
                    content_type = joined
                else:
                    row_errors.append("invalid header (empty content-type)")
            elif name.lower() == WARC_CONTENT_LENGTH.lower():
                try:
                    content_length = int(joined)
                except ValueError:
                    row_errors.append("invalid header (bad content-length)")
        else:
            # the reference would loop forever here; record + skip
            row_errors.append("unparseable header line: %r" % line[:64])
            line = buf.readline()

    content = buf.take(content_length)
    if len(content) < content_length:
        row_errors.append(
            "truncated content: expected %d got %d" % (content_length, len(content))
        )

    row = RecordRow(
        offset=offset,
        format="warc",
        version=version,
        headers=headers,
        content_type=content_type,
        content_length=content_length,
        content=content,
        errors=row_errors,
    )
    return row, (), offset


class _ArcState:
    """ARC in-band schema: header names from the filedesc record
    (arc.py:77-87)."""

    def __init__(self):
        self.version = None
        self.names: list = []


def _arc_split_headers(state: _ArcState, line: bytes):
    """parse_header_list (arc.py:159-173)."""
    line = line.rstrip(b"\r\n")
    values = _ARC_SPLIT.split(line)
    if len(state.names) != len(values):
        if state.names and state.names[0] in (ARC_URL, ARC_CONTENT_TYPE):
            # reversed fencepost repair for URLs containing spaces
            values = [
                s[::-1]
                for s in reversed(_ARC_SPLIT.split(line[::-1], len(state.names) - 1))
            ]
        else:
            values = _ARC_SPLIT.split(line, len(state.names) - 1)
    if len(state.names) != len(values):
        raise ValueError("missing headers")
    return list(zip(state.names, values))


def _arc_content_headers(headers):
    """get_content_headers (arc.py:176-194)."""
    content_type = None
    content_length = None
    errors = []
    for name, value in headers:
        if name.lower() == ARC_CONTENT_TYPE.lower():
            if value:
                content_type = value
            else:
                errors.append("invalid header (empty content-type)")
        elif name.lower() == ARC_CONTENT_LENGTH.lower():
            try:
                content_length = int(value)
            except ValueError:
                errors.append("invalid header (bad archive-length)")
    return content_type, content_length, errors


def _parse_arc_record(buf: _Buf, offset: int | None, line: bytes, state: _ArcState):
    """ArcParser.parse (arc.py:89-154)."""
    while not line.rstrip():
        if not line:
            return None, (), offset
        line = buf.readline()

    if line.startswith(b"filedesc:"):
        arc_version_line = buf.readline()
        arc_names_line = buf.readline()
        state.version = arc_version_line.strip().split()[0] if arc_version_line.strip() else None
        state.names = arc_names_line.strip().split()
        try:
            headers = _arc_split_headers(state, line)
        except ValueError as e:
            return None, [str(e)], offset
        content_type, content_length, errors = _arc_content_headers(headers)
        if content_length is None:
            content_length = 0
            errors = list(errors) + ["missing archive-length"]
        content_length = content_length - len(arc_version_line) - len(arc_names_line)
        content = buf.take(max(content_length, 0))
        row = RecordRow(
            offset=offset,
            format="arc_filedesc",
            version=state.version,
            headers=headers,
            content_type=content_type,
            content_length=content_length,
            content=content,
            errors=list(errors),
        )
        return row, (), offset

    if not state.names:
        return None, ["missing filedesc"], offset
    try:
        headers = _arc_split_headers(state, line)
    except ValueError as e:
        return None, [str(e)], offset
    content_type, content_length, errors = _arc_content_headers(headers)
    if content_length is None:
        content_length = 0
        errors = list(errors) + ["missing archive-length"]
    content = buf.take(content_length)
    if len(content) < content_length:
        errors = list(errors) + [
            "truncated content: expected %d got %d" % (content_length, len(content))
        ]
    row = RecordRow(
        offset=offset,
        format="arc",
        version=None,
        headers=headers,
        content_type=content_type,
        content_length=content_length,
        content=content,
        errors=list(errors),
    )
    return row, (), offset


def _iter_plain(data: bytes, fmt: str):
    """RecordStream._read_record loop (stream.py:88-102): skip
    terminator newlines, parse one record, repeat."""
    buf = _Buf(data)
    arc_state = _ArcState()
    while True:
        # consume any [\r\n]+ terminator lines (stream.py:94-99)
        while True:
            offset = buf.pos
            line = buf.readline()
            if not _TERMINATOR_RX.match(line):
                break
        if not line and buf.eof():
            break

        if fmt == "warc":
            row, errs, offset = _parse_warc_record(buf, offset, line)
        elif fmt == "arc":
            row, errs, offset = _parse_arc_record(buf, offset, line, arc_state)
        else:  # mixed: per-record dispatch (mixed.py:19-28)
            if line.startswith(b"WARC"):
                row, errs, offset = _parse_warc_record(buf, offset, line)
            else:
                row, errs, offset = _parse_arc_record(buf, offset, line, arc_state)

        if row is None:
            if errs:
                yield RecordRow(
                    offset=offset,
                    format=fmt if fmt != "mixed" else "warc",
                    version=None,
                    headers=[],
                    content_type=None,
                    content_length=None,
                    content=b"",
                    errors=list(errs),
                )
            break
        yield row


def split_gzip_members(data: bytes, errors: list | None = None):
    """Split a concatenation of gzip members; yields
    (raw_offset, decompressed_bytes) per member. Mirrors what
    GeeZipFile's member_offset hook observes (stream.py:183-204).
    Truncation/corruption appends to `errors` (decompressobj swallows
    truncated streams silently — d.eof is the real signal)."""
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos : pos + 2] != GZIP_MAGIC:
            if errors is not None:
                errors.append("trailing non-gzip bytes at offset %d" % pos)
            break
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(data[pos:])
        except zlib.error:
            if errors is not None:
                errors.append("corrupt gzip member at offset %d" % pos)
            break
        if not d.eof:
            if errors is not None:
                errors.append("truncated gzip member at offset %d" % pos)
            if out:
                yield pos, out
            break
        consumed = len(data) - pos - len(d.unused_data)
        yield pos, out
        if consumed <= 0:
            break
        pos += consumed


def detect_format(first_line: bytes) -> str | None:
    """guess_record_type (archive_detect.py:10-27) over the registered
    regexes: WARC version stamp or blank -> warc (warc.py:285-286),
    filedesc:// -> arc (arc.py:197)."""
    if _VERSION_RX.match(first_line) or first_line in (b"", b"\n", b"\r\n", b"\r"):
        return "warc"
    if re.match(rb"^filedesc://", first_line):
        return "arc"
    # terminator junk lines still lead to warc via the blank rule
    if _TERMINATOR_RX.match(first_line):
        return "warc"
    return None


def parse_archive(data: bytes, fmt: str = "auto"):
    """Parse a whole (W)ARC file, plain or gzipped, into a list of
    RecordRow.

    fmt: 'auto' | 'warc' | 'arc' | 'mixed'
    Gzip input is sniffed by its magic (archive_detect.py:5-8) and read
    as per-record members like open_record_stream (stream.py:31-41); a
    whole-file gzip is one member.
    """
    rows: list[RecordRow] = []
    if data[:2] == GZIP_MAGIC:
        # member offsets are the raw file offsets (stream.py:213-229);
        # records may span members, so parse the concatenated
        # decompressed stream and map record starts back to members
        gz_errors: list = []
        members = list(split_gzip_members(data, gz_errors))
        if not members:
            return [
                RecordRow(
                    0,
                    "warc",
                    None,
                    [],
                    None,
                    None,
                    b"",
                    gz_errors or ["bad gzip data"],
                )
            ]
        joined = b"".join(m[1] for m in members)
        # decompressed-start -> raw member offset
        spans = []
        dpos = 0
        for raw_off, chunk in members:
            spans.append((dpos, raw_off))
            dpos += len(chunk)
        if fmt == "auto":
            fmt = detect_format(_Buf(joined).readline()) or "warc"
        for row in _iter_plain(joined, fmt):
            dstart = row.offset
            raw = None
            if dstart is not None:
                for s, r in spans:
                    if s <= dstart:
                        raw = r
                    else:
                        break
            row.offset = raw
            rows.append(row)
        if gz_errors:
            rows.append(
                RecordRow(None, fmt, None, [], None, None, b"", gz_errors)
            )
        return rows

    if fmt == "auto":
        fmt = detect_format(_Buf(data).readline()) or "warc"
    return list(_iter_plain(data, fmt))
