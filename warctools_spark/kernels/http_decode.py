"""HTTP/1.x message decode kernel.

Clean-room batch reimplementation of the reference push parser
(`/root/reference/hanzo/httptools/messaging.py:30-740` and
`semantics.py:102-104`) for the "feed the entire payload once, then
close()" call pattern — which is the only pattern the reference CLI
operators use (warc2warc.py:48, warcfilter.py:31-33, warclinks.py:35-36).

Semantics cloned (verified by differential tests in
tests/test_http_kernel.py):

* start-line skip of leading blank lines (messaging.py:191-199)
* header continuation lines joined with b' ' (messaging.py:456-461)
* semantic header extraction at the end-of-headers blank line with the
  reference's precedence: first Content-Length wins only while mode is
  'close'; Transfer-Encoding: chunked overrides; Content-Encoding value
  stored lowercased (messaging.py:463-492)
* has_body(): 1xx/204/304 responses have no body (messaging.py:615-621,
  semantics.py:102-104); responses decode without a request context,
  as the reference CLI operators feed them
* chunked decode incl. trailers and the BrokenChunks fallback to an
  identity body when the *first* chunk-size line is garbage
  (messaging.py:266-353, 126-139)
* Content-Length body, and the ZipLengthReader gzip-at-feed-time path
  when Content-Encoding ends with 'gzip' (messaging.py:106-124, 372-399)
* connection-close bodies (no Content-Length: everything to EOF)
* interim "100 Continue" response skipping (messaging.py:644-660) —
  one skip per feed call, exactly like the reference
* close() truncating the last body chunk and marking 'incomplete'
  (messaging.py:142-154)
* get_decoded_message(): start line + headers minus
  Content-Length/Transfer-Encoding/Content-Encoding/TE/Expect/Trailer
  (when there is a body), recomputed Content-Length, zlib-raw then
  gzip-wrapped body inflate with Content-Encoding re-emitted (lowercase)
  when both fail (messaging.py:231-251, 402-437)
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field
from gzip import GzipFile
from io import BytesIO

_NEWLINES = (b"\r\n", b"\n")

# headers stripped from the decoded message when the message has a body
# (messaging.py:403-405)
_STRIP_HEADERS = (
    b"content-length",
    b"transfer-encoding",
    b"content-encoding",
    b"te",
    b"expect",
    b"trailer",
)

# messaging.py:507-510
_URL_RX = re.compile(
    rb"(?P<scheme>https?)://(?P<authority>(?P<host>[^:/]+)(?::(?P<port>\d+))?)"
    rb"(?P<path>.*)",
    re.I,
)


def _code_has_no_body(code: int) -> bool:
    """semantics.py:102-104."""
    return (100 <= code < 200) or code == 204 or code == 304


@dataclass
class HttpResult:
    """Outcome of decoding one HTTP/1.x message from a byte payload."""

    kind: str = "response"  # 'response' | 'request'
    complete: bool = False  # the parser ended in 'end', not 'incomplete'
    leftover: bytes = b""
    version: bytes = b""
    code: int = 0
    phrase: bytes = b""
    method: bytes = b""
    target_uri: bytes = b""
    headers: list = field(default_factory=list)  # [(name, value)] original case
    trailers: list = field(default_factory=list)
    encoding: bytes | None = None  # lowercased Content-Encoding value
    body: bytes = b""
    errors: list = field(default_factory=list)

    @property
    def mime(self) -> bytes | None:
        """First Content-Type header value split on ';' —
        warcfilter.py:40-46 / warclinks.py:45-50."""
        for k, v in self.headers:
            if k.lower() == b"content-type":
                return v.split(b";")[0]
        return None

    def get_decoded_message(self) -> bytes:
        """messaging.py:218-251: reconstructed message with chunking
        stripped, body inflated and Content-Length recomputed."""
        buf = bytearray()
        has_body = self._has_body()
        # start line (messaging.py:573-574 / 623-624)
        if self.kind == "request":
            buf += self.method + b" " + self.target_uri + b" " + self.version + b"\r\n"
        else:
            buf += (
                self.version
                + b" "
                + str(self.code).encode("ascii")
                + b" "
                + self.phrase
                + b"\r\n"
            )
        strip = _STRIP_HEADERS if has_body else ()
        for k, v in self.headers:
            if k.lower() not in strip:
                buf += k + b": " + v + b"\r\n"
        for k, v in self.trailers:
            if k.lower() not in strip:
                buf += k + b": " + v + b"\r\n"
        if has_body:
            buf += b"Content-Length: " + str(len(self.body)).encode("ascii") + b"\r\n"
        body = self.body
        if self.encoding and body:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                try:
                    body = zlib.decompress(body, 16 + zlib.MAX_WBITS)
                except zlib.error:
                    buf += b"Content-Encoding: " + self.encoding + b"\r\n"
        buf += b"\r\n"
        buf += body
        return bytes(buf)

    def decoded_body(self) -> bytes:
        """The body after the same inflate attempt the decoded message
        makes — what downstream text extraction consumes."""
        body = self.body
        if self.encoding and body:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                try:
                    body = zlib.decompress(body, 16 + zlib.MAX_WBITS)
                except zlib.error:
                    pass
        return body

    def _has_body(self) -> bool:
        if self.kind == "request":
            return self._req_mode in ("chunked", "length")
        return not _code_has_no_body(self.code)

    # internal carried for has_body computation
    _req_mode: str = "close"


class _Head:
    """Parsed start line + headers with the reference's semantic header
    state machine (messaging.py:402-501)."""

    def __init__(self, kind: str, ignore_headers=()):
        self.kind = kind
        self.headers: list = []
        self.trailers: list = []
        self.mode = "close"  # close | length | chunked
        self.content_length: int | None = None
        self.encoding: bytes | None = None
        self.ignore = set(h.lower() for h in ignore_headers)
        self.version = b""
        self.code = 0
        self.phrase = b""
        self.method = b""
        self.target_uri = b""
        self.errors: list = []

    def set_start_line(self, line: bytes) -> None:
        if self.kind == "request":
            # messaging.py:544-568
            parts = line.rstrip().split(b" ", 2)
            if len(parts) == 3:
                self.method, self.target_uri, self.version = parts
            else:
                self.errors.append("bad request line")
                self.method = parts[0] if parts else b""
                return
            if self.method.upper() != b"CONNECT":
                # absolute-URI -> origin-form rewrite (messaging.py:552-565)
                m = _URL_RX.match(self.target_uri)
                if m:
                    self.target_uri = m.group("path")
                    if not self.target_uri:
                        # the reference's OPTIONS check compares bytes to
                        # str and never fires, so '/' always wins
                        self.target_uri = b"/"
        else:
            # messaging.py:606-611 — reason phrase optional
            parts = line.rstrip().split(b" ", 2)
            if len(parts) < 2:
                self.errors.append("bad status line")
                self.version = parts[0] if parts else b""
                return
            self.version = parts[0]
            self.phrase = parts[2] if len(parts) >= 3 else b""
            try:
                self.code = int(parts[1])
            except ValueError:
                self.errors.append("bad status code")

    def add_header_line(self, line: bytes) -> bool:
        """Returns True when the blank end-of-headers line was consumed.
        messaging.py:456-498."""
        if line.startswith(b" ") or line.startswith(b"\t"):
            if self.headers:
                k, v = self.headers.pop()
                self.headers.append((k, v + b" " + line.strip()))
            return False
        if line in _NEWLINES:
            self._finalize()
            return True
        if b":" not in line:
            # the reference raises ValueError here (unsplittable header);
            # we record an error row instead of aborting the batch
            self.errors.append("unparseable header line")
            return False
        name, value = line.split(b":", 1)
        self.headers.append((name.strip(), value.strip()))
        return False

    def add_trailer_line(self, line: bytes) -> bool:
        """messaging.py:439-451; returns True at the blank line."""
        if line.startswith(b" ") or line.startswith(b"\t"):
            if self.trailers:
                k, v = self.trailers.pop()
                self.trailers.append((k, v + b" " + line.strip()))
            return False
        if line in _NEWLINES:
            return True
        if b":" not in line:
            self.errors.append("unparseable trailer line")
            return False
        name, value = line.split(b":", 1)
        self.trailers.append((name.strip(), value.strip()))
        return False

    def _finalize(self) -> None:
        # messaging.py:463-492 — scan all headers in order, lowercased
        for name, value in self.headers:
            name = name.lower()
            value = value.lower()
            if name in self.ignore:
                pass
            elif name == b"content-length":
                if self.mode == "close":
                    try:
                        self.content_length = int(value)
                        self.mode = "length"
                    except ValueError:
                        self.errors.append("bad content-length")
            elif name == b"transfer-encoding":
                if b"chunked" in value:
                    self.mode = "chunked"
            elif name == b"content-encoding":
                self.encoding = value

    def has_body(self) -> bool:
        if self.kind == "request":
            return self.mode in ("chunked", "length")
        return not _code_has_no_body(self.code)


class _Cursor:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def readline(self) -> bytes | None:
        """Return the next b'\\n'-terminated line, or None if no newline
        remains (mirrors feed_line buffering, messaging.py:166-180)."""
        i = self.data.find(b"\n", self.pos)
        if i < 0:
            return None
        line = self.data[self.pos : i + 1]
        self.pos = i + 1
        return line

    def rest(self) -> bytes:
        return self.data[self.pos :]

    def take(self, n: int) -> bytes:
        out = self.data[self.pos : self.pos + n]
        self.pos += len(out)
        return out

    def eof(self) -> bool:
        return self.pos >= len(self.data)


def _parse_one(data: bytes, kind: str, ignore_headers=()) -> HttpResult:
    """feed(data) once + close(), one message (no 100-continue logic)."""
    res = HttpResult(kind=kind)
    head = _Head(kind, ignore_headers)
    cur = _Cursor(data)
    body = bytearray()
    mode = "start"
    incomplete_tail = b""  # bytes buffered but not forming a full line

    # --- start line (messaging.py:191-199) ---
    # NB: feed() runs feed_start once per call, so a single whole-payload
    # feed consumes at most ONE leading blank line and then stalls with
    # the rest unread (HTTPMessage.feed:95-101) — mirrored exactly.
    line = cur.readline()
    if line is None:
        incomplete_tail = cur.rest()
    elif line in _NEWLINES:
        res.leftover = cur.rest()
        res.complete = False
        res.headers = head.headers
        res.errors = head.errors
        return res
    else:
        head.set_start_line(line)
        mode = "headers"

    # --- headers ---
    if mode == "headers":
        while True:
            line = cur.readline()
            if line is None:
                incomplete_tail = cur.rest()
                break
            if head.add_header_line(line):
                mode = "body"
                break

    leftover = b""
    body_complete = False
    used_reader = True

    if mode == "body":
        if not head.has_body():
            mode = "end"
            body_complete = True
            leftover = cur.rest()
        elif head.mode == "chunked":
            mode, leftover = _read_chunked(cur, head, body, res)
            body_complete = mode == "end"
        else:
            length = head.content_length if head.mode == "length" else None
            if length is not None:
                if head.encoding and head.encoding.endswith(b"gzip"):
                    # ZipLengthReader (messaging.py:372-399): try to
                    # inflate the first `length` bytes as gzip at feed
                    # time; on success the *decompressed* text becomes
                    # the body and any raw trailing bytes are swallowed.
                    raw = cur.rest()
                    # fast path: one zlib call for the common clean
                    # single-member gzip. Strictly conservative — any
                    # other outcome (multi-member, trailing bytes,
                    # truncation, zlib error) re-runs the exact
                    # GzipFile semantics below, so behavior including
                    # raised-exception classes is unchanged.
                    inflated = None
                    try:
                        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                        out = d.decompress(raw[:length])
                        if d.eof and not d.unused_data:
                            inflated = out
                    except zlib.error:
                        pass
                    if inflated is not None:
                        body += inflated
                        cur.pos = len(cur.data)
                        mode = "end"
                        body_complete = True
                    else:
                        try:
                            with GzipFile(fileobj=BytesIO(raw[:length]), mode="rb") as gz:
                                inflated = gz.read()
                            body += inflated
                            cur.pos = len(cur.data)
                            mode = "end"
                            body_complete = True
                        except (OSError, EOFError):
                            # fallback: read len(text) bytes, i.e. everything
                            # currently available (messaging.py:383-385)
                            body += raw
                            cur.pos = len(cur.data)
                            mode = "end"
                            body_complete = True
                else:
                    took = cur.take(length)
                    body += took
                    if len(took) == length:
                        mode = "end"
                        body_complete = True
                        leftover = cur.rest()
                        cur.pos = len(cur.data)
                    else:
                        mode = "body"  # starved -> incomplete at close
            else:
                # connection close: everything to EOF is body
                used_reader = False
                body += cur.rest()
                cur.pos = len(cur.data)
                mode = "body"

    # --- close() (messaging.py:142-154) ---
    if mode == "body" and not used_reader:
        mode = "end"
        body_complete = True
    elif mode != "end":
        mode = "incomplete"
        if incomplete_tail:
            # unterminated line bytes never became part of anything
            pass

    res.complete = mode == "end"
    res.leftover = leftover
    res.version = head.version
    res.code = head.code
    res.phrase = head.phrase
    res.method = head.method
    res.target_uri = head.target_uri
    res.headers = head.headers
    res.trailers = head.trailers
    res.encoding = head.encoding
    res.body = bytes(body)
    res.errors = head.errors
    res._req_mode = head.mode
    return res


def _read_chunked(cur: _Cursor, head: _Head, body: bytearray, res: HttpResult):
    """ChunkReader.feed (messaging.py:266-353). Returns (mode, leftover)."""
    first = True
    while True:
        start_pos = cur.pos
        line = cur.readline()
        if line is None:
            return "body", b""  # starved mid chunk-size -> incomplete
        try:
            chunk = int(line.split(b";", 1)[0], 16)
        except ValueError:
            if first:
                # BrokenChunks (messaging.py:296-304, 126-139): undo and
                # treat the entire remaining text as an identity body
                cur.pos = start_pos
                body += cur.rest()
                cur.pos = len(cur.data)
                # body_reader=None + mode 'body' -> close() marks end
                return "end", b""
            res.errors.append("bad chunk size line")
            return "incomplete", b""
        first = False
        if chunk == 0:
            # trailer (messaging.py:326-335)
            while True:
                tline = cur.readline()
                if tline is None:
                    return "body", b""
                if head.add_trailer_line(tline):
                    return "end", cur.rest()
        took = cur.take(chunk)
        body += took
        if len(took) < chunk:
            return "body", b""  # starved mid chunk
        end_of_chunk = cur.readline()
        if end_of_chunk is None or end_of_chunk == b"":
            return "body", b""


def decode_http(payload: bytes, kind: str = "response", ignore_headers=()) -> HttpResult:
    """Decode one HTTP/1.x message from `payload`.

    For responses, interim `100 Continue` responses are skipped once,
    exactly like ResponseMessage.feed (messaging.py:651-660).
    """
    if not isinstance(payload, (bytes, bytearray)):
        payload = bytes(payload)
    res = _parse_one(bytes(payload), kind, ignore_headers)
    if kind == "response" and res.complete and res.code == 100:
        # the reference resets unconditionally on an interim 100
        # (messaging.py:653-659): with no following message the result
        # is an INCOMPLETE parser waiting at 'start', not the 100
        return _parse_one(res.leftover, kind, ignore_headers)
    return res


def parse_http_response(payload: bytes):
    """(code, mime, result) triple — warcfilter.py:28-46 /
    warclinks.py:33-51."""
    res = decode_http(payload, kind="response")
    return res.code, res.mime, res
