"""Seeded input generator for the crawl benchmark (standard library only).

Everything the program under test receives is built here from `--seed`:
pages (HTTP responses wrapping HTML with outlinks), the seen set, and WARC
segments with seeded malformed records. The same seed gives the same bytes.

Each generator also returns the expected answer, computed from the
generator's own model (never by calling the program), so the benchmark can
check the program's outputs:

* frontier: the politeness schedule digest, from the link model;
* warc: the md5 of every page's text and the ids of the malformed records.

Two host layouts exist. `identity` is the 21-host model of
`sources.pages`, kept so a test can show the generator reproduces
`sources.pages.pages_pdf` byte-for-byte. `zipf` spreads URLs over many
Zipf-weighted hosts plus one hot host with about 30% of the URLs.
"""

from __future__ import annotations

import bisect
import gzip
import hashlib
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

EPOCH = datetime(2013, 11, 13, 0, 0, 0, tzinfo=timezone.utc)
HOT_HOST = "hot.example.com"

# the word list and language mix of the test data's documents.parquet
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)


def _rng(seed: int, stream: str) -> random.Random:
    # a str seed is hashed with sha512: stable across processes and
    # independent of PYTHONHASHSEED
    return random.Random("%s/%d" % (stream, seed))


def make_documents(seed: int, n: int) -> list[tuple[int, str, str]]:
    """(doc_id, text, lang) rows shaped like documents.parquet: 8-96 words
    drawn from its vocabulary."""
    rng = _rng(seed, "documents")
    out = []
    for doc_id in range(n):
        words = rng.choices(VOCAB, k=rng.randint(8, 96))
        lang = rng.choices(LANGS, weights=LANG_WEIGHTS)[0]
        out.append((doc_id, " ".join(words), lang))
    return out


# ---- HTTP wire format (the decode matrix of sources.pages) ----

def _chunk(body: bytes, size: int = 512) -> bytes:
    out = bytearray()
    for i in range(0, len(body), size):
        c = body[i : i + size]
        out += b"%x\r\n" % len(c) + c + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


WIRE_VARIANTS = ("plain", "gzip", "chunked", "chunked_gzip")


def http_response(variant: int, body: bytes, level: int = 9) -> bytes:
    """A 200 text/html response; variant cycles plain, gzip, chunked,
    chunked+gzip. `level` is the gzip compression level."""
    head = [b"HTTP/1.1 200 OK", b"Content-Type: text/html; charset=utf-8"]
    if variant == 0:
        head.append(b"Content-Length: %d" % len(body))
        payload = body
    elif variant == 1:
        gz = gzip.compress(body, level, mtime=0)
        head.append(b"Content-Encoding: gzip")
        head.append(b"Content-Length: %d" % len(gz))
        payload = gz
    elif variant == 2:
        head.append(b"Transfer-Encoding: chunked")
        payload = _chunk(body)
    else:
        gz = gzip.compress(body, level, mtime=0)
        head.append(b"Transfer-Encoding: chunked")
        head.append(b"Content-Encoding: gzip")
        payload = _chunk(gz)
    return b"\r\n".join(head) + b"\r\n\r\n" + payload


def html_doc(doc_id: int, text: str, hrefs: list[str]) -> str:
    links = "".join(
        '<a href="%s">link %d</a>\n' % (h, i) for i, h in enumerate(hrefs)
    )
    return (
        "<html><head><title>Doc %d</title></head><body><p>%s</p>\n%s</body></html>"
        % (doc_id, text, links)
    )


@dataclass
class Page:
    url: str
    warc_ts: datetime
    html: bytes  # the full HTTP response
    text: str  # the HTML document: what decoding `html` must give back
    lang: str


# ---- identity layout: the 21-host model of sources.pages ----

def page_id(url: str) -> int:
    """The document id in a generated page URL (…/doc/<id>.html)."""
    return int(url.rsplit("/", 1)[1].split(".")[0])


def identity_url(doc_id: int) -> str:
    host = HOT_HOST if doc_id % 10 < 3 else "src%d.example.com" % (doc_id % 20)
    return "http://%s/doc/%d.html" % (host, doc_id)


def identity_pages(docs: list[tuple[int, str, str]]) -> list[Page]:
    n = len(docs)
    out = []
    for doc_id, text, lang in docs:
        targets = [(doc_id * 31 + i * 97 + 7) % n for i in range(8)]
        doc = html_doc(doc_id, text, [identity_url(t) for t in targets])
        out.append(
            Page(
                identity_url(doc_id),
                EPOCH + timedelta(seconds=doc_id),
                http_response(doc_id % 4, doc.encode("utf-8")),
                doc,
                lang,
            )
        )
    return out


# ---- zipf layout: many hosts, one hot host ----

@dataclass
class LinkModel:
    """URL universe 0..n_urls-1; URL u lives on host_of[u]. URLs
    0..n_pages-1 are pages; page p links to targets[p]."""

    n_urls: int
    n_pages: int
    hosts: list[str]
    host_of: list[int]
    targets: list[list[int]]

    def url(self, u: int) -> str:
        """The canonical URL of u (what the canonicalizer must produce)."""
        return "http://%s/doc/%d.html" % (self.hosts[self.host_of[u]], u)


def make_link_model(
    seed: int,
    n_urls: int,
    n_pages: int,
    n_hosts: int,
    links: tuple[int, int] = (4, 12),
    hot_share: float = 0.3,
    stream: str = "links",
) -> LinkModel:
    rng = _rng(seed, stream)
    # host 0 is the hot host; hosts 1..n_hosts share the rest, Zipf(1)
    hosts = [HOT_HOST] + ["h%d.example.org" % i for i in range(1, n_hosts + 1)]
    cum, acc = [], 0.0
    for i in range(n_hosts):
        acc += 1.0 / (i + 1)
        cum.append(acc)
    host_of = []
    for _ in range(n_urls):
        if rng.random() < hot_share:
            host_of.append(0)
        else:
            host_of.append(1 + bisect.bisect_left(cum, rng.random() * acc))
    lo, hi = links
    targets = [
        [rng.randrange(n_urls) for _ in range(rng.randint(lo, hi))]
        for _ in range(n_pages)
    ]
    return LinkModel(n_urls, n_pages, hosts, host_of, targets)


def zipf_pages(
    model: LinkModel, docs: list[tuple[int, str, str]]
) -> list[Page]:
    """The model's pages. Every href is the target's canonical absolute
    URL, as in the seed layout of sources.pages: no measured mix of
    relative or non-canonical spellings is available to copy."""
    out = []
    for p in range(model.n_pages):
        _, text, lang = docs[p % len(docs)]
        doc = html_doc(p, text, [model.url(u) for u in model.targets[p]])
        out.append(
            Page(
                model.url(p),
                EPOCH + timedelta(seconds=p),
                http_response(p % 4, doc.encode("utf-8"), level=1),
                doc,
                lang,
            )
        )
    return out


def sha1_hex(s: str) -> str:
    return hashlib.sha1(s.encode("utf-8")).hexdigest()


def schedule_digest(sha1s) -> tuple[int, int]:
    """(rows, sum of the first 32 bits of each url_sha1) — the same
    digest the benchmark computes over the program's schedule."""
    n = s = 0
    for h in sha1s:
        n += 1
        s += int(h[:8], 16)
    return n, s


def seen_half(seed: int, n_urls: int) -> list[int]:
    """A seeded half of the URL universe: the frontier's seen set."""
    rng = _rng(seed, "seen")
    return [u for u in range(n_urls) if rng.random() < 0.5]


def frontier_oracle(model: LinkModel, seen: list[int], k_per_host: int) -> dict:
    """The frontier epoch's expected result, from the link model alone:
    every linked URL not in `seen`, the k smallest canonical URLs per host
    (all candidates are at depth 1, so canon_url is the only order)."""
    linked = set()
    for ts in model.targets:
        linked.update(ts)
    n_links = sum(len(ts) for ts in model.targets)
    fresh = linked.difference(seen)
    by_host: dict[int, list[str]] = {}
    for u in fresh:
        by_host.setdefault(model.host_of[u], []).append(model.url(u))
    scheduled = []
    for urls in by_host.values():
        urls.sort()
        scheduled.extend(urls[:k_per_host])
    rows, digest = schedule_digest(sha1_hex(c) for c in scheduled)
    return {
        "links": n_links,
        "candidates": len(linked),
        "fresh": len(fresh),
        "scheduled": rows,
        "digest": digest,
    }


# ---- WARC segments ----

def _warc_record(headers: list[tuple[str, str]], content: bytes, bad: bool) -> bytes:
    """WARC/1.0 record. A malformed record ends one header line with a
    bare LF, which the parser reports as an error row but still reads."""
    lines = [b"WARC/1.0\r\n"]
    for k, v in headers:
        lines.append(b"%s: %s\r\n" % (k.encode(), v.encode()))
    if bad:
        lines.append(b"X-Bench-Note: bare-lf\n")
    lines.append(b"Content-Length: %d\r\n\r\n" % len(content))
    return b"".join(lines) + content + b"\r\n\r\n"


def _record_id(kind: str, i: int, seed: int) -> str:
    h = hashlib.sha1(b"%s/%d/%d" % (kind.encode(), seed, i)).hexdigest()
    return "<urn:uuid:%s-%s-%s-%s-%s>" % (h[:8], h[8:12], h[12:16], h[16:20], h[20:32])


@dataclass
class WarcSet:
    files: dict[str, bytes]  # file name -> bytes
    n_records: int
    n_responses: int
    text_md5: dict[str, str]  # url -> md5 of the expected extracted text
    text_bytes: int  # total utf-8 bytes of the expected texts
    malformed_ids: set[str] = field(default_factory=set)


def make_warc(
    seed: int,
    pages: list[Page],
    n_segments: int,
    bad_share: float = 0.005,
) -> WarcSet:
    """Request+response pairs for `pages`, split over n_segments files:
    segment 0 plain `.warc`, segment 1 one whole-file gzip member, the
    rest one gzip member per record. A seeded `bad_share` of the response
    records is malformed."""
    rng = _rng(seed, "warc")
    per = -(-len(pages) // n_segments)
    files: dict[str, bytes] = {}
    text_md5: dict[str, str] = {}
    malformed: set[str] = set()
    text_bytes = 0
    for s in range(n_segments):
        chunk = pages[s * per : (s + 1) * per]
        recs = []
        for i, pg in enumerate(chunk):
            idx = s * per + i
            date = pg.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            path = pg.url.split("/", 3)[3]
            host = pg.url.split("/")[2]
            req = b"GET /%s HTTP/1.1\r\nHost: %s\r\n\r\n" % (
                path.encode(), host.encode()
            )
            rid_req = _record_id("request", idx, seed)
            rid_resp = _record_id("response", idx, seed)
            bad = rng.random() < bad_share
            if bad:
                malformed.add(rid_resp)
            recs.append(
                _warc_record(
                    [
                        ("WARC-Type", "request"),
                        ("WARC-Record-ID", rid_req),
                        ("WARC-Date", date),
                        ("WARC-Target-URI", pg.url),
                        ("Content-Type", "application/http; msgtype=request"),
                    ],
                    req,
                    False,
                )
            )
            recs.append(
                _warc_record(
                    [
                        ("WARC-Type", "response"),
                        ("WARC-Record-ID", rid_resp),
                        ("WARC-Date", date),
                        ("WARC-Target-URI", pg.url),
                        ("WARC-Concurrent-To", rid_req),
                        ("Content-Type", "application/http; msgtype=response"),
                    ],
                    pg.html,
                    bad,
                )
            )
            body = pg.text.encode("utf-8")
            text_md5[pg.url] = hashlib.md5(body).hexdigest()
            text_bytes += len(body)
        if s == 0:
            files["seg-%03d.warc" % s] = b"".join(recs)
        elif s == 1:
            files["seg-%03d.warc.gz" % s] = gzip.compress(b"".join(recs), mtime=0)
        else:
            files["seg-%03d.warc.gz" % s] = b"".join(
                gzip.compress(r, compresslevel=6, mtime=0) for r in recs
            )
    return WarcSet(
        files, 2 * len(pages), len(pages), text_md5, text_bytes, malformed
    )
