"""Single-node reference crawl simulator (north_rule parity oracle).

Pure-Python, no Spark: the same parse/decode/link/canon kernels the
Spark engine uses (which are themselves differential-tested against
the reference warctools), driven by an explicit breadth-first loop
with a per-host politeness budget — the reference semantics of
"seed-list order then FIFO per-depth discovery" (SURVEY.md §2.8,
warclinks.py:54-66 generator order).

The Spark engine (plans/epoch.py) must produce the identical per-epoch
schedule and final URL-seen set (tests/test_crawl_parity.py).
"""

from __future__ import annotations

from collections import defaultdict

from warctools_spark.kernels.canon import canonicalize_url, url_host, url_sha1
from warctools_spark.kernels.http_decode import decode_http
from warctools_spark.kernels.links import extract_links
from warctools_spark.kernels.robots import RobotsRules, is_allowed


def harvest(url: str, html: bytes) -> list[str]:
    """warclinks gates: 2xx + html mime -> outlinks."""
    res = decode_http(html, kind="response")
    mime = res.mime or b""
    if 200 <= res.code < 300 and mime.find(b"html") > -1:
        return extract_links(url, res.decoded_body())
    return []


def simulate_crawl(
    pages: dict[str, bytes],
    seeds: list[str],
    epochs: int,
    k_per_host: int = 10,
    robots: dict[str, RobotsRules] | None = None,
):
    """Returns (per_epoch_schedules, seen_set) where each schedule is a
    sorted list of canonical urls scheduled that epoch."""
    pages_by_canon = {canonicalize_url(u): (u, b) for u, b in pages.items()}

    queue: dict[str, tuple[int, str, str]] = {}  # sha1 -> (depth, canon, host)
    seen: set[str] = set()
    for u in seeds:
        h = url_sha1(u)
        if h not in queue:
            queue[h] = (0, canonicalize_url(u), url_host(u))
            seen.add(h)

    schedules = []
    for _ in range(epochs):
        # politeness: best (depth, canon_url) per host, k each
        by_host: dict[str, list] = defaultdict(list)
        for sha, (depth, canon, host) in queue.items():
            by_host[host].append((depth, canon, sha))
        schedule = []
        for host, items in by_host.items():
            items.sort()
            budget = k_per_host
            if robots is not None:
                rules = robots.get(host)
                if rules is not None and rules.crawl_delay_ms:
                    budget = min(
                        k_per_host, max(1, 60_000 // rules.crawl_delay_ms)
                    )
            schedule.extend(items[:budget])

        scheduled_shas = {sha for _, _, sha in schedule}
        schedules.append(sorted(canon for _, canon, _ in schedule))

        # fetch + harvest
        discovered: dict[str, tuple[int, str, str]] = {}
        for depth, canon, sha in schedule:
            hit = pages_by_canon.get(canon)
            if hit is None:
                continue
            page_url, html = hit
            for link in harvest(page_url, html):
                lsha = url_sha1(link)
                lcanon = canonicalize_url(link)
                lhost = url_host(link)
                cand = (depth + 1, page_url, lcanon, lhost, link)
                # dedup_within_epoch keeps min (depth, src_url, ...)
                if lsha not in discovered or cand < discovered[lsha]:
                    discovered[lsha] = cand

        # dedup against seen + robots gate
        fresh = {}
        for lsha, (d, _src, lcanon, lhost, _link) in discovered.items():
            if lsha in seen:
                continue
            if robots is not None:
                rules = robots.get(lhost)
                if rules is not None:
                    from urllib.parse import urlparse

                    path = urlparse(lcanon).path or "/"
                    if not is_allowed(rules, path):
                        continue
            fresh[lsha] = (d, lcanon, lhost)

        for sha in scheduled_shas:
            queue.pop(sha, None)
        queue.update(fresh)
        seen.update(fresh.keys())
        if not queue:
            break

    return schedules, seen
