"""SURT keys: the Sort-friendly URI Reordering Transform of a URL,
the Internet Archive's sort and lookup key for CDX indexes
(`archive_ops.cdxj_lines` keys every line with it). No reference
counterpart in warctools.

The regexes are RE2-compatible and shared verbatim with the DuckDB
replay in the tests, so both engines compute the same expression.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# host as parse_url(..., 'HOST') sees it: userinfo and port stripped
_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
# path+query (fragment dropped) after the authority; '' for bare
# authority urls — surt_key coalesces that to '/'
_PATHQ_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)"
# a reversible SURT host: dot-separated dns labels only. IPv6
# literals ('[::1]') and other junk fail this and are out of scope —
# dot-reversal is meaningless for them.
_DNS_HOST_RE = "^[a-z0-9._-]+$"


def surt_key(url) -> "F.Column":
    """Sort-friendly URI Reordering Transform key (the Internet
    Archive convention used by Heritrix scoping and CDX indexes:
    crawler.archive.org SURT docs; also pywb/surt):

        http://www.Example.com:80/a/b?q=1#frag
          -> 'com,example,www)/a/b?q=1'

    Host lowercased, userinfo/port stripped, labels reversed and
    comma-joined, then ')' and the path+query (fragment dropped;
    empty path -> '/'). Path/query case is preserved — servers are
    case-sensitive there; only the host is case-folded. Divergences
    from pywb's full canonicalizer (port retention, %-case folding,
    query sorting) are intentional: this is the SCOPE key, and it
    composes with kernels/canon.py for fetch identity.

    Pure Catalyst (regexp_extract/split/reverse/array_join) with
    RE2-portable regexes, so a DuckDB oracle can compute the very
    same expression. Non-DNS hosts yield '' (gate with
    `surt_key(url) != ''`).
    """
    u = F.col(url) if isinstance(url, str) else url
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, _HOST_RE, 1)), r"^\.+|\.+$", ""
    )
    pathq = F.regexp_extract(u, _PATHQ_RE, 1)
    return F.when(
        host.rlike(_DNS_HOST_RE),
        F.concat(
            F.array_join(F.reverse(F.split(host, r"\.")), ","),
            F.lit(")"),
            # empty path -> '/'; query-only ('http://a.com?q=1') keeps
            # the implied root slash so every key sorts under 'host)/'
            F.when(pathq == "", F.lit("/"))
            .when(pathq.startswith("?"), F.concat(F.lit("/"), pathq))
            .otherwise(pathq),
        ),
    ).otherwise(F.lit(""))
