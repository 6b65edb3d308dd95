"""Sitemap XML parsing — the crawler's standard seed-discovery
channel (sitemaps.org protocol, referenced by RFC 9309's `Sitemap:`
directive, which kernels/robots.py already surfaces as pointers).
This operator parses the pointed-at documents: `<urlset>` files into
per-URL entries and `<sitemapindex>` files into child-sitemap
entries, with the optional lastmod/changefreq/priority fields the
recrawl scheduler (frontier.recrawl_priority) consumes.

No reference counterpart — warctools has no sitemap tooling; the
element names and semantics come from the public sitemaps.org
protocol spec only.

Spark-first shape: pure Catalyst expressions end-to-end —
regexp_extract_all over the payload, explode, per-entry
regexp_extract, entity unescape via a replace chain. No Python UDF,
no shuffle; the whole operator is one WholeStageCodegen span over
the scan, so it runs at JVM scan speed on 100 TB of fetched
sitemaps.

Scope notes: recursion through a sitemapindex is a fetch-loop
concern (feed the emitted `loc` rows back through the fetch join),
not a parse concern. Gzip'd sitemap payloads (`.xml.gz`) are
inflated by the HTTP decode layer (kernels/http_decode.py handles
Content-Encoding) before they reach this operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warctools_spark.operators.frontier import _unescape_xml

# (?s) so entries spanning lines match; non-greedy keeps one block
# per entry. Entries missing a <loc> are dropped (the spec requires
# loc); all other fields are optional and null when absent.
_URL_BLOCK = r"(?s)<url>(.*?)</url>"
_SMAP_BLOCK = r"(?s)<sitemap>(.*?)</sitemap>"


def _field(block: Column, tag: str) -> Column:
    got = F.regexp_extract(block, r"(?s)<%s>\s*(.*?)\s*</%s>" % (tag, tag), 1)
    return F.nullif(got, F.lit(""))


def parse_sitemaps(
    sitemaps: DataFrame, url_col: str = "url", xml_col: str = "xml"
) -> DataFrame:
    """(url, xml) -> one row per sitemap entry:

      sitemap_url  the document the entry came from
      kind         'urlset' | 'sitemapindex'
      loc          entity-unescaped, whitespace-trimmed target URL
      lastmod      string as written (W3C datetime), null if absent
      changefreq   string, null if absent (urlset only per spec)
      priority     double, null if absent/non-numeric (urlset only)

    Documents that are neither kind (or whose entries all lack a
    <loc>) contribute no rows.
    """
    xml = F.col(xml_col)
    # kind = whichever root tag opens FIRST — a urlset whose payload
    # merely mentions '<sitemapindex' in a comment or entry text must
    # still parse as a urlset (and vice versa)
    p_idx = F.instr(xml, "<sitemapindex")
    p_url = F.instr(xml, "<urlset")
    kind = (
        F.when(
            (p_idx > 0) & ((p_url == 0) | (p_idx < p_url)),
            F.lit("sitemapindex"),
        )
        .when(p_url > 0, F.lit("urlset"))
        .otherwise(F.lit(None))
    )
    blocks = F.when(
        F.col("kind") == "sitemapindex",
        F.regexp_extract_all(xml, F.lit(_SMAP_BLOCK), F.lit(1)),
    ).otherwise(F.regexp_extract_all(xml, F.lit(_URL_BLOCK), F.lit(1)))

    entry = F.col("entry")
    return (
        sitemaps.select(
            F.col(url_col).alias("sitemap_url"), xml, kind.alias("kind")
        )
        .where(F.col("kind").isNotNull())
        .select(
            "sitemap_url",
            "kind",
            F.explode(blocks).alias("entry"),
        )
        .select(
            "sitemap_url",
            "kind",
            _unescape_xml(_field(entry, "loc")).alias("loc"),
            _field(entry, "lastmod").alias("lastmod"),
            # changefreq/priority are urlset-only per spec — a stray
            # tag inside a <sitemap> block must not leak through.
            # try_cast: a malformed <priority> yields null instead of
            # killing the job under ANSI mode
            F.when(F.col("kind") == "urlset", _field(entry, "changefreq"))
            .alias("changefreq"),
            F.when(
                F.col("kind") == "urlset",
                _field(entry, "priority").try_cast("double"),
            ).alias("priority"),
        )
        .where(F.col("loc").isNotNull())
    )


def discover_seeds(
    sitemaps: DataFrame,
    scope_seeds=None,
    scope_mode: str = "domain",
    url_col: str = "url",
    xml_col: str = "xml",
) -> DataFrame:
    """Sitemap-driven seed discovery — the channel robots.txt's
    `Sitemap:` directives point a crawler at (sitemaps.org protocol;
    the robots kernel already surfaces the directives via
    robots_sitemaps): parse fetched sitemap documents, keep urlset
    entries, optionally gate them by the crawl scope, and emit
    frontier-ready seed rows.

    Output matches plans/epoch.init_state's queue shape —
    (canon_url, host, depth=0, url_sha1), one row per distinct
    canonical url — so `run_epoch` consumes it directly and a
    sitemap-seeded crawl needs no glue. sitemapindex entries are NOT
    followed here (fetching is the crawler's job); they pass through
    `parse_sitemaps` for the caller to schedule.

    Composition, no new logic: parse_sitemaps (pure Catalyst) ->
    urlspace.scope_filter (broadcast semi; skipped when scope_seeds
    is None) -> the same canonicalize/sha1/host UDFs init_state uses
    -> dropDuplicates(url_sha1). Components carry their own oracle
    evidence; the test pins the composition equal to running them by
    hand."""
    from warctools_spark.functions.udfs import (
        udf_canonicalize_url,
        udf_url_host,
        udf_url_sha1,
    )
    from warctools_spark.operators.urlspace import scope_filter

    entries = (
        parse_sitemaps(sitemaps, url_col=url_col, xml_col=xml_col)
        .where(F.col("kind") == "urlset")
        .select(F.col("loc").alias("url"))
    )
    if scope_seeds is not None:
        entries = scope_filter(entries, scope_seeds, scope_mode)
    return (
        entries.select(
            udf_canonicalize_url(F.col("url")).alias("canon_url"),
            udf_url_sha1(F.col("url")).alias("url_sha1"),
            udf_url_host(F.col("url")).alias("host"),
        )
        .withColumn("depth", F.lit(0))
        .dropDuplicates(["url_sha1"])
        # plans/epoch.QUEUE_COLS order — positional unions with an
        # existing init_state queue must line up column-for-column
        .select("url_sha1", "canon_url", "host", "depth")
    )
