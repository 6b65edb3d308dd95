"""Crawl-frontier operators: link harvest, URL-seen dedup, politeness
scheduling, breadth-first priority.

The reference's closest analog is the warclinks generator pipeline
(warclinks.py:54-66): response gate -> http decode -> 2xx+html gate ->
link extraction. Everything frontier-ward of that (canonical seen-set,
per-host politeness, BFS priority) is north_rule-mandated new
capability, expressed with built-in Catalyst operators:

* link harvest: one mapInPandas pass (kernels/links.page_links ->
  canonicalize), harvest_canonicalized
* dedup: left_anti join on url_sha1 (+ optional Bloom or cuckoo
  pre-filter, operators/seen.py, for the 10^10-row regime)
* politeness: one ranking window partitioned by host; its map-side
  WindowGroupLimit caps what a hot host sends through the shuffle
  at k rows per map task
* ordering: depth ASC, discovery order — data-derived, never
  partition-iteration order, so results are deterministic under any
  parallelism
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HARVEST_SCHEMA = (
    "src_url string, link string, canon_url string, url_sha1 string, "
    "host string"
)


def _harvest_flat(it):
    """mapInPandas kernel behind harvest_canonicalized: page_links ->
    canonicalize per page, emitting FLAT string columns.
    Constructing five flat arrays and letting Arrow convert them in
    one C pass replaces the r5 list<struct> pandas_udf + JVM explode,
    whose object-Series -> Arrow nested conversion dominated the
    return path (r6: harvest noop 9.5s -> 7.3s at sf1.0, identical
    rows). canon_parts_fast returns an already-canonical href as is and
    hashes it on every call, without touching canon_parts' lru cache;
    only hrefs that need canonicalizing fall through to the cached
    canon_parts."""
    from warctools_spark.kernels.canon import canon_parts_fast as canon_parts
    from warctools_spark.kernels.links import page_links

    import pandas as pd

    for pdf in it:
        src_l: list = []
        link_l: list = []
        canon_l: list = []
        sha_l: list = []
        host_l: list = []
        for u, payload in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
            for link in page_links(u, payload):
                canon, sha1, host = canon_parts(link)
                src_l.append(u)
                link_l.append(link)
                canon_l.append(canon)
                sha_l.append(sha1)
                host_l.append(host)
        yield pd.DataFrame(
            {
                "src_url": src_l,
                "link": link_l,
                "canon_url": canon_l,
                "url_sha1": sha_l,
                "host": host_l,
            }
        )


def harvest_canonicalized(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Link harvest: one Arrow pass producing one row per outlink of
    each 2xx text/html page in `html` (warclinks.py:54-66 gates), as
    (src_url, link, canon_url, url_sha1, host) in page link order.
    The explicit two-column select before mapInPandas is
    load-bearing: opaque functions defeat column pruning, so without
    it the scan would read every page column (guide §4.1)."""
    return pages.select(F.col(url_col), F.col("html")).mapInPandas(
        _harvest_flat, _HARVEST_SCHEMA
    )


def dedup_against_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """frontier \\ seen via left_anti on the canonical sha1.

    At scale both sides are bucketed by host_hash (plans/catalog.py) so
    this is a co-partitioned join; with the Bloom pre-filter
    (operators/seen.py) only probable-new keys reach the exact join.

    Anti-join semantics ignore right-side duplicates, so the seen set
    is joined as-is — no `.distinct()`, which would add a full
    hash-aggregate over 10^10 keys per epoch for nothing.
    """
    return candidates.join(
        seen.select("url_sha1"), on="url_sha1", how="left_anti"
    )


def dedup_within_epoch(candidates: DataFrame) -> DataFrame:
    """Collapse duplicate discoveries of the same URL inside one epoch,
    keeping the row that is lowest in lexicographic (depth, src_url,
    canon_url, host, link) order — deterministic via min over a
    sortable struct, no row_number shuffle-and-sort needed.

    The fields are picked inside the aggregate, not in a Project over
    it: with no Project between, Catalyst's PushDownLeftSemiAntiJoin
    moves a broadcast dedup_against_seen below the aggregate, into the
    harvest's map stage, so the sort-aggregations see only fresh links.
    Spark pushes the anti-join only when it plans a broadcast hash
    join; a sort-merge anti-join stays above the final aggregate."""
    m = F.min(F.struct("depth", "src_url", "canon_url", "host", "link"))
    return candidates.groupBy("url_sha1").agg(
        *(m[c].alias(c) for c in ("depth", "src_url", "canon_url", "host", "link"))
    )


def politeness_schedule(
    frontier: DataFrame,
    k_per_host: int,
    epoch_ms: int = 60_000,
    *,
    salt_all: bool = False,  # ignored; perfbench/workloads.py still passes it
) -> DataFrame:
    """Pick at most k URLs per host, best (depth, canon_url) first.

    One ranking window partitioned by host. The literal `rn <= k`
    conjunct is what lets Spark 4 plan a partial WindowGroupLimit
    below the shuffle: each map task sends at most k rows per host,
    so a hot host's reducer reads at most k x (map tasks) rows while
    k_per_host <= spark.sql.optimizer.windowGroupLimitThreshold
    (default 1000). No salting or host histogram is needed for skew.

    If the frontier has a `crawl_delay_ms` column (robots Crawl-delay,
    operators/robots.py), a host with a positive delay also gets at
    most max(1, epoch_ms / crawl_delay_ms) fetches per epoch window.
    """
    w = Window.partitionBy("host").orderBy(
        F.col("depth").asc(), F.col("canon_url").asc()
    )
    ranked = frontier.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k_per_host
    )
    if "crawl_delay_ms" in frontier.columns:
        delay = F.col("crawl_delay_ms")
        # null (no positive delay) = no budget; F.when keeps the
        # division from ever seeing a zero delay (ANSI raises on it)
        budget = F.when(
            delay > 0,
            F.greatest(F.lit(1), (F.lit(epoch_ms) / delay).cast("int")),
        )
        ranked = ranked.where(budget.isNull() | (F.col("rn") <= budget))
    return ranked.drop("rn")


def link_rank(
    edges: DataFrame,
    vertices: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """PageRank-style crawl priority over the harvested link graph
    (edges(src, dst), vertices(node)) —
    the data-derived refinement of BFS ordering for the frontier's
    priority queue: rank' = (1-d)/n + d * Σ_in rank/out_deg with
    damping d = 0.85, a fixed number of synchronous iterations
    (dangling mass intentionally not redistributed; iteration count is
    the determinism contract the oracle replays).

    Shuffle profile per iteration: one join on src (edges ⋈ ranks,
    both keyed) and one sum-agg on dst with map-side combine; ranks
    localCheckpoint()ed per round so plan depth stays flat, same as
    the epoch loop. Scale: identical shape to the crawl's own
    harvest aggregation — linear in edges, no collects.
    """
    n = vertices.count()
    base = 1.0 / n
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    ranks = vertices.select("node").withColumn("rank", F.lit(base))
    for _ in range(iterations):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), on="src")
            .join(deg, on="src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            vertices.select("node")
            .join(contrib, on="node", how="left")
            .select(
                "node",
                (
                    F.lit((1.0 - 0.85) * base)
                    + F.lit(0.85) * F.coalesce("in_sum", F.lit(0.0))
                ).alias("rank"),
            )
            # eager=False (r6): plan still truncates to a LogicalRDD
            # per round (flat depth); materialization cascades at the
            # first consumer instead of blocking the driver each
            # iteration
            .localCheckpoint(eager=False)
        )
    return ranks


def _unescape_xml(c: Column) -> Column:
    """The five predefined XML entities, &amp; last so freshly
    produced '&' can't re-trigger another entity (spec-correct for
    well-formed input that escapes every literal '&').

    Documented limit: numeric character references (&#38; / &#x26;)
    pass through unchanged — sitemaps.org's own escaping table uses
    only the named entities, and decoding arbitrary charrefs is not
    expressible as a Catalyst replace chain; a consumer needing them
    decoded should post-process the rare rows containing '&#'."""
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def sitemap_seeds(pages: DataFrame) -> DataFrame:
    """Seed discovery from sitemap XML payloads: gate on
    sitemap-shaped documents (<urlset>/<sitemapindex> root), pull
    every <loc> with one JVM regexp pass, trim and XML-unescape it
    (sitemaps.org writes each '&' in a URL as '&amp;'), distinct the
    result.

    Crawl-frontier role: sitemaps are the highest-precision seed
    source a polite crawler has — their URLs enter the frontier at
    depth 0 alongside the configured seed list. regexp_extract_all is
    whole-stage-codegen'd; the only shuffle is the final distinct on
    (already small) seed URLs."""
    body = F.col("body")
    is_sitemap = body.rlike("<(urlset|sitemapindex)[\\s>]")
    # \s* rather than F.trim: trim strips only ' ', and pretty-printed
    # sitemaps pad <loc> with newlines and tabs
    locs = F.regexp_extract_all(
        body, F.lit(r"<loc>\s*([^<]*?)\s*</loc>"), F.lit(1)
    )
    return (
        pages.where(is_sitemap)
        .select(F.col("url").alias("sitemap_url"), F.explode(locs).alias("loc"))
        .select("sitemap_url", _unescape_xml(F.col("loc")).alias("seed_url"))
        .where(F.col("seed_url") != "")
        .distinct()
    )


def discover_sitemap_seeds(pages: DataFrame) -> DataFrame:
    """sitemap_seeds over raw WARC-shaped pages: decode the HTTP wire
    payload (one Arrow pass), then the JVM-side <loc> extraction.
    Returns distinct (sitemap_url, seed_url) ready to union into the
    crawl seed list at depth 0."""
    from warctools_spark.functions.udfs import udf_decode_http

    bodies = pages.select(
        "url",
        udf_decode_http(F.col("html"))["decoded_body"]
        .cast("string")
        .alias("body"),
    ).where(F.col("body").isNotNull())
    return sitemap_seeds(bodies)


def url_trap_features(urls: DataFrame) -> DataFrame:
    """Crawl-trap signals per URL — the classic frontier defenses
    against calendar pages, session-id explosions and recursive path
    loops (each one an infinite URL space a polite crawler must not
    enter). All JVM expressions over parse_url/split:

      path_depth          segments in the path
      n_query_params      &-separated params in the query string
      dup_segment_frac    1 - distinct/total path segments (a
                          repeated segment run is the loop signature)
      has_session_id      sess/sid/phpsessid/jsessionid param present
      trap_score          weighted sum; schedule sorts ascending
    """
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    query = F.parse_url(F.col("url"), F.lit("QUERY"))
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    n_seg = F.size(segs)
    n_dist = F.size(F.array_distinct(segs))
    dup_frac = F.when(
        n_seg > 0, F.round(1 - n_dist / n_seg, 6)
    ).otherwise(F.lit(0.0))
    n_params = F.when(
        query.isNull() | (query == ""), F.lit(0)
    ).otherwise(F.size(F.split(query, "&")))
    has_sess = F.coalesce(
        F.lower(query).rlike("(^|&)(sess|sid|phpsessid|jsessionid)="),
        F.lit(False),
    )
    score = (
        F.greatest(n_seg - 6, F.lit(0)) * 2
        + dup_frac * 10
        + F.greatest(n_params - 3, F.lit(0)) * 2
        + F.when(has_sess, 5).otherwise(0)
    )
    return urls.select(
        F.col("url"),
        n_seg.alias("path_depth"),
        n_params.alias("n_query_params"),
        dup_frac.alias("dup_segment_frac"),
        has_sess.alias("has_session_id"),
        F.round(score, 6).alias("trap_score"),
    )
