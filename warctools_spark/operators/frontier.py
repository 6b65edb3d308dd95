"""Crawl-frontier operators: link harvest, URL-seen dedup, politeness
scheduling, breadth-first priority.

The reference's closest analog is the warclinks generator pipeline
(warclinks.py:54-66): response gate -> http decode -> 2xx+html gate ->
link extraction. Everything frontier-ward of that (canonical seen-set,
per-host politeness, BFS priority) is north_rule-mandated new
capability, expressed with built-in Catalyst operators:

* link harvest: one mapInPandas pass (decode -> extract ->
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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HARVEST_SCHEMA = (
    "src_url string, link string, canon_url string, url_sha1 string, "
    "host string"
)


def _harvest_flat(it):
    """mapInPandas kernel behind harvest_canonicalized: decode ->
    extract -> canonicalize per page, emitting FLAT string columns.
    Constructing five flat arrays and letting Arrow convert them in
    one C pass replaces the r5 list<struct> pandas_udf + JVM explode,
    whose object-Series -> Arrow nested conversion dominated the
    return path (r6: harvest noop 9.5s -> 7.3s at sf1.0, identical
    rows). canon_parts is lru_cached module-wide, so repeated link
    targets amortize across batches in a reused worker."""
    from warctools_spark.kernels.canon import canon_parts_fast as canon_parts
    from warctools_spark.kernels.http_decode import decode_http
    from warctools_spark.kernels.links import extract_links

    import pandas as pd

    for pdf in it:
        src_l: list = []
        link_l: list = []
        canon_l: list = []
        sha_l: list = []
        host_l: list = []
        for u, payload in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
            if payload is None:
                continue
            res = decode_http(bytes(payload), kind="response")
            mime = res.mime or b""
            if not (200 <= res.code < 300 and mime.find(b"html") > -1):
                continue
            for link in extract_links(u or "", res.decoded_body()):
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


def harvest_canonicalized(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Link harvest: one Arrow pass producing one row per outlink of
    each 2xx text/html page (warclinks.py:54-66 gates), as
    (src_url, link, canon_url, url_sha1, host) in page link order.
    The explicit two-column select before mapInPandas is
    load-bearing: opaque functions defeat column pruning, so without
    it the scan would read every page column (guide §4.1)."""
    return pages.select(F.col(url_col), F.col(html_col)).mapInPandas(
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
    keeping the lowest (depth, discovery) — deterministic via min over
    a sortable struct, no row_number shuffle-and-sort needed."""
    return candidates.groupBy("url_sha1").agg(
        F.min(F.struct("depth", "src_url", "canon_url", "host", "link")).alias("m")
    ).select(
        "url_sha1",
        F.col("m.depth").alias("depth"),
        F.col("m.src_url").alias("src_url"),
        F.col("m.canon_url").alias("canon_url"),
        F.col("m.host").alias("host"),
        F.col("m.link").alias("link"),
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
    damping: float = 0.85,
    id_col: str = "node",
) -> DataFrame:
    """PageRank-style crawl priority over the harvested link graph —
    the data-derived refinement of BFS ordering for the frontier's
    priority queue: rank' = (1-d)/n + d * Σ_in rank/out_deg, a fixed
    number of synchronous iterations (dangling mass intentionally not
    redistributed; iteration count is the determinism contract the
    oracle replays).

    Shuffle profile per iteration: one join on src (edges ⋈ ranks,
    both keyed) and one sum-agg on dst with map-side combine; ranks
    localCheckpoint()ed per round so plan depth stays flat, same as
    the epoch loop. Scale: identical shape to the crawl's own
    harvest aggregation — linear in edges, no collects.
    """
    n = vertices.count()
    base = 1.0 / n
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    ranks = vertices.select(F.col(id_col).alias("node")).withColumn(
        "rank", F.lit(base)
    )
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
            vertices.select(F.col(id_col).alias("node"))
            .join(contrib, on="node", how="left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) * base)
                    + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
                ).alias("rank"),
            )
            # eager=False (r6): plan still truncates to a LogicalRDD
            # per round (flat depth); materialization cascades at the
            # first consumer instead of blocking the driver each
            # iteration (see graph.pagerank)
            .localCheckpoint(eager=False)
        )
    return ranks


def sitemap_seeds(
    pages: DataFrame, url_col: str = "url", body_col: str = "body"
) -> DataFrame:
    """Seed discovery from sitemap XML payloads: gate on
    sitemap-shaped documents (<urlset>/<sitemapindex> root), pull
    every <loc> with one JVM regexp pass, distinct the result.

    Crawl-frontier role: sitemaps are the highest-precision seed
    source a polite crawler has — their URLs enter the frontier at
    depth 0 alongside the configured seed list. regexp_extract_all is
    whole-stage-codegen'd; the only shuffle is the final distinct on
    (already small) seed URLs."""
    body = F.col(body_col)
    is_sitemap = body.rlike("<(urlset|sitemapindex)[\\s>]")
    locs = F.regexp_extract_all(body, F.lit("<loc>([^<]*)</loc>"), F.lit(1))
    return (
        pages.where(is_sitemap)
        .select(
            F.col(url_col).alias("sitemap_url"),
            F.explode(locs).alias("seed_url"),
        )
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


def url_trap_features(
    urls: DataFrame, url_col: str = "url"
) -> DataFrame:
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
    path = F.parse_url(F.col(url_col), F.lit("PATH"))
    query = F.parse_url(F.col(url_col), F.lit("QUERY"))
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
        F.col(url_col),
        n_seg.alias("path_depth"),
        n_params.alias("n_query_params"),
        dup_frac.alias("dup_segment_frac"),
        has_sess.alias("has_session_id"),
        F.round(score, 6).alias("trap_score"),
    )


def change_rate(
    obs: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    digest_col: str = "digest",
    cap_us: int = 30 * 24 * 3600 * 1_000_000,
) -> DataFrame:
    """Per-URL Poisson change-rate estimation from a fetch-observation
    log — the bias-corrected estimator of Cho & Garcia-Molina,
    "Estimating Frequency of Change" (ACM TOIT 2003, §4.2):

        lambda_hat = -ln( (n - X + 0.5) / (n + 0.5) ) / mean_interval

    where n is the number of refetch intervals for the url and X the
    intervals whose payload digest differed from the previous fetch.
    The naive X/n undercounts because several changes inside one
    interval are detected as one; the log form inverts the Poisson
    no-change probability, and the +0.5 terms keep the estimator
    finite at X = n (always changed) and exactly 0 at X = 0. This is
    the principled upgrade of the `recrawl_priority` driver query's
    events-per-span rate: it feeds the same scheduler slot
    (politeness bounds how often you MAY fetch; lambda_hat how often
    you SHOULD).

    Output, one row per distinct url — single-observation urls keep
    their row (n_intervals 0, rate 0, due at the cap):

      url, n_obs, n_intervals, n_changes,
      rate_per_hour   lambda_hat * 3.6e9 us, round-6
      next_due_us     last fetch + min(cap_us, floor(1/lambda_hat)) —
                      the expected-next-change refetch time, capped
                      (default 30 days) so never-changing urls still
                      recrawl

    Plan: one window (lag of digest and timestamp, partitioned by
    url — keys are urls, so no host-class skew; a url refetched
    millions of times is itself a scheduler bug), one
    map-side-combinable hash agg. Counts stay exact integers; the
    only floats are the final ln and division (round-6, ORACLES.md
    #5). Microsecond arithmetic matches recrawl_priority's
    convention so the two schedules compose."""
    # try_cast: ANSI mode (Spark 4 default) makes a plain cast THROW on
    # junk strings instead of yielding null (ORACLES.md #12)
    us = F.unix_micros(F.col(ts_col).try_cast("timestamp"))
    # null/uncastable timestamps carry no interval information and
    # would sort arbitrarily into the lag window — dropped on the CAST
    # result (a string ts_col full of junk filters here too), and the
    # streaming twin (track_change_rate_cg) drops nulls identically.
    # NB (r5 ADVICE): null URLS are kept here (the window/groupBy key
    # admits a null group) but the streaming twin must drop them
    # before the stateful operator — row-for-row parity claims are
    # over non-null urls only.
    obs = obs.where(us.isNotNull())
    w = Window.partitionBy(url_col).orderBy(us, F.col(digest_col))
    seq = obs.select(
        F.col(url_col).alias("url"),
        us.alias("__us"),
        F.col(digest_col).alias("__d"),
        F.lag(us).over(w).alias("__prev_us"),
        F.lag(F.col(digest_col)).over(w).alias("__prev_d"),
    )
    base = seq.groupBy("url").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.max("__us").alias("__last_us"),
    )
    iv = (
        seq.where(F.col("__prev_us").isNotNull())
        .groupBy("url")
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            F.sum((~F.col("__d").eqNullSafe(F.col("__prev_d"))).cast("long"))
            .cast("long")
            .alias("n_changes"),
            F.sum(F.col("__us") - F.col("__prev_us"))
            .cast("long")
            .alias("__sum_gap"),
        )
    )
    n = F.col("n_intervals").cast("double")
    x = F.col("n_changes").cast("double")
    # lambda in changes per microsecond: -ln((n-X+.5)/(n+.5)) * n / sum_gap
    lam = (
        -F.log((n - x + F.lit(0.5)) / (n + F.lit(0.5)))
        * n
        / F.col("__sum_gap").cast("double")
    )
    joined = base.join(iv, "url", "left")
    lam_or_zero = F.when(
        F.col("n_intervals").isNotNull() & (F.col("__sum_gap") > 0), lam
    ).otherwise(F.lit(0.0))
    # degenerate zero-span logs (every fetch same microsecond) fall to
    # the cap like never-changing urls — lam is not finite there
    due = F.when(
        (F.col("n_changes").isNotNull())
        & (F.col("n_changes") > 0)
        & (F.col("__sum_gap") > 0),
        F.least(F.lit(cap_us).cast("long"), F.floor(F.lit(1.0) / lam).cast("long")),
    ).otherwise(F.lit(cap_us).cast("long"))
    return joined.select(
        "url",
        "n_obs",
        F.coalesce(F.col("n_intervals"), F.lit(0).cast("long")).alias(
            "n_intervals"
        ),
        F.coalesce(F.col("n_changes"), F.lit(0).cast("long")).alias(
            "n_changes"
        ),
        F.round(lam_or_zero * F.lit(3.6e9), 6).alias("rate_per_hour"),
        (F.col("__last_us") + due).alias("next_due_us"),
    )
