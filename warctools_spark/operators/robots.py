"""Robots/politeness operators.

The robots dimension is tiny relative to the frontier (one row per
host), so it is always the broadcast side of the join (SURVEY.md §2.6).
Rule matching after the join is pure JVM expression work (exists() over
the prefix arrays) — no Python in the per-URL hot path; only the
robots.txt *parse* (once per host) runs in a pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from warctools_spark.kernels.robots import parse_robots

ROBOTS_STRUCT = T.StructType(
    [
        T.StructField("crawl_delay_ms", T.IntegerType()),
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("allow", T.ArrayType(T.StringType())),
        T.StructField("sitemaps", T.ArrayType(T.StringType())),
    ]
)


@pandas_udf(ROBOTS_STRUCT)
def udf_parse_robots(robots_txt: pd.Series) -> pd.DataFrame:
    rows = {"crawl_delay_ms": [], "disallow": [], "allow": [], "sitemaps": []}
    for data in robots_txt:
        if data is None:
            rows["crawl_delay_ms"].append(None)
            rows["disallow"].append([])
            rows["allow"].append([])
            rows["sitemaps"].append([])
            continue
        r = parse_robots(bytes(data))
        rows["crawl_delay_ms"].append(r.crawl_delay_ms)
        rows["disallow"].append(r.disallow)
        rows["allow"].append(r.allow)
        rows["sitemaps"].append(r.sitemaps)
    return pd.DataFrame(rows)


def parse_robots_table(raw: DataFrame) -> DataFrame:
    """(host, robots_txt binary) -> (host, crawl_delay_ms, disallow, allow)."""
    return raw.select(
        "host",
        udf_parse_robots(F.col("robots_txt")).alias("r"),
    ).select(
        "host",
        F.col("r.crawl_delay_ms").alias("crawl_delay_ms"),
        F.col("r.disallow").alias("disallow"),
        F.col("r.allow").alias("allow"),
        F.col("r.sitemaps").alias("sitemaps"),
    )


def _rfc9309_regex(pattern: str) -> str:
    """RFC 9309 rule pattern -> anchored Java-compatible regex:
    `*` matches any char sequence, a trailing `$` anchors the end;
    everything else is literal."""
    import re as _re

    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "^" + ".*".join(_re.escape(seg) for seg in body.split("*"))
    return rx + "$" if anchored else rx


def apply_robots(
    frontier: DataFrame, robots: DataFrame, match_mode: str = "prefix"
) -> DataFrame:
    """Broadcast-join robots rules onto the frontier and keep allowed
    URLs. Longest-prefix-match with Allow >= Disallow on ties, all in
    JVM expressions.

    match_mode="prefix" (default) is plain prefix matching — the
    semantics of classic robots.txt parsers and of the era the
    reference targets. match_mode="rfc9309" adds `*` wildcards and
    `$` end anchors per RFC 9309 §2.2.3, with specificity = octet
    length of the PATTERN (not the matched span) and Allow winning
    length ties, matching the RFC's most-specific/least-restrictive
    rule. Patterns compile to regexes once on the broadcast-small
    robots side (a pandas UDF over one row per host); the per-URL hot
    path stays JVM-side via regexp_like.

    CONTRACT: one robots row per host. The left join would otherwise
    fan every frontier URL out once per duplicate row — and downstream
    epoch compaction unions seen deltas WITHOUT distinct on the
    invariant that deltas are pairwise-disjoint (plans/epoch.py), so a
    duplicated host here would corrupt the seen set. Enforced with a
    DETERMINISTIC min-over-struct pick per host (not dropDuplicates,
    whose survivor depends on partition order) — robots tables are
    host-keyed, so duplicates only arise from a malformed upstream
    fetch and any consistent pick is acceptable; the table is
    broadcast-small, so the extra agg is negligible."""
    if match_mode not in ("prefix", "rfc9309"):
        raise ValueError(f"unknown match_mode: {match_mode!r}")
    rule_cols = [c for c in robots.columns if c != "host"]
    robots_one = (
        robots.groupBy("host")
        .agg(F.min(F.struct(*rule_cols)).alias("__r"))
        .select("host", "__r.*")
    )
    if match_mode == "rfc9309":

        @pandas_udf("array<struct<plen:int,rx:string>>")
        def _compile(pats: pd.Series) -> pd.Series:
            # RFC 9309 §2.2.2: most-specific = most OCTETS, not most
            # characters — multi-byte UTF-8 patterns must weigh their
            # encoded length or mixed-script allow/disallow precedence
            # flips
            return pats.apply(
                lambda arr: [
                    {"plen": len(p.encode("utf-8")),
                     "rx": _rfc9309_regex(p)}
                    for p in (arr if arr is not None else [])
                ]
            )

        robots_one = robots_one.withColumn(
            "allow", _compile("allow")
        ).withColumn("disallow", _compile("disallow"))
    path = F.parse_url(F.col("canon_url"), F.lit("PATH"))
    joined = frontier.withColumn("path", F.coalesce(path, F.lit("/"))).join(
        F.broadcast(robots_one), on="host", how="left"
    )
    if match_mode == "prefix":
        best_len = lambda arr: F.coalesce(  # noqa: E731
            F.array_max(
                F.transform(
                    F.filter(arr, lambda p: F.col("path").startswith(p)),
                    lambda p: F.length(p),
                )
            ),
            F.lit(-1),
        )
    else:
        best_len = lambda arr: F.coalesce(  # noqa: E731
            F.array_max(
                F.transform(
                    F.filter(
                        arr,
                        lambda e: F.regexp_like(F.col("path"), e["rx"]),
                    ),
                    lambda e: e["plen"],
                )
            ),
            F.lit(-1),
        )
    empty = (
        F.array()
        if match_mode == "prefix"
        else F.array().cast("array<struct<plen:int,rx:string>>")
    )
    allowed = best_len(F.coalesce(F.col("allow"), empty)) >= best_len(
        F.coalesce(F.col("disallow"), empty)
    )
    return (
        joined.where(allowed)
        .withColumn(
            "crawl_delay_ms", F.coalesce(F.col("crawl_delay_ms"), F.lit(0))
        )
        .drop("path", "disallow", "allow")
    )
