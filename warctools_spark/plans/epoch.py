"""The crawl-epoch pipeline — the engine's flagship plan.

One epoch (SURVEY.md §3.3 Spark equivalent of the warclinks harvest,
extended to a full frontier step):

  schedule   = politeness top-k per host over the pending queue
               (breadth-first: depth ASC, canon_url tiebreak)
  fetched    = schedule ⋈ pages on canon_url   (simulated fetch)
  discovered = harvest(fetched) -> canonicalize -> sha1 -> depth+1
  fresh      = discovered \\ seen   (within-epoch dedup, then anti-join;
               optionally Bloom-two-tier at scale)
  allowed    = robots gate (broadcast join)
  queue'     = (queue \\ schedule) ∪ allowed
  seen'      = seen ∪ allowed

Each epoch-state table is materialised exactly once, by `_materialize`:
with a catalog, `schedule`, `queue` and the Bloom table are written as
the epoch's snapshot tables and read back (the write is the
checkpoint); without one they are localCheckpoint()ed. `fresh` is the
only in-epoch checkpoint (O(|fresh|)). `seen` is never copied: the
epoch returns the lazy `seen ∪ fresh`, and run_crawl stores only each
epoch's fresh keys as an append-only `seen_delta`. Every epoch commits
a manifest naming its tables, its seen parts and a lineage row per
shuffle partition of the schedule (`partition_id`, `rows`);
`resume_state` restores the exact state of any committed epoch.

Determinism: all orderings derive from data (depth, canon_url) — never
from partition iteration order — so the crawl frontier is identical at
any parallelism, which is what makes the local[8]-vs-local[32] scaling
evidence meaningful.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from warctools_spark.functions.udfs import (
    udf_canonicalize_url,
    udf_url_host,
    udf_url_sha1,
)
from warctools_spark.operators import frontier as FR
from warctools_spark.operators import seen as SEEN
from warctools_spark.plans.catalog import Catalog

QUEUE_COLS = ("url_sha1", "canon_url", "host", "depth")


def init_state(seeds: DataFrame) -> tuple[DataFrame, DataFrame]:
    """seeds(url) -> (queue, seen) at depth 0."""
    q = (
        seeds.select(
            udf_canonicalize_url(F.col("url")).alias("canon_url"),
            udf_url_sha1(F.col("url")).alias("url_sha1"),
            udf_url_host(F.col("url")).alias("host"),
        )
        .withColumn("depth", F.lit(0))
        .dropDuplicates(["url_sha1"])
        .select(*QUEUE_COLS)
    )
    return q, q.select("url_sha1")


@dataclass
class EpochResult:
    schedule: DataFrame
    queue: DataFrame
    seen: DataFrame
    metrics: dict
    fresh_seen: DataFrame  # this epoch's NEW keys (delta)


def _materialize(
    df: DataFrame, obs: Observation | None, table: str, epoch: int,
    catalog: Catalog | None,
) -> DataFrame:
    """The one place epoch state is materialised, with `obs` (if any)
    counting its rows as an observe() aggregate on the same action.
    With a catalog the snapshot write IS the checkpoint: the table is
    written once and read back, which also cuts the lineage. Without
    one, the rows are localCheckpoint()ed."""
    if obs is not None:
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if catalog is None:
        return df.localCheckpoint(eager=True)
    catalog.write_table(df, table, epoch)
    spark = df.sparkSession
    if table == "bloom":
        # read_table drops `bucket` as a physical partition column, but
        # for the filter table it IS the schema key
        return spark.read.parquet(catalog.table_path(table, epoch))
    return catalog.read_table(spark, table, epoch)


def run_epoch(
    pages: DataFrame,
    queue: DataFrame,
    seen: DataFrame,
    epoch: int,
    k_per_host: int = 10,
    robots: DataFrame | None = None,
    n_buckets: int = 32,
    bloom: DataFrame | None = None,
    pages_keyed: DataFrame | None = None,
    catalog: Catalog | None = None,
) -> EpochResult:
    """One frontier epoch. `schedule` and `queue` are materialised once
    each (`_materialize`: catalog tables for this epoch, else
    localCheckpoint) so epoch N+1 starts from materialized rows instead
    of re-executing N chained UDF stages — bounded plan depth is what
    keeps a 1000-epoch crawl schedulable. The returned `seen` is the
    lazy `seen ∪ fresh`: no copy of the seen set. A `bloom` table
    (covering `seen`) switches the seen probe to the two-tier dedup."""
    t0 = time.time()
    o_sched, o_fresh, o_queue = (Observation() for _ in range(3))

    # 1. politeness schedule; with robots the crawl_delay_ms column
    # adds the per-host fetch budget min(k, epoch_window / crawl_delay).
    # Materialised BEFORE the fetch reads it, so the window runs once.
    queued = queue
    if robots is not None and "crawl_delay_ms" in robots.columns:
        queued = queue.join(
            F.broadcast(robots.select("host", "crawl_delay_ms")),
            on="host",
            how="left",
        )
    schedule = FR.politeness_schedule(queued, k_per_host).select(*QUEUE_COLS)
    schedule = _materialize(schedule, o_sched, "schedule", epoch, catalog)

    # 2. simulated fetch: join the scheduled urls to the pages corpus.
    # pages is keyed by raw url; canonical keys make the join exact.
    # A caller (run_crawl) can pass pages_keyed (the canon_url ->
    # page_url map) precomputed ONCE per crawl — re-canonicalizing the
    # full corpus every epoch is an O(|pages|) Arrow pass that
    # multiplies by epoch count at 100 TB. The html payload joins in
    # by exact url, touching only the scheduled rows' pages.
    if pages_keyed is None:
        pages_keyed = key_pages(pages)
    fetched = schedule.join(pages_keyed, on="canon_url", how="inner").join(
        pages.select(F.col("url").alias("page_url"), "html"),
        on="page_url",
        how="inner",
    )

    # 3. harvest + canonicalize (fused single Arrow pass), depth+1
    links = FR.harvest_canonicalized(fetched, url_col="page_url").join(
        fetched.select(F.col("page_url").alias("src_url"), "depth"),
        on="src_url",
        how="inner",
    ).withColumn("depth", F.col("depth") + 1)

    # 4. dedup: within epoch, then against seen. A caller-supplied
    # bloom table (incrementally maintained across epochs) skips the
    # per-epoch rebuild over the whole seen set — at 10^10 keys the
    # rebuild, not the probe, would dominate the epoch.
    cand = FR.dedup_within_epoch(links)
    if bloom is not None:
        fresh = SEEN.two_tier_dedup(
            cand, seen, n_buckets=n_buckets, seen_filter=bloom
        )
    else:
        fresh = FR.dedup_against_seen(cand, seen)

    # 5. robots gate
    if robots is not None:
        from warctools_spark.operators.robots import apply_robots

        fresh = apply_robots(fresh, robots).drop("crawl_delay_ms")

    # 6/7. next state. `fresh` feeds both queue' and the caller's seen
    # delta, so it is the one in-epoch checkpoint (O(|fresh|), never a
    # snapshot table). The row-count metrics ride the materialising
    # actions as observe() aggregates — zero extra count jobs.
    fresh = _materialize(
        fresh.select(*QUEUE_COLS), o_fresh, "fresh", epoch, None
    )
    queue_next = queue.join(
        schedule.select("url_sha1"), on="url_sha1", how="left_anti"
    ).unionByName(fresh)
    queue_next = _materialize(queue_next, o_queue, "queue", epoch, catalog)
    fresh_seen = fresh.select("url_sha1")

    metrics = {
        "epoch": epoch,
        "scheduled": o_sched.get["n"],
        "deduped_new": o_fresh.get["n"],
        "queue_size": o_queue.get["n"],
        "wall_s": time.time() - t0,
    }
    return EpochResult(
        schedule, queue_next, seen.unionByName(fresh_seen), metrics, fresh_seen
    )


def partition_lineage(df: DataFrame) -> list[dict]:
    """Per-shuffle-partition row counts — the lineage payload each
    snapshot carries (north_rule)."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    return [{"partition_id": r["partition_id"], "rows": r["rows"]} for r in rows]


def key_pages(pages: DataFrame) -> DataFrame:
    """(canon_url, page_url) key MAP of the pages corpus for the fetch
    join — deliberately WITHOUT the html column, so run_crawl can
    materialize it once per crawl (two string columns, ~100 bytes/row)
    instead of either re-running the canonicalize UDF over the whole
    corpus every epoch (the r3 shape) or checkpointing a full copy of
    the html payloads (OOMs a 1g driver at bench scale; a non-starter
    at 100 TB). The payload joins back from the original corpus by
    exact url at fetch time — in production `pages` is a host-bucketed
    table, so that join is co-located."""
    return pages.select(
        udf_canonicalize_url(F.col("url")).alias("canon_url"),
        F.col("url").alias("page_url"),
    )


def restore_bloom(
    spark: SparkSession,
    catalog: Catalog,
    m_bits: int,
    k_hashes: int,
    n_buckets: int,
) -> DataFrame | None:
    """Restore the persisted Bloom table from the latest snapshot if
    its parameters match; None -> caller rebuilds from the seen set.

    The filter table is only n_buckets rows (~m_bits/8 bytes each), so
    persisting it per epoch is ~MBs while the rebuild it saves is an
    O(|seen|) scan — at 10^10 keys that is the difference between a
    sub-second resume and re-hashing the whole crawl history."""
    e = catalog.latest_epoch()
    if e is None:
        return None
    manifest = catalog.read_manifest(e)
    entry = next(
        (t for t in manifest.get("tables", []) if t.get("table") == "bloom"),
        None,
    )
    if entry is None:
        return None
    # bucket scheme must match: the probe joins on
    # pmod(xxhash64(key), n_buckets), so a filter built under a
    # different bucket count would silently probe the wrong bitsets
    if entry.get("bloom_n_buckets") != n_buckets:
        return None
    # read the path directly: read_table drops `bucket` as a physical
    # partition column, but for the filter table it IS the schema key
    bloom = spark.read.parquet(catalog.table_path("bloom", e))
    head = bloom.limit(1).collect()
    if not head:
        return None
    row = head[0]
    if (
        row["m"] != m_bits
        or row["k"] != k_hashes
        or row["version"] != SEEN.HASH_SCHEME_VERSION
    ):
        return None
    return bloom


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    epochs: int,
    k_per_host: int = 10,
    catalog: Catalog | None = None,
    use_bloom: bool = False,
    compact_every: int = 8,
    start_epoch: int = 0,
    initial_state: tuple[DataFrame, DataFrame] | None = None,
    bloom_n_buckets: int = 32,
    bloom_capacity_per_bucket: int = 1 << 16,
    bloom_fpr: float = 0.01,
) -> list[dict]:
    """Multi-epoch crawl loop with optional snapshot checkpointing.

    Seen-set storage is APPEND-ONLY: each epoch commits only its fresh
    keys as a delta (at 10^10 keys a full rewrite per epoch would be
    the dominant cost, SCALE.md); every `compact_every` epochs the
    deltas fold into a new base. The manifest records exactly which
    parts constitute seen@epoch, so resume is exact. Pass
    (start_epoch, initial_state) from resume_state() to continue a
    checkpointed crawl. Returns per-epoch metrics.

    With use_bloom the Bloom table is maintained INCREMENTALLY:
    (m, k) are fixed up front from bloom_capacity_per_bucket, the
    filter is built once over the initial seen set, and each epoch
    ORs in a small Bloom over that epoch's fresh keys (Bloom union ==
    set union) — the per-epoch cost is O(|fresh|), never the
    O(|seen|) rebuild that would dominate at 10^10 keys. Size
    bloom_capacity_per_bucket for the crawl's target seen size; the
    capacity only affects the false-positive rate (tier 2 stays
    exact)."""
    if initial_state is not None:
        queue, seen = initial_state
    else:
        queue, seen = init_state(seeds)
    # counted ONCE per crawl, then advanced by each epoch's fresh count:
    # the deltas are disjoint from seen by construction (the same
    # invariant compaction relies on), so no epoch re-counts seen
    seen_size = seen.count()
    bloom = None
    if use_bloom:
        m_bits, k_hashes = SEEN.optimal_params(
            bloom_capacity_per_bucket, bloom_fpr
        )
        # Resume path: the filter table is committed per epoch, so a
        # new driver process restores it in O(n_buckets) instead of
        # paying the O(|seen|) rebuild. Restore ONLY when actually
        # resuming (initial_state supplied): a fresh crawl over a
        # non-empty catalog (new seed list, reused directory) has a
        # `seen` the persisted filter does NOT cover, and a filter
        # missing keys makes the Bloom-negative fast path emit
        # duplicates into the append-only deltas — corrupting the
        # disjointness invariant compaction relies on. The seen_size
        # recorded in the latest manifest must also match the restored
        # state's row count, catching caller-supplied initial_state
        # that did not come from this catalog's snapshot.
        if catalog is not None and initial_state is not None:
            bloom = restore_bloom(
                spark, catalog, m_bits, k_hashes, bloom_n_buckets
            )
            if bloom is not None:
                e0 = catalog.latest_epoch()
                committed = (
                    catalog.read_manifest(e0)["metrics"].get("seen_size")
                    if e0 is not None
                    else None
                )
                if committed is None or committed != seen_size:
                    bloom = None  # state drift: rebuild from `seen`
        if bloom is None:
            # left lazy: the first epoch's probe and its union with
            # that epoch's delta each build it, a per-crawl cost over
            # the seed keys (or, on state drift, the resumed seen set)
            bloom = SEEN.build_bloom(
                seen,
                n_buckets=bloom_n_buckets,
                m_bits=m_bits,
                k_hashes=k_hashes,
            )
    # One canonicalize pass per CRAWL, not per epoch. The checkpointed
    # key map is two string columns (no html); DISK_ONLY keeps it out
    # of the executor heap entirely (a 10^10-row map is ~1 TB spread
    # over the cluster's local disks — reading it back per epoch beats
    # re-running the canonicalize UDF by an order of magnitude). At
    # true 100 TB scale write it once as a catalog table instead — the
    # plan is identical.
    from pyspark.storagelevel import StorageLevel

    pages_keyed = key_pages(pages).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    all_metrics = []
    for e in range(start_epoch, start_epoch + epochs):
        result = run_epoch(
            pages,
            queue,
            seen,
            epoch=e,
            k_per_host=k_per_host,
            n_buckets=bloom_n_buckets,
            bloom=bloom,
            pages_keyed=pages_keyed,
            catalog=catalog,
        )
        queue = result.queue
        seen_size += result.metrics["deduped_new"]
        result.metrics["seen_size"] = seen_size
        if use_bloom:
            delta_bloom = SEEN.build_bloom(
                result.fresh_seen,
                n_buckets=bloom_n_buckets,
                m_bits=m_bits,
                k_hashes=k_hashes,
            )
            bloom = _materialize(
                SEEN.union_blooms(bloom, delta_bloom), None, "bloom", e, catalog
            )
        if catalog is not None:
            # run_epoch wrote the schedule and queue tables; they join
            # the snapshot when the manifest commits. delta = what this
            # epoch added to seen; epoch 0 also owns the seed keys so
            # the union of deltas IS the seen set
            delta = result.fresh_seen
            if e == 0:
                delta = seen.unionByName(delta)
            tables = [
                {"table": "schedule", "path": catalog.table_path("schedule", e)},
                {"table": "queue", "path": catalog.table_path("queue", e)},
                catalog.write_table(delta, "seen_delta", e, bucket_col=None),
            ]
            if use_bloom:
                # n_buckets rows, ~m/8 bytes each — persisting the
                # filter costs MBs per snapshot and lets resume skip
                # the O(|seen|) rebuild entirely (restore_bloom).
                tables.append(
                    {
                        "table": "bloom",
                        "path": catalog.table_path("bloom", e),
                        "bloom_n_buckets": bloom_n_buckets,
                    }
                )
            compacted = (e + 1) % compact_every == 0
            # seen parts for this epoch = previous parts + this delta,
            # or a fresh base after compaction
            prev_parts = catalog.seen_parts(e - 1)
            parts = prev_parts + [catalog.table_path("seen_delta", e)]
            if compacted:
                # deltas are pairwise disjoint by construction (every
                # delta was anti-joined against all prior seen parts
                # before being written), so compaction is a plain
                # union — no distinct shuffle over the full seen set
                seen_full = spark.read.parquet(*parts).select("url_sha1")
                tables.append(
                    catalog.write_table(seen_full, "seen_base", e, bucket_col=None)
                )
                parts = [catalog.table_path("seen_base", e)]
            result.metrics["lineage"] = partition_lineage(result.schedule)
            result.metrics["seen_parts"] = parts
            catalog.commit(e, tables, result.metrics)
            # seen = the committed parts: each epoch's plan reads
            # parquet, cut off from the previous epoch's lazy plan
            seen = spark.read.parquet(*parts).select("url_sha1")
        else:
            seen = result.seen
        all_metrics.append(result.metrics)
        if result.metrics["queue_size"] == 0:
            break
    return all_metrics


def resume_state(
    spark: SparkSession, catalog: Catalog
) -> tuple[int, DataFrame, DataFrame] | None:
    """Latest committed (epoch, queue, seen) — exact resume point.
    `seen` is reconstructed from the manifest's seen parts (base +
    deltas)."""
    e = catalog.latest_epoch()
    if e is None:
        return None
    queue = catalog.read_table(spark, "queue", e)
    parts = catalog.seen_parts(e)
    seen = spark.read.parquet(*parts).select("url_sha1")
    return e, queue, seen
