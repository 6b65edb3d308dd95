"""Structured Streaming variants of the frontier pipeline.

The batch engine models epochs as snapshot commits (plans/epoch.py —
the design SURVEY §1.4 chose); this module provides the continuous
variants for deployments that want a standing ingest:

* stream_pages: file-source stream over a pages directory (new
  parquet files = newly fetched pages)
* harvest_stream: the same fused harvest UDF — pandas UDFs work
  unchanged on streaming frames
* dedup_stream: stateful exact URL dedup via dropDuplicates on
  url_sha1 with an event-time watermark bounding state
* host_metrics_stream: per-host windowed crawl metrics with late-data
  handling (watermark + tumbling window)
* schedule_micro_batches: politeness top-k needs a ranking window,
  which streaming cannot express globally — foreachBatch applies the
  exact batch operator per micro-batch, which is precisely the epoch
  semantics (one micro-batch = one scheduling round)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warctools_spark.operators.frontier import politeness_schedule
from warctools_spark.sources.pages import PAGES_SCHEMA


def stream_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def harvest_with_event_time(pages: DataFrame) -> DataFrame:
    """Harvest keeping the page's warc_ts as link event time (needed
    for watermarked stateful dedup)."""
    from warctools_spark.functions.udfs import udf_harvest_canon

    exploded = pages.select(
        F.col("url").alias("src_url"),
        F.col("warc_ts"),
        F.explode(udf_harvest_canon(F.col("url"), F.col("html"))).alias("l"),
    )
    return exploded.select(
        "src_url",
        "warc_ts",
        F.col("l.link").alias("link"),
        F.col("l.canon_url").alias("canon_url"),
        F.col("l.url_sha1").alias("url_sha1"),
        F.col("l.host").alias("host"),
    )


def dedup_stream(links: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful exact URL-seen dedup: dropDuplicates keyed on url_sha1;
    the watermark bounds state (urls older than the watermark are
    evictable — at 10^10 scale the state store holds only the horizon,
    the snapshot tables hold history)."""
    return links.withWatermark("warc_ts", watermark).dropDuplicates(["url_sha1"])


def host_metrics_stream(
    links: DataFrame, window: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-host discovery counts in event-time windows — the streaming
    twin of the per-epoch lineage metrics."""
    return (
        links.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "host")
        .agg(
            F.count("*").alias("discovered"),
            F.approx_count_distinct("url_sha1").alias("approx_unique"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "host",
            "discovered",
            "approx_unique",
        )
    )


def schedule_micro_batches(
    links: DataFrame,
    k_per_host: int,
    sink,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """foreachBatch politeness scheduling: each micro-batch is one
    scheduling round — the exact batch operator (map-side top-k,
    skew-bounded) applied to the batch's candidates.
    `sink(batch_df, batch_id)` is invoked with the scheduled rows."""

    def _process(batch_df, batch_id):
        sched = politeness_schedule(
            batch_df.withColumn("depth", F.lit(1)), k_per_host
        )
        sink(sched, batch_id)

    writer = links.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming twin of the batch sessionizer (__spark_entry__
    events_sessionize): Spark's native session_window merges events
    closer than `gap` into one growing window per user; the watermark
    bounds state and closes sessions once event time passes
    session-end + watermark. Emits one row per closed session with
    start/end and event count — the aggregate view of the batch
    session_seq assignment (same gap semantics, so per-user session
    counts match the batch query's max(session_seq))."""
    # watermarks require TIMESTAMP (with timezone); parquet NTZ casts
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), user_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_frontier_durable(
    links: DataFrame,
    catalog,
    checkpoint: str,
    k_per_host: int = 10,
    bloom_n_buckets: int = 32,
    bloom_capacity_per_bucket: int = 1 << 16,
    bloom_fpr: float = 0.01,
    sink=None,
    trigger_available_now: bool = True,
):
    """Standing-ingest frontier with DURABLE dedup state: each
    micro-batch is one epoch of the batch pipeline — within-batch
    dedup -> two-tier Bloom probe against the catalog's seen set ->
    politeness schedule — and commits (seen delta, updated filter,
    schedule) as a catalog snapshot keyed by the batch id.

    STATE is exactly-once across restarts without relying on the
    sink: a replayed batch id (streaming checkpoint behind the
    catalog state) finds its snapshot already committed, skips the
    recompute, and RE-DELIVERS the committed schedule to the sink
    from the snapshot — so sink delivery is at-least-once with
    snapshot-exact data (make the sink idempotent on batch_id for
    end-to-end exactly-once; schedule is part of every snapshot
    precisely so a crash between commit and sink cannot lose it).
    The Bloom filter is restored from the previous snapshot
    (O(n_buckets)) and updated incrementally with the batch's fresh
    keys — no O(|seen|) work per batch at any corpus size.

    The catalog must be DEDICATED to this stream: snapshots are keyed
    by foreachBatch batch id, so a catalog holding batch-run_crawl
    epochs (manifests without a batch_id metric) raises instead of
    silently skipping live batches whose ids collide with old epochs.
    Replay detection is additionally keyed on the stream's persistent
    query id (the uuid Spark writes to `<checkpoint>/metadata`): if
    the streaming checkpoint is deleted or relocated while the
    catalog is kept, batch ids restart at 0 and would collide with
    old manifests — NEW batches would be misread as replays (stale
    schedule re-delivered, fresh links silently dropped once the
    source marks them committed). A manifest whose stream_id does not
    match the current checkpoint's query id raises instead.

    `links` rows need the queue columns (url_sha1, canon_url, host,
    depth); `sink(schedule_df, batch_id)` receives each batch's
    scheduled rows."""
    import json as _json

    from warctools_spark.operators import frontier as FR
    from warctools_spark.operators import seen as SEEN
    from warctools_spark.plans.epoch import restore_bloom
    from warctools_spark.plans.fs import HadoopFS

    m_bits, k_hashes = SEEN.optimal_params(
        bloom_capacity_per_bucket, bloom_fpr
    )
    _sid_cache: dict = {}

    def _stream_id(spark) -> str:
        """The persistent query id Spark wrote to <checkpoint>/metadata
        at stream start — stable across restarts FROM this checkpoint,
        different for a recreated or relocated one."""
        if "id" not in _sid_cache:
            fs = HadoopFS(spark, checkpoint)
            meta = _json.loads(
                fs.read_text(checkpoint.rstrip("/") + "/metadata")
            )
            _sid_cache["id"] = meta["id"]
        return _sid_cache["id"]

    def _process(batch_df, batch_id):
        spark = batch_df.sparkSession
        latest = catalog.latest_epoch()
        if catalog.manifest_exists(batch_id):
            # replay of a committed batch: the snapshot is the
            # barrier. Guard against a non-dedicated catalog (batch
            # run_crawl epochs colliding with stream batch ids) and
            # against a recreated/relocated checkpoint (batch ids
            # restarted at 0 — these are NEW batches, not replays),
            # then re-deliver the committed schedule so a crash
            # between commit and sink cannot lose output.
            m = catalog.read_manifest(batch_id)
            if "batch_id" not in m.get("metrics", {}):
                raise ValueError(
                    f"catalog at {catalog.root!r} holds non-streaming "
                    f"snapshot {batch_id}; stream_frontier_durable "
                    "needs a dedicated catalog"
                )
            committed_sid = m["metrics"].get("stream_id")
            # A manifest with batch_id but NO stream_id was committed
            # by a pre-stream_id version of this code; the only way to
            # arrive here with it is a genuine replay from the original
            # checkpoint (anything else already failed the batch_id
            # guard above), so tolerate it rather than dead-ending the
            # upgrade's first recovery.
            if committed_sid is not None and committed_sid != _stream_id(
                spark
            ):
                raise ValueError(
                    f"catalog at {catalog.root!r} snapshot {batch_id} "
                    f"was committed by stream {committed_sid!r}, but "
                    "the current checkpoint's query id is "
                    f"{_stream_id(spark)!r} — the checkpoint was "
                    "recreated or relocated, so this batch id is NOT a "
                    "replay; refusing to skip it (use a fresh catalog "
                    "or restore the original checkpoint)"
                )
            if sink is not None:
                sink(catalog.read_table(spark, "schedule", batch_id),
                     batch_id)
            return
        if latest is not None and latest >= batch_id:
            raise ValueError(
                f"catalog at {catalog.root!r} already holds epoch "
                f"{latest} >= batch id {batch_id} with no snapshot for "
                "this batch — it was not written by this stream; use a "
                "dedicated catalog"
            )
        parts = catalog.seen_parts(latest if latest is not None else -1)
        seen = (
            spark.read.parquet(*parts).select("url_sha1")
            if parts
            else spark.createDataFrame([], "url_sha1 string")
        )
        bloom = restore_bloom(
            spark, catalog, m_bits, k_hashes, bloom_n_buckets
        )
        if bloom is None:
            bloom = SEEN.build_bloom(
                seen,
                n_buckets=bloom_n_buckets,
                m_bits=m_bits,
                k_hashes=k_hashes,
            )
        # within-batch dedup over the queue columns (deterministic
        # min-over-struct, same discipline as FR.dedup_within_epoch
        # which expects the full harvest schema)
        cand = (
            batch_df.groupBy("url_sha1")
            .agg(
                F.min(F.struct("depth", "canon_url", "host")).alias("__m")
            )
            .select(
                "url_sha1",
                F.col("__m.canon_url").alias("canon_url"),
                F.col("__m.host").alias("host"),
                F.col("__m.depth").alias("depth"),
            )
        )
        fresh = SEEN.two_tier_dedup(
            cand, seen, n_buckets=bloom_n_buckets, seen_filter=bloom
        ).localCheckpoint(eager=True)
        sched = politeness_schedule(fresh, k_per_host)
        delta_bloom = SEEN.build_bloom(
            fresh.select("url_sha1"),
            n_buckets=bloom_n_buckets,
            m_bits=m_bits,
            k_hashes=k_hashes,
        )
        bloom = SEEN.union_blooms(bloom, delta_bloom).localCheckpoint(
            eager=True
        )
        tables = [
            catalog.write_table(
                fresh.select("url_sha1"), "seen_delta", batch_id,
                bucket_col=None,
            ),
            # schedule rides in the snapshot so a crash between commit
            # and sink can re-deliver it instead of losing it
            catalog.write_table(sched, "schedule", batch_id),
            {
                **catalog.write_table(
                    bloom, "bloom", batch_id, bucket_col=None
                ),
                "bloom_n_buckets": bloom_n_buckets,
            },
        ]
        n_fresh = fresh.count()
        catalog.commit(
            batch_id,
            tables,
            {
                "seen_parts": parts
                + [catalog.table_path("seen_delta", batch_id)],
                "batch_id": batch_id,
                "stream_id": _stream_id(spark),
                "checkpoint": checkpoint,
                "fresh": n_fresh,
            },
        )
        if sink is not None:
            sink(sched, batch_id)

    writer = links.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
