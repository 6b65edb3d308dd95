"""Sequence packing for training-data pipelines.

GPT-style training concatenates documents (with separators) into
fixed-length token sequences. The assignment every doc needs is its
global token offset — a prefix sum over the corpus in a deterministic
order. A naive `Window.orderBy(doc_id)` collapses the corpus into ONE
task; this implements the standard two-phase distributed scan:

  1. range-partition by doc_id (keeps the global order across
     partitions), cumulative sum WITHIN each partition (parallel
     window, partitionBy spark_partition_id)
  2. per-partition totals (one tiny row per partition) are summed on
     the driver into per-partition base offsets and broadcast-joined
     back

The result is identical to the logical `sum() OVER (ORDER BY doc_id)`
at any parallelism — partitioning-invariance is pinned by test and the
DuckDB oracle replays the single-node formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warctools_spark.operators.text_analysis import token_count


def pack_sequences(docs: DataFrame, seq_len: int = 2048) -> DataFrame:
    """(doc_id, n_tokens, tok_start, seq_first, seq_last): each doc's
    global token offset in the id-ordered concatenated corpus and the
    first/last training sequence of length `seq_len` it lands in."""
    spark = docs.sparkSession
    sized = docs.select(
        F.col("doc_id"), token_count(F.col("text")).alias("n_tokens")
    ).repartitionByRange(spark.sparkContext.defaultParallelism, F.col("doc_id"))

    with_pid = sized.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # localCheckpoint: two actions consume `local` (the totals collect
    # below and the final projection) — without it the range partition
    # + window recompute, doubling a full shuffle at corpus scale.
    # Checkpoint rather than persist so the blocks are reclaimed by
    # the ContextCleaner when the result is dropped, instead of
    # pinning a cache-manager entry for the session lifetime.
    local = with_pid.withColumn(
        "__local_cum", F.sum("n_tokens").over(w)
    ).localCheckpoint(eager=True)

    # per-partition totals: one row per partition -> driver, O(parts)
    totals = (
        local.groupBy("__pid")
        .agg(F.max("__local_cum").alias("__part_total"))
        .collect()
    )
    base = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["__pid"]):
        base[row["__pid"]] = acc
        acc += row["__part_total"]
    base_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in base.items()],
            "__pid int, __base long",
        )
    )

    cum = local.join(base_df, "__pid").withColumn(
        "__cum", F.col("__base") + F.col("__local_cum")
    )
    tok_start = F.col("__cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        tok_start.alias("tok_start"),
        F.floor(tok_start / seq_len).cast("long").alias("seq_first"),
        F.floor(
            F.greatest(F.col("__cum") - 1, tok_start) / seq_len
        ).cast("long").alias("seq_last"),
    )
