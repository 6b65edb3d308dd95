"""Composed training-corpus preparation pipeline — the end-to-end
flow a pretraining data job runs over raw documents:

    quality gate -> language gate -> exact dedup (keep first)
    -> MinHash-LSH near-dup candidates -> exact Jaccard verify
    -> connected components -> keep one doc per cluster

Every stage is one of the engine's oracle-checked operators; the
composition itself is oracle-checked end-to-end (driver query
`training_corpus`). Shuffle profile: one hash-agg for the exact
dedup, one band-key groupBy for LSH, one join+agg round per
propagation step — all keyed shuffles with map-side reduction, no
collects, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warctools_spark.operators.dedup import (
    dup_clusters,
    exact_dedup_keep_first,
    minhash_lsh_candidates,
    ngram_jaccard,
)
from warctools_spark.operators.text_analysis import lang_id, quality_score


def prepare_training_corpus(
    docs: DataFrame,
    min_quality: float = 50.0,
    languages: tuple = ("en",),
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """The surviving documents with (id, lang_pred, quality_score).

    Order matters and is deliberate: the quality/language gates run
    first (cheap scan-side expressions pruning the corpus before any
    shuffle); exact dedup collapses byte-identical content before LSH
    so degenerate boilerplate never reaches the band buckets; the LSH
    stage then only pays for the near-duplicate structure that
    remains.
    """
    scored = quality_score(docs).select("doc_id", "quality_score")
    gated = (
        docs.withColumn("lang_pred", lang_id(F.col("text")))
        .join(scored, on="doc_id")
        .where(
            (F.col("quality_score") >= min_quality)
            & F.col("lang_pred").isin(list(languages))
        )
    )
    kept = exact_dedup_keep_first(gated)
    pairs = minhash_lsh_candidates(kept, num_hashes=8)
    verified = (
        ngram_jaccard(kept, pairs)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b")
    )
    clusters = dup_clusters(verified, kept)
    survivors = clusters.where(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    return kept.join(survivors, on="doc_id").select(
        "doc_id", "lang_pred", "quality_score"
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    shards: int,
) -> dict:
    """Write the prepared corpus as `shards` balanced, globally-ordered
    parquet shards — the layout a downstream tokenizer fans out over.

    repartitionByRange gives contiguous id ranges per shard (stable
    shard membership across reruns — range boundaries come from data
    sampling of a deterministic column, not hash order), each shard is
    one file (maxRecordsPerFile unset; one partition -> one file), and
    rows inside a shard are sorted so tokenization output is
    reproducible byte-for-byte. Returns {'rows': n, 'shards': k}.
    """
    (
        docs.repartitionByRange(shards, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    spark = docs.sparkSession
    written = spark.read.parquet(path)
    return {"rows": written.count(), "shards": shards}


def prepare_training_corpus_v2(docs: DataFrame) -> DataFrame:
    """The modern corpus-preparation chain, every stage relational:

      gopher_gate (repetition/length drop reasons)
        -> exact_dedup_keep_first (byte-identical collapse)
        -> segment_dedup (C4-style corpus-level span dedup)
        -> scrub_pii (redaction on the surviving text)

    Returns (doc_id, final_md5, n_segments, n_kept) where final_md5
    fingerprints the scrubbed deduplicated text — the value a
    downstream tokenizer run can pin for reproducibility.

    Stage order is the cheap-first rule v1 follows: the gate is a
    scan-side agg prune; exact dedup collapses identical boilerplate
    before the (heavier) segment pass; PII scrubbing runs last so it
    only pays for surviving bytes."""
    from warctools_spark.operators.dedup import (
        exact_dedup_keep_first,
        segment_dedup,
    )
    from warctools_spark.operators.text_analysis import gopher_gate, scrub_pii

    gate = gopher_gate(docs).where(
        F.col("keep")
    ).select("doc_id")
    gated = docs.join(gate, on="doc_id")
    kept = exact_dedup_keep_first(gated)
    seg = segment_dedup(kept)
    return seg.select(
        "doc_id",
        F.md5(scrub_pii(F.col("clean_text"))).alias("final_md5"),
        "n_segments",
        "n_kept",
    )


def rag_corpus(docs):
    """Composed RAG-indexing pipeline over a crawl corpus: exact
    substring-dedup rewrite (first corpus occurrence survives, spans
    of at least 15 tokens of duplicated 10-grams cut) -> sliding-window
    chunking of the cleaned text (64-token windows every 32 tokens) ->
    drop tail chunks under 8 tokens. Returns
    (doc_id, chunk_id, tok_start, n_tokens, chunk).

    Every stage is linear-shuffle (see duplicate_spans /
    chunk_documents scale notes); composition adds no extra passes —
    the chunker consumes the rewrite's column directly."""
    from warctools_spark.operators.dedup import remove_duplicate_spans
    from warctools_spark.operators.text_analysis import chunk_documents

    cleaned = remove_duplicate_spans(docs, min_span_tokens=15)
    chunks = chunk_documents(
        cleaned, window=64, stride=32, text_col="clean_text"
    )
    return chunks.where(F.col("n_tokens") >= 8)
