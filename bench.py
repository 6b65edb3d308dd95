"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "urls_per_sec": ...,
   "pages": N, "cpus": N}

The headline is the frontier epoch: harvest -> canonicalize -> sha1 ->
dedup-vs-seen -> politeness schedule over an expanded pages corpus
(EXPAND x documents; EXPAND via $SPARK_GRAFT_EXPAND, default 20 ->
100k pages / 800k candidate urls at sf0.1). Pages are materialized to
parquet once (deterministic, reused across runs) so the timed section
measures the engine, not the synthesizer.

Scaling evidence (local[8] vs local[32]) is produced by
tools/scaling_bench.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EXPAND = int(os.environ.get("SPARK_GRAFT_EXPAND", "20"))
PAGES_CACHE = os.environ.get(
    "SPARK_GRAFT_PAGES_CACHE", "/tmp/warctools_spark_bench"
)


def materialize_pages(spark) -> str:
    """Pages corpus + a seen-set table (half the link universe), the
    state a mid-crawl epoch reads. Deterministic; reused across runs."""
    sf = os.path.basename(SF_DIR.rstrip("/"))
    path = os.path.join(PAGES_CACHE, f"pages_{sf}_x{EXPAND}.parquet")
    seen_path = seen_table_path()
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from warctools_spark.sources.pages import synthesize_pages

        synthesize_pages(spark, SF_DIR, expand=EXPAND, repartition=CPUS).write.mode(
            "overwrite"
        ).parquet(path)
    if not os.path.exists(os.path.join(seen_path, "_SUCCESS")):
        from warctools_spark.functions.udfs import udf_url_sha1

        pages = spark.read.parquet(path)
        pages.select(udf_url_sha1(F.col("url")).alias("url_sha1")).where(
            F.col("url_sha1").substr(1, 1) < "8"
        ).write.mode("overwrite").parquet(seen_path)
    return path


def seen_table_path() -> str:
    sf = os.path.basename(SF_DIR.rstrip("/"))
    return os.path.join(PAGES_CACHE, f"seen_{sf}_x{EXPAND}.parquet")


def q_frontier_epoch(spark, pages_path):
    """Headline: one full epoch over every page (all pages 'fetched'
    this epoch), returns #candidate urls processed."""
    from warctools_spark.operators.frontier import (
        dedup_against_seen,
        dedup_within_epoch,
        harvest_canonicalized,
        politeness_schedule,
    )

    pages = spark.read.parquet(pages_path)
    seen = spark.read.parquet(seen_table_path())
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    cand = dedup_within_epoch(links)
    fresh = dedup_against_seen(cand, seen)
    # one host window; its map-side WindowGroupLimit bounds the hot
    # host's shuffle share without a histogram pass
    sched = politeness_schedule(fresh, 100)
    return sched.count()


def q_extract_text(spark, pages_path):
    from warctools_spark.functions.udfs import udf_extract_text

    pages = spark.read.parquet(pages_path)
    return (
        pages.select(udf_extract_text("html").alias("t"))
        .where(F.col("t").isNotNull())
        .count()
    )


def q_minhash_bands(spark, pages_path):
    from warctools_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return minhash_lsh_candidates(docs, num_hashes=16, bands=4).count()


def q_tpch_q1(spark, pages_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            F.count("*"),
        )
        .count()
    )


def q_embedding_topk(spark, pages_path):
    from warctools_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return brute_force_topk(emb, [float(v) for v in qvec], k=10).count()


def q_bloom_bucketed(spark, pages_path):
    """Extra (non-headline) measurement: the co-partitioned Bloom
    probe path over the full candidate set vs the materialized seen
    table — the 10^10-key design's probe shape, timed at bench scale.
    Returns the surviving-candidate count (equals the exact anti-join
    by construction)."""
    from warctools_spark.functions.udfs import udf_url_sha1
    from warctools_spark.operators.seen import two_tier_dedup

    pages = spark.read.parquet(pages_path)
    cand = pages.select(udf_url_sha1(F.col("url")).alias("url_sha1"))
    seen = spark.read.parquet(seen_table_path())
    return two_tier_dedup(cand, seen, n_buckets=CPUS).count()


def q_segment_dedup(spark, pages_path):
    """Extra measurement: C4-style corpus-level segment dedup over the
    documents table (the heaviest of the training-data text operators:
    posexplode -> keeper hash agg -> join -> ordered reassembly)."""
    from warctools_spark.operators.dedup import segment_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    out = segment_dedup(docs, k=10)
    return out.agg(
        F.sum("n_segments").alias("s"), F.sum("n_kept").alias("k")
    ).collect()[0]["k"]


def q_duplicate_spans(spark, pages_path):
    """Extra measurement: exact substring-duplication spans over the
    documents table (k-gram explode + first-occurrence agg + per-doc
    island windows)."""
    from warctools_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return duplicate_spans(docs, k=10, min_span_tokens=15).count()


def q_inverted_index_segmented(spark, pages_path):
    """Extra measurement (r03 brief #7): the skew-proof segmented
    inverted index — the DEFAULT `inverted_index` path — over the
    documents table, segment_size small enough that hot terms really
    shard at bench scale."""
    from warctools_spark.operators.text_analysis import inverted_index

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return inverted_index(docs, min_df=2, segment_size=10_000).count()


def q_remove_duplicate_spans(spark, pages_path):
    """Extra measurement (r03 brief #7): the full substring-dedup
    REWRITE (spans + per-doc token excision + reassembly) — the
    heaviest composed text transform."""
    from warctools_spark.operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return remove_duplicate_spans(docs, k=10, min_span_tokens=15).count()


def q_kmeans(spark, pages_path):
    """Extra measurement: deterministic Lloyd k-means assignment over
    the embeddings table (k=16, 2 iterations)."""
    from warctools_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(CPUS)
    return kmeans_assign(emb, k=16, iterations=2).count()


def q_winnow(spark, pages_path):
    """Extra measurement: winnowing fingerprints over the documents
    table (explode + per-doc window min + dedup)."""
    from warctools_spark.operators.text_analysis import winnow_fingerprints

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return winnow_fingerprints(docs, k=8, w=4).count()


def q_ivf_kmeans(spark, pages_path):
    """Extra measurement: kmeans-IVF ANN (train 8 cells, probe 2,
    exact rerank) — the full per-query path including training."""
    from warctools_spark.operators.similarity import ivf_kmeans_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(CPUS)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ivf_kmeans_topk(
        emb, [float(v) for v in qvec], k=10, n_cells=8, n_probe=2
    ).count()


def q_dsir_weights(spark, pages_path):
    """Extra measurement: DSIR importance weights over the documents
    table (hashed unigram+bigram log-ratio vs the lang='en' target)."""
    from warctools_spark.operators.sampling import dsir_weights

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return dsir_weights(docs, target_predicate="lang = 'en'").count()


def q_ngram_novelty(spark, pages_path):
    """Extra measurement: per-doc 5-gram novelty (shingle explode +
    min-agg first-occurrence + join-back)."""
    from warctools_spark.operators.text_analysis import ngram_novelty

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return ngram_novelty(docs).count()


def q_kneser_ney(spark, pages_path):
    """Extra measurement: per-doc interpolated Kneser-Ney trigram
    fluency (one trigram explode + five derived model tables)."""
    from warctools_spark.operators.text_analysis import kneser_ney_logprob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return kneser_ney_logprob(docs).count()


def _synth_host_edges(spark):
    from warctools_spark.sources.pages import host_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    return (
        docs.select(
            host_expr(F.col("doc_id")).alias("src_host"),
            host_expr((F.col("doc_id") * 31 + 7) % n).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("double").alias("n_links"))
    )


def q_hits(spark, pages_path):
    """Extra measurement: 10 HITS iterations over the synthesized
    host graph (two shuffles + two broadcast normalizers each)."""
    from warctools_spark.operators.graph import hits

    return hits(_synth_host_edges(spark), n_iter=10, weight_col="n_links").count()


def q_trustrank(spark, pages_path):
    """Extra measurement: 10 TrustRank iterations, seeded at the hot
    host (one shuffle + dangling broadcast each)."""
    from warctools_spark.operators.graph import trustrank

    return trustrank(
        _synth_host_edges(spark),
        ["hot.example.com"],
        n_iter=10,
        weight_col="n_links",
    ).count()


def q_unigram_lm_train(spark, pages_path):
    """Extra measurement: unigram-LM tokenizer training (seed, one EM
    pass, prune, one EM pass over the corpus's word table)."""
    from warctools_spark.operators.unigram_lm import unigram_train

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    vocab = unigram_train(docs, vocab_size=500, n_em=1)
    return len(vocab)


def main():
    from warctools_spark.session import get_spark

    spark = get_spark(
        app="warctools_spark_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages_path = materialize_pages(spark)
    n_pages = spark.read.parquet(pages_path).count()
    n_links = None

    queries = {
        "frontier_epoch": q_frontier_epoch,
        "extract_text": q_extract_text,
        "minhash_lsh": q_minhash_bands,
        "tpch_q1": q_tpch_q1,
        "embedding_topk": q_embedding_topk,
    }
    # BOTH series are recorded so cross-round comparisons never mix
    # methodologies: `queries_cold` is each query's FIRST execution
    # (pays JVM/codegen warmup — observed 2-5x inflation, high
    # variance on a shared VM); `queries` (the headline, feeding
    # `value`) is best-of-3 — the steady-state engine throughput a
    # long-running cluster job amortizes to.
    # per-run spread rides along (r03 brief #8) so a cross-round mover
    # is distinguishable from shared-VM noise without a re-run: if the
    # [min, median, max] intervals of two rounds overlap, it's noise.
    def timed(fn, *args, runs=3):
        times = []
        res = None
        for _ in range(runs):
            t0 = time.time()
            res = fn(spark, *args)
            times.append(time.time() - t0)
        cold = times[0]
        # spread over the WARM runs only — the first run's JVM/codegen
        # warmup is reported separately as `queries_cold`, not noise
        import statistics

        warm = times[1:] or times
        # statistics.median averages the middle pair on even counts —
        # sorted()[n//2] would report the MAX of 2 warm samples as the
        # median, biasing the cross-round noise analysis
        spread = {
            "min": round(min(warm), 3),
            "med": round(statistics.median(warm), 3),
            "max": round(max(warm), 3),
        }
        return res, round(cold, 3), round(min(times), 3), spread

    timings = {}
    timings_cold = {}
    spreads = {}
    results = {}
    for name, fn in queries.items():
        results[name], timings_cold[name], timings[name], spreads[name] = (
            timed(fn, pages_path)
        )

    # extra measurements: recorded but NOT in the headline total, so
    # the total stays comparable across rounds/BASELINE.md
    extra = {}
    extra_cold = {}
    for name, fn, runs in (
        ("bloom_bucketed", q_bloom_bucketed, 3),
        ("segment_dedup", q_segment_dedup, 3),
        ("duplicate_spans", q_duplicate_spans, 3),
        ("inverted_index_segmented", q_inverted_index_segmented, 3),
        ("remove_duplicate_spans", q_remove_duplicate_spans, 3),
        ("kmeans_assign", q_kmeans, 3),
        # r04 brief #7: the winnow warm spread was too wide (0.93-4.99s)
        # to regress against — 7 runs / 6 warm samples tightens the
        # recorded interval through shared-VM noise phases
        ("winnow_fingerprints", q_winnow, 7),
        ("ivf_kmeans_topk", q_ivf_kmeans, 3),
        ("dsir_weights", q_dsir_weights, 3),
        ("ngram_novelty", q_ngram_novelty, 3),
        ("kneser_ney", q_kneser_ney, 3),
        ("hits", q_hits, 3),
        ("trustrank", q_trustrank, 3),
        ("unigram_lm_train", q_unigram_lm_train, 3),
    ):
        results[name], extra_cold[name], extra[name], spreads[name] = timed(
            fn, pages_path, runs=runs
        )

    from warctools_spark.sources.pages import N_LINKS

    n_links = n_pages * N_LINKS
    urls_per_sec = round(n_links / timings["frontier_epoch"], 1)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "frontier_epoch+extract_text+minhash+tpch_q1+ann topk wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": timings_cold,
        "total_cold": round(sum(timings_cold.values()), 3),
        "extra_queries": extra,
        "extra_queries_cold": extra_cold,
        "spread_warm": spreads,
        "sf": SF_DIR,
        "pages": n_pages,
        "candidate_urls": n_links,
        "urls_per_sec": urls_per_sec,
        "cpus": CPUS,
        "results": results,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
