"""Round-6 profiling extras (guide §1): per-query isolation timings and
plan capture. bench.py is FROZEN for cross-round measurement; everything
exploratory lives here.

Usage:
  python bench_extra.py time q1,q2,...  [--runs N]   # timed via the same
      count()/collect() actions bench.py uses, per-run times printed
  python bench_extra.py explain q1,...  --tag before # writes
      plans/r06/<q>_<tag>.txt with .explain("formatted")
  python bench_extra.py all                          # list query names

Environment contract matches bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS, $SPARK_GRAFT_EXPAND).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import bench as B  # noqa: E402  (frozen bench: reuse its query fns)
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = B.SF_DIR
CPUS = B.CPUS


# ---------------------------------------------------------------- builders
# DataFrame builders mirroring bench.py's queries, returning the final
# DataFrame so plans can be captured / noop-sunk. Kept in sync by eye;
# timings always come from bench.py's own functions.

def b_frontier_epoch(spark, pages_path):
    from warctools_spark.operators.frontier import (
        dedup_against_seen,
        dedup_within_epoch,
        harvest_canonicalized,
        politeness_schedule,
    )

    pages = spark.read.parquet(pages_path)
    seen = spark.read.parquet(B.seen_table_path())
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    cand = dedup_within_epoch(links)
    fresh = dedup_against_seen(cand, seen)
    return politeness_schedule(fresh, 100)


def b_harvest_only(spark, pages_path):
    from warctools_spark.operators.frontier import harvest_canonicalized

    pages = spark.read.parquet(pages_path)
    return harvest_canonicalized(pages)


def b_dedup_within(spark, pages_path):
    from warctools_spark.operators.frontier import (
        dedup_within_epoch,
        harvest_canonicalized,
    )

    pages = spark.read.parquet(pages_path)
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    return dedup_within_epoch(links)


def b_extract_text(spark, pages_path):
    from warctools_spark.functions.udfs import udf_extract_text

    pages = spark.read.parquet(pages_path)
    return (
        pages.select(udf_extract_text("html").alias("t"))
        .where(F.col("t").isNotNull())
    )


def b_minhash_lsh(spark, pages_path):
    from warctools_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return minhash_lsh_candidates(docs, num_hashes=16, bands=4)


def b_tpch_q1(spark, pages_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            F.count("*"),
        )
    )


def b_embedding_topk(spark, pages_path):
    from warctools_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return brute_force_topk(emb, [float(v) for v in qvec], k=10)


def b_bloom_bucketed(spark, pages_path):
    from warctools_spark.functions.udfs import udf_url_sha1
    from warctools_spark.operators.seen import two_tier_dedup

    pages = spark.read.parquet(pages_path)
    cand = pages.select(udf_url_sha1(F.col("url")).alias("url_sha1"))
    seen = spark.read.parquet(B.seen_table_path())
    return two_tier_dedup(cand, seen, n_buckets=CPUS)


def b_segment_dedup(spark, pages_path):
    from warctools_spark.operators.dedup import segment_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return segment_dedup(docs, k=10)


def b_duplicate_spans(spark, pages_path):
    from warctools_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return duplicate_spans(docs, k=10, min_span_tokens=15)


def b_inverted_index_segmented(spark, pages_path):
    from warctools_spark.operators.text_analysis import inverted_index

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return inverted_index(docs, min_df=2, segment_size=10_000)


def b_remove_duplicate_spans(spark, pages_path):
    from warctools_spark.operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return remove_duplicate_spans(docs, k=10, min_span_tokens=15)


def b_kmeans_assign(spark, pages_path):
    from warctools_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(CPUS)
    return kmeans_assign(emb, k=16, iterations=2)


def b_winnow_fingerprints(spark, pages_path):
    from warctools_spark.operators.text_analysis import winnow_fingerprints

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return winnow_fingerprints(docs, k=8, w=4)


def b_ivf_kmeans_topk(spark, pages_path):
    from warctools_spark.operators.similarity import ivf_kmeans_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(CPUS)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ivf_kmeans_topk(
        emb, [float(v) for v in qvec], k=10, n_cells=8, n_probe=2
    )


def b_dsir_weights(spark, pages_path):
    from warctools_spark.operators.sampling import dsir_weights

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return dsir_weights(docs, target_predicate="lang = 'en'")


def b_ngram_novelty(spark, pages_path):
    from warctools_spark.operators.text_analysis import ngram_novelty

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return ngram_novelty(docs)


def b_kneser_ney(spark, pages_path):
    from warctools_spark.operators.text_analysis import kneser_ney_logprob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    return kneser_ney_logprob(docs)


def b_hits(spark, pages_path):
    from warctools_spark.operators.graph import hits

    return hits(B._synth_host_edges(spark), n_iter=10, weight_col="n_links")


def b_trustrank(spark, pages_path):
    from warctools_spark.operators.graph import trustrank

    return trustrank(
        B._synth_host_edges(spark),
        ["hot.example.com"],
        n_iter=10,
        weight_col="n_links",
    )


BUILDERS = {
    "frontier_epoch": b_frontier_epoch,
    "harvest_only": b_harvest_only,
    "dedup_within": b_dedup_within,
    "extract_text": b_extract_text,
    "minhash_lsh": b_minhash_lsh,
    "tpch_q1": b_tpch_q1,
    "embedding_topk": b_embedding_topk,
    "bloom_bucketed": b_bloom_bucketed,
    "segment_dedup": b_segment_dedup,
    "duplicate_spans": b_duplicate_spans,
    "inverted_index_segmented": b_inverted_index_segmented,
    "remove_duplicate_spans": b_remove_duplicate_spans,
    "kmeans_assign": b_kmeans_assign,
    "winnow_fingerprints": b_winnow_fingerprints,
    "ivf_kmeans_topk": b_ivf_kmeans_topk,
    "dsir_weights": b_dsir_weights,
    "ngram_novelty": b_ngram_novelty,
    "kneser_ney": b_kneser_ney,
    "hits": b_hits,
    "trustrank": b_trustrank,
}

# bench.py's timed functions, for methodology-faithful timing
TIMED = {
    "frontier_epoch": B.q_frontier_epoch,
    "extract_text": B.q_extract_text,
    "minhash_lsh": B.q_minhash_bands,
    "tpch_q1": B.q_tpch_q1,
    "embedding_topk": B.q_embedding_topk,
    "bloom_bucketed": B.q_bloom_bucketed,
    "segment_dedup": B.q_segment_dedup,
    "duplicate_spans": B.q_duplicate_spans,
    "inverted_index_segmented": B.q_inverted_index_segmented,
    "remove_duplicate_spans": B.q_remove_duplicate_spans,
    "kmeans_assign": B.q_kmeans,
    "winnow_fingerprints": B.q_winnow,
    "ivf_kmeans_topk": B.q_ivf_kmeans,
    "dsir_weights": B.q_dsir_weights,
    "ngram_novelty": B.q_ngram_novelty,
    "kneser_ney": B.q_kneser_ney,
    "hits": B.q_hits,
    "trustrank": B.q_trustrank,
    "unigram_lm_train": B.q_unigram_lm_train,
}


def _spark():
    from warctools_spark.session import get_spark

    spark = get_spark(
        app="warctools_spark_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main():
    if len(sys.argv) < 2 or sys.argv[1] == "all":
        print(" ".join(TIMED))
        return
    mode = sys.argv[1]
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else list(TIMED)
    runs = 3
    tag = "before"
    noop = False
    for i, a in enumerate(sys.argv):
        if a == "--runs":
            runs = int(sys.argv[i + 1])
        if a == "--tag":
            tag = sys.argv[i + 1]
        if a == "--noop":
            noop = True

    spark = _spark()
    pages_path = B.materialize_pages(spark)

    if mode == "time":
        out = {"sf": SF_DIR, "cpus": CPUS, "load1": os.getloadavg()[0]}
        for name in names:
            fn = TIMED[name]
            times = []
            res = None
            for _ in range(runs):
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.time()
                res = fn(spark, pages_path)
                times.append(round(time.time() - t0, 3))
            out[name] = {"times": times, "min": min(times), "result": res}
            print(json.dumps({name: out[name]}), flush=True)
        out["load_end"] = os.getloadavg()[0]
        print(json.dumps(out))
    elif mode == "noop_time":
        # guide §1.4: noop-sink isolation (computes every column)
        out = {"sf": SF_DIR, "cpus": CPUS, "load1": os.getloadavg()[0]}
        for name in names:
            df = BUILDERS[name](spark, pages_path)
            times = []
            for _ in range(runs):
                spark.sparkContext.setJobDescription(f"noop:{name}")
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
            out[name] = {"times": times, "min": min(times)}
            print(json.dumps({name: out[name]}), flush=True)
        print(json.dumps(out))
    elif mode == "explain":
        plans_dir = Path(__file__).resolve().parent / "plans" / "r06"
        plans_dir.mkdir(parents=True, exist_ok=True)
        for name in names:
            df = BUILDERS[name](spark, pages_path)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            p = plans_dir / f"{name}_{tag}.txt"
            p.write_text(txt)
            print(f"wrote {p}")
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
