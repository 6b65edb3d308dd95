"""Production crawl job — submitted as
  spark-submit --driver-memory 8g --py-files engine.zip \\
      jobs/run_crawl.py \\
      --pages <parquet> --seeds <parquet|csv of urls> \\
      --catalog <dir> --epochs N --k-per-host K [--bloom]

Runs N frontier epochs over the pages corpus, committing one snapshot
(+ per-partition lineage) per epoch to the catalog; safe to re-submit:
it resumes from the latest committed epoch (including the persisted
Bloom filter — no O(|seen|) rebuild). Size --driver-memory for local
runs: run_crawl materializes the (canon_url, page_url) key map once
per crawl (DISK_ONLY, but serialization buffers still need heap; the
1g spark-submit default is too small beyond toy corpora).
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--epochs", type=int, default=1)
    ap.add_argument("--k-per-host", type=int, default=10)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--bloom", action="store_true")
    ap.add_argument(
        "--bloom-capacity-per-bucket", type=int, default=1 << 16,
        help="expected seen keys per bucket; fixes (m,k) up front so "
             "the filter can be maintained incrementally",
    )
    ap.add_argument("--bloom-fpr", type=float, default=0.01)
    ap.add_argument(
        "--expire-keep", type=int, default=None,
        help="after the run, keep only the newest N snapshots and "
             "delete table dirs no surviving snapshot references "
             "(bounded catalog storage for long crawls; append-only "
             "seen deltas the latest snapshot needs always survive)",
    )
    ap.add_argument(
        "--sitemap-seeds",
        action="store_true",
        help="augment the seed list with URLs discovered in sitemap "
        "XML pages of the corpus (depth-0 entries)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from warctools_spark.plans.catalog import Catalog
    from warctools_spark.plans.epoch import resume_state, run_crawl

    spark = SparkSession.builder.appName("warctools_spark_crawl").getOrCreate()
    pages = spark.read.parquet(args.pages)
    catalog = Catalog(args.catalog, n_buckets=args.n_buckets)

    resumed = resume_state(spark, catalog)
    initial_state = None
    seeds = None
    start_epoch = 0
    if resumed is not None:
        last_epoch, queue, seen = resumed
        start_epoch = last_epoch + 1
        initial_state = (queue, seen)
        print(json.dumps({"resumed_from_epoch": last_epoch}))
    else:
        if args.seeds.endswith(".parquet"):
            seeds = spark.read.parquet(args.seeds)
        else:
            seeds = spark.read.text(args.seeds).withColumnRenamed("value", "url")
        if args.sitemap_seeds:
            from pyspark.sql import functions as F

            from warctools_spark.operators.frontier import (
                discover_sitemap_seeds,
            )

            extra = discover_sitemap_seeds(pages).select(
                F.col("seed_url").alias("url")
            )
            seeds = seeds.select("url").unionByName(extra).distinct()

    metrics = run_crawl(
        spark,
        pages,
        seeds,
        epochs=args.epochs,
        k_per_host=args.k_per_host,
        catalog=catalog,
        use_bloom=args.bloom,
        bloom_n_buckets=args.n_buckets,
        bloom_capacity_per_bucket=args.bloom_capacity_per_bucket,
        bloom_fpr=args.bloom_fpr,
        start_epoch=start_epoch,
        initial_state=initial_state,
    )
    for m in metrics:
        print(json.dumps(m))

    if args.expire_keep is not None:
        print(json.dumps(catalog.expire_snapshots(keep_last=args.expire_keep)))

    spark.stop()


if __name__ == "__main__":
    main()
