"""Two-cluster-size scaling evidence (north_rule): the same frontier
epoch on the same input at local[8] vs local[32], reporting urls/sec at
both and efficiency = (tput_32 / tput_8) / 4. Target >= 0.8.

Each parallelism level runs in its own subprocess (fresh JVM) so
nothing is shared but the materialized pages and seen parquet, built
once (at the high level) in a third. Writes
BENCH/scaling_<low>_<high>.json (BENCH/BASELINE.md is curated by hand
from these).

Usage: python tools/scaling_bench.py [low_cpus high_cpus [expand]]
Corpus: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), cached
under /tmp/warctools_spark_bench.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PAGES_CACHE = "/tmp/warctools_spark_bench"


def corpus_paths(sf_dir: str, expand: int) -> tuple[str, str]:
    """The cached pages corpus and its seen table for one input."""
    sf = os.path.basename(sf_dir.rstrip("/"))
    return tuple(
        os.path.join(PAGES_CACHE, f"{table}_{sf}_x{expand}.parquet")
        for table in ("pages", "seen")
    )


def materialize_pages(spark, sf_dir: str, expand: int, partitions: int) -> None:
    """Pages corpus + a seen-set table (half the link universe), the
    state a mid-crawl epoch reads. Deterministic; reused across runs."""
    from pyspark.sql import functions as F

    from warctools_spark.functions.udfs import udf_url_sha1
    from warctools_spark.sources.pages import synthesize_pages

    pages_path, seen_path = corpus_paths(sf_dir, expand)
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        synthesize_pages(spark, sf_dir, expand=expand, repartition=partitions).write.mode(
            "overwrite"
        ).parquet(pages_path)
    if not os.path.exists(os.path.join(seen_path, "_SUCCESS")):
        pages = spark.read.parquet(pages_path)
        pages.select(udf_url_sha1(F.col("url")).alias("url_sha1")).where(
            F.col("url_sha1").substr(1, 1) < "8"
        ).write.mode("overwrite").parquet(seen_path)

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from warctools_spark.session import get_spark
from pyspark.sql import functions as F

cpus = int(sys.argv[1])
pages_path, seen_path = sys.argv[2:4]
# shuffle partitioning held CONSTANT across cluster sizes (as it would
# be on a real cluster comparison) — only the executor core count
# varies; otherwise the small run measures spill, not scaling
spark = get_spark(app="scaling", master=f"local[{cpus}]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")

from warctools_spark.operators.frontier import (
    dedup_against_seen, dedup_within_epoch, harvest_canonicalized,
    politeness_schedule,
)

def epoch():
    pages = spark.read.parquet(pages_path)
    seen = spark.read.parquet(seen_path)
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    cand = dedup_within_epoch(links)
    fresh = dedup_against_seen(cand, seen)
    return politeness_schedule(fresh, 100).count()

epoch()  # warmup: JIT + python worker pool spin-up
times = []
for _ in range(2):
    t0 = time.time()
    n = epoch()
    times.append(time.time() - t0)
t = min(times)
n_pages = spark.read.parquet(pages_path).count()
print(json.dumps({"cpus": cpus, "wall_s": round(t, 3),
                  "urls": n_pages * 8,
                  "urls_per_sec": round(n_pages * 8 / t, 1)}))
spark.stop()
"""


def run_level(cpus: int, pages_path: str, seen_path: str) -> dict:
    script = RUNNER % {"repo": str(REPO)}
    out = subprocess.run(
        [sys.executable, "-c", script, str(cpus), pages_path, seen_path],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError(f"runner at {cpus} cores produced no result")
    return json.loads(lines[-1])


def main():
    low = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    high = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    expand = int(sys.argv[3]) if len(sys.argv) > 3 else 40
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # materialize pages once (shared, deterministic), at the high level
    pages_path, seen_path = corpus_paths(sf_dir, expand)
    if not (
        os.path.exists(os.path.join(pages_path, "_SUCCESS"))
        and os.path.exists(os.path.join(seen_path, "_SUCCESS"))
    ):
        subprocess.run(
            [
                sys.executable,
                "-c",
                "import sys; sys.path[:0] = [%r, %r]; "
                "import scaling_bench; "
                "from warctools_spark.session import get_spark; "
                "s = get_spark(master='local[%d]', shuffle_partitions=%d); "
                "scaling_bench.materialize_pages(s, %r, %d, %d); s.stop()"
                % (str(REPO / "tools"), str(REPO), high, high, sf_dir, expand, high),
            ],
            check=True,
            timeout=1200,
        )

    r_low = run_level(low, pages_path, seen_path)
    r_high = run_level(high, pages_path, seen_path)
    speedup = r_high["urls_per_sec"] / r_low["urls_per_sec"]
    efficiency = speedup / (high / low)
    result = {
        "low": r_low,
        "high": r_high,
        "speedup": round(speedup, 3),
        "core_ratio": high / low,
        "scaling_efficiency": round(efficiency, 3),
        "expand": expand,
        "sf_dir": sf_dir,
    }
    print(json.dumps(result))

    out_json = REPO / "BENCH" / ("scaling_%d_%d.json" % (low, high))
    (REPO / "BENCH").mkdir(exist_ok=True)
    out_json.write_text(json.dumps(result, indent=2))
    print("wrote", out_json)
    print("NOTE: update BENCH/BASELINE.md (curated) with these numbers")


if __name__ == "__main__":
    main()
