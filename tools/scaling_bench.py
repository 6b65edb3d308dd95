"""Two-cluster-size scaling evidence (north_rule): the same frontier
epoch on the same input at local[8] vs local[32], reporting urls/sec at
both and efficiency = (tput_32 / tput_8) / 4. Target >= 0.8.

Each parallelism level runs in its own subprocess (fresh JVM) so
nothing is shared but the materialized pages parquet. Writes
BENCH/scaling_<low>_<high>.json (BENCH/BASELINE.md is curated by hand
from these).

Usage: python tools/scaling_bench.py [low_cpus high_cpus [expand]]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from warctools_spark.session import get_spark
from pyspark.sql import functions as F

cpus = int(sys.argv[1])
pages_path = sys.argv[2]
# shuffle partitioning held CONSTANT across cluster sizes (as it would
# be on a real cluster comparison) — only the executor core count
# varies; otherwise the small run measures spill, not scaling
spark = get_spark(app="scaling", master=f"local[{cpus}]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")

from warctools_spark.operators.frontier import (
    dedup_against_seen, dedup_within_epoch, harvest_canonicalized,
    politeness_schedule,
)

seen_path = pages_path.replace("pages_", "seen_")

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


def run_level(cpus: int, pages_path: str) -> dict:
    script = RUNNER % {"repo": str(REPO)}
    out = subprocess.run(
        [sys.executable, "-c", script, str(cpus), pages_path],
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

    # materialize pages once (shared, deterministic)
    env = dict(os.environ, SPARK_GRAFT_EXPAND=str(expand), SPARK_GRAFT_SF_DIR=sf_dir)
    sf = os.path.basename(sf_dir.rstrip("/"))
    pages_path = f"/tmp/warctools_spark_bench/pages_{sf}_x{expand}.parquet"
    seen_path = pages_path.replace("pages_", "seen_")
    if not (
        os.path.exists(os.path.join(pages_path, "_SUCCESS"))
        and os.path.exists(os.path.join(seen_path, "_SUCCESS"))
    ):
        subprocess.run(
            [
                sys.executable,
                "-c",
                "import sys; sys.path.insert(0, %r); "
                "import bench; "
                "from warctools_spark.session import get_spark; "
                "s = get_spark(master='local[32]', shuffle_partitions=32); "
                "bench.materialize_pages(s); s.stop()" % str(REPO),
            ],
            env=env,
            check=True,
            timeout=1200,
        )

    r_low = run_level(low, pages_path)
    r_high = run_level(high, pages_path)
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
