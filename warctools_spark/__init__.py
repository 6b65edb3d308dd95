"""warctools_spark — a PySpark-native crawl analytics engine.

A from-scratch reimplementation of the capabilities of
internetarchive/warctools (WARC/ARC record model, HTTP/1.x payload
decoding, link harvesting, filtering/indexing/rewriting pipelines)
re-expressed as an idiomatic Spark DataFrame engine, extended with the
crawl-frontier operators a 10^10-URL web crawl needs: canonicalized
URL-seen set (exact + Bloom two-tier), per-host politeness scheduling,
breadth-first priority queues, skew-aware windows, and snapshot
checkpointed epochs with per-partition lineage.

Layout:
  kernels/    pure-Python byte-level kernels (no Spark) cloned
              semantically from the reference; the correctness bedrock
  functions/  vectorized pandas/Arrow UDFs wrapping the kernels +
              built-in column expression helpers
  sources/    raw .warc/.arc(.gz) ingest -> DataFrame, pages synthesis
  operators/  DataFrame-level operators (filter/index/dedup/politeness/
              similarity/text-analysis)
  plans/      frontier epoch pipeline, snapshot catalog, lineage
"""

__version__ = "0.1.0"

from warctools_spark import _pyworker

# Every Python worker that unpickles an engine function imports this
# package, so from then on its per-task import reset stops re-reading
# unchanged zip archives (see _pyworker).
_pyworker.install()
