"""Spark-layer integration: pages synthesis, byte-parity text
extraction (the BASELINE.json invariant), link harvest, frontier dedup
and politeness scheduling."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, reference_available
from warctools_spark.functions.udfs import udf_decode_http, udf_extract_text
from warctools_spark.operators import frontier as FR
from warctools_spark.operators import seen as SEEN
from warctools_spark.sources.pages import HOT_HOST, synthesize_pages


@pytest.fixture(scope="module")
def pages(spark):
    df = synthesize_pages(spark, SF_DIR).cache()
    df.count()
    return df


def test_pages_schema_and_rows(pages, spark):
    assert [f.name for f in pages.schema.fields] == [
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
    ]
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert pages.count() == n_docs
    # one deliberately hot host
    hot = pages.where(F.col("url").contains(HOT_HOST)).count()
    assert 0.25 < hot / n_docs < 0.35


def test_extract_text_byte_parity(pages):
    """The BASELINE invariant: engine-extracted text == oracle text
    column, for every payload variant (plain/gzip/chunked/chunked+gzip)."""
    mismatches = (
        pages.withColumn("extracted", udf_extract_text(F.col("html")))
        .where(
            F.col("extracted").isNull() | (F.col("extracted") != F.col("text"))
        )
        .count()
    )
    assert mismatches == 0


@pytest.mark.skipif(not reference_available(), reason="reference not importable")
def test_extract_text_parity_vs_reference(pages):
    """Differential: our decode == the reference warctools decode,
    byte for byte, on a sample covering all four wire variants."""
    import zlib

    from hanzo.httptools.messaging import RequestMessage, ResponseMessage

    rows = pages.limit(40).collect()
    assert len(rows) == 40
    for r in rows:
        m = ResponseMessage(RequestMessage())
        m.feed(bytes(r["html"]))
        m.close()
        assert m.complete()
        body = m.get_body()
        # same inflate attempt as write_decoded_message (messaging.py:238-247)
        try:
            body = zlib.decompress(body)
        except zlib.error:
            try:
                body = zlib.decompress(body, 16 + zlib.MAX_WBITS)
            except zlib.error:
                pass
        assert body.decode("utf-8") == r["text"], r["url"]


def test_decode_http_struct(pages):
    decoded = pages.select(udf_decode_http(F.col("html")).alias("h"))
    agg = decoded.agg(
        F.sum(F.when(F.col("h.code") == 200, 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("h.complete"), 1).otherwise(0)).alias("complete"),
        F.count_distinct(F.col("h.mime")).alias("mimes"),
    ).collect()[0]
    assert agg["ok"] == agg["complete"] == pages.count()
    assert agg["mimes"] == 1  # text/html


def test_harvest_links(pages):
    links = FR.harvest_canonicalized(pages)
    n = links.count()
    assert n == pages.count() * 8  # N_LINKS outlinks per page
    # links resolve to in-universe urls
    bad = links.where(~F.col("link").rlike(r"^http://[a-z0-9.]+/doc/\d+\.html$")).count()
    assert bad == 0


def test_frontier_dedup_and_schedule(pages, spark):
    links = FR.harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    uniq = FR.dedup_within_epoch(links)
    assert uniq.count() == uniq.select("url_sha1").distinct().count()

    # seed a seen set with half the universe
    seen = uniq.where(F.col("url_sha1").substr(1, 1) < "8").select("url_sha1")
    fresh = FR.dedup_against_seen(uniq, seen)
    assert fresh.count() == uniq.count() - seen.count()
    # no seen key survives
    assert fresh.join(seen, "url_sha1", "inner").count() == 0

    # politeness: the window == a pure-Python per-host top-k by
    # (depth, canon_url) over the collected candidates (the hot host
    # included)
    k = 5
    plain = FR.politeness_schedule(uniq, k)
    by_host = {}
    for r in uniq.select("host", "depth", "canon_url", "url_sha1").collect():
        by_host.setdefault(r["host"], []).append(
            (r["depth"], r["canon_url"], r["url_sha1"])
        )
    want = sorted(
        sha for items in by_host.values() for _, _, sha in sorted(items)[:k]
    )
    a = sorted(r["url_sha1"] for r in plain.select("url_sha1").collect())
    assert a == want
    per_host = plain.groupBy("host").count().agg(F.max("count")).collect()[0][0]
    assert per_host <= k


def test_bloom_two_tier_exactness(pages, spark):
    links = FR.harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    uniq = FR.dedup_within_epoch(links).cache()
    seen = uniq.where(F.col("url_sha1").substr(1, 1) >= "c").select("url_sha1").cache()

    from warctools_spark.operators.cuckoo import build_cuckoo

    exact = FR.dedup_against_seen(uniq, seen)
    a = sorted(r["url_sha1"] for r in exact.select("url_sha1").collect())
    filters = {
        "bloom": SEEN.build_bloom(seen, n_buckets=8, fpr=0.05),
        "cuckoo": build_cuckoo(seen, n_buckets=8),
    }
    for name, flt in filters.items():
        two_tier = SEEN.two_tier_dedup(uniq, seen, n_buckets=8, seen_filter=flt)
        b = sorted(r["url_sha1"] for r in two_tier.select("url_sha1").collect())
        assert a == b, name  # zero false dedups, zero leaks


def test_bucketed_probe_no_driver_broadcast(pages, spark, monkeypatch):
    """The default (bucketed) probe must never collect the filter to
    the driver nor SparkContext.broadcast bitsets — that is the whole
    point of the co-partitioned path at 10^10 keys."""
    links = FR.harvest_canonicalized(pages.limit(100))
    uniq = FR.dedup_within_epoch(links.withColumn("depth", F.lit(1))).cache()
    seen = uniq.where(F.col("url_sha1").substr(1, 1) < "8").select("url_sha1")

    def boom(*a, **kw):  # any driver-side broadcast call fails the test
        raise AssertionError("bucketed probe must not broadcast from the driver")

    monkeypatch.setattr(spark.sparkContext, "broadcast", boom)
    exact = sorted(
        r["url_sha1"]
        for r in FR.dedup_against_seen(uniq, seen).select("url_sha1").collect()
    )
    got = sorted(
        r["url_sha1"]
        for r in SEEN.two_tier_dedup(uniq, seen, n_buckets=8)
        .select("url_sha1")
        .collect()
    )
    assert got == exact

    from warctools_spark.operators import cuckoo as CK

    got_ck = sorted(
        r["url_sha1"]
        for r in SEEN.two_tier_dedup(
            uniq, seen, n_buckets=8, seen_filter=CK.build_cuckoo(seen, n_buckets=8)
        )
        .select("url_sha1")
        .collect()
    )
    assert got_ck == exact


def test_bloom_incremental_union(pages, spark):
    """Bloom(A) | Bloom(B) must behave exactly like Bloom(A ∪ B) —
    the incremental maintenance path for an append-only seen set."""
    links = FR.harvest_canonicalized(pages).select("url_sha1").distinct().cache()
    a = links.where(F.col("url_sha1").substr(1, 1) < "8")
    b = links.where(F.col("url_sha1").substr(1, 1) >= "8")
    m, k = 1 << 16, 5
    ba = SEEN.build_bloom(a, n_buckets=4, m_bits=m, k_hashes=k)
    bb = SEEN.build_bloom(b, n_buckets=4, m_bits=m, k_hashes=k)
    merged = SEEN.union_blooms(ba, bb)
    full = SEEN.build_bloom(links, n_buckets=4, m_bits=m, k_hashes=k)
    got = {r["bucket"]: bytes(r["bits"]) for r in merged.collect()}
    want = {r["bucket"]: bytes(r["bits"]) for r in full.collect()}
    assert got == want


def test_bloom_determinism(pages, spark):
    links = FR.harvest_canonicalized(pages.limit(50))
    keys = links.select("url_sha1").distinct()
    b1 = {r["bucket"]: r["bits"] for r in SEEN.build_bloom(keys, n_buckets=4, m_bits=1 << 16, k_hashes=5).collect()}
    b2 = {r["bucket"]: r["bits"] for r in SEEN.build_bloom(keys, n_buckets=4, m_bits=1 << 16, k_hashes=5).collect()}
    assert b1 == b2  # byte-stable across runs (resume parity)


def test_bucketed_probe_sparse_buckets(spark):
    """Buckets with no filter row (keys clustered elsewhere) answer
    definitively-unseen; agreement with a driver-side probe of the
    collected filter rows across a bucket count far larger than the
    key count."""
    import numpy as np

    keys = spark.createDataFrame(
        [(format(i, "040x"),) for i in range(5)], "url_sha1 string"
    )
    cand = spark.createDataFrame(
        [(format(i * 37, "040x"),) for i in range(60)], "url_sha1 string"
    )
    bloom = SEEN.build_bloom(keys, n_buckets=64, m_bits=1 << 10, k_hashes=3)
    a = {
        (r["url_sha1"], r["maybe_seen"])
        for r in SEEN.probe_bucketed(cand, bloom, 64).collect()
    }
    filters = {
        r["bucket"]: (np.frombuffer(r["bits"], dtype=np.uint8), r["m"], r["k"])
        for r in bloom.collect()
    }
    b = set()
    for r in cand.select(
        "url_sha1", F.pmod(F.xxhash64("url_sha1"), F.lit(64)).alias("b")
    ).collect():
        entry = filters.get(r["b"])
        hit = bool(SEEN._probe_batch(*entry, [r["url_sha1"]])[0]) if entry else False
        b.add((r["url_sha1"], hit))
    assert a == b
    # the 5 true members must probe positive
    members = {format(i, "040x") for i in range(5)}
    assert all(seen for (h, seen) in a if h in members)
