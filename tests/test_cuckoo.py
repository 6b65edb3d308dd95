"""Cuckoo-filter seen set: exactness, delete support, determinism."""

import hashlib

import pytest
from pyspark.sql import functions as F

from warctools_spark.operators.cuckoo import (
    CuckooFilter,
    build_cuckoo,
    delete_from_cuckoo,
)
from warctools_spark.operators.seen import probe_bucketed, two_tier_dedup


def sha(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


KEYS = [sha(f"http://h{i % 7}.example/p{i}") for i in range(2000)]


class TestKernel:
    def test_insert_contains(self):
        flt = CuckooFilter.sized_for(2000, load=0.7)
        for k in KEYS:
            assert flt.insert(k)
        assert all(flt.contains(k) for k in KEYS)

    def test_no_false_negatives_low_fpr(self):
        flt = CuckooFilter.sized_for(2000, load=0.7)
        for k in KEYS:
            flt.insert(k)
        absent = [sha(f"http://other/{i}") for i in range(5000)]
        fpr = sum(flt.contains(k) for k in absent) / len(absent)
        assert fpr < 0.02  # 16-bit fingerprints, 4 slots

    def test_delete(self):
        flt = CuckooFilter.sized_for(100, load=0.5)
        keys = KEYS[:100]
        for k in keys:
            flt.insert(k)
        for k in keys[:50]:
            assert flt.delete(k)
        # deleted keys gone (cuckoo deletes are exact for inserted keys)
        gone = sum(not flt.contains(k) for k in keys[:50])
        assert gone >= 48  # rare fp collisions may keep a couple alive
        assert all(flt.contains(k) for k in keys[50:])
        # re-insert works
        for k in keys[:50]:
            assert flt.insert(k)
        assert all(flt.contains(k) for k in keys)

    def test_serialization_roundtrip_and_determinism(self):
        a = CuckooFilter.sized_for(500, load=0.6)
        b = CuckooFilter.sized_for(500, load=0.6)
        for k in sorted(KEYS[:500]):
            a.insert(k)
            b.insert(k)
        assert a.to_bytes() == b.to_bytes()
        c = CuckooFilter.from_bytes(a.to_bytes(), a.nb)
        assert all(c.contains(k) for k in KEYS[:500])


class TestSpark:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        cand = spark.createDataFrame(
            [(sha(f"http://c/{i}"), f"http://c/{i}") for i in range(1500)],
            "url_sha1 string, canon_url string",
        ).cache()
        seen = spark.createDataFrame(
            [(sha(f"http://c/{i}"),) for i in range(0, 1500, 3)],
            "url_sha1 string",
        ).cache()
        return cand, seen

    def test_two_tier_equals_exact(self, spark, frames):
        cand, seen = frames
        exact = sorted(
            r["url_sha1"]
            for r in cand.join(seen, "url_sha1", "left_anti").collect()
        )
        two = sorted(
            r["url_sha1"]
            for r in two_tier_dedup(
                cand, seen, n_buckets=8, seen_filter=build_cuckoo(seen, n_buckets=8)
            )
            .select("url_sha1")
            .collect()
        )
        assert two == exact

    def test_distributed_delete(self, spark, frames):
        cand, seen = frames
        cuckoo = build_cuckoo(seen, n_buckets=8)
        dels = seen.limit(100)
        updated = delete_from_cuckoo(cuckoo, dels, n_buckets=8)
        probed = probe_bucketed(cand, updated, 8)
        # the deleted keys now probe negative (rare fp collisions aside)
        del_keys = {r["url_sha1"] for r in dels.collect()}
        still = (
            probed.where(
                F.col("url_sha1").isin(list(del_keys)) & F.col("maybe_seen")
            ).count()
        )
        assert still <= 2
        # non-deleted seen keys still probe positive
        kept = probed.where(
            F.col("url_sha1").isin(
                [r["url_sha1"] for r in seen.collect() if r["url_sha1"] not in del_keys][:50]
            )
        )
        assert kept.where(~F.col("maybe_seen")).count() == 0

    def test_build_determinism(self, spark, frames):
        _, seen = frames
        b1 = {r["bucket"]: bytes(r["bits"]) for r in build_cuckoo(seen, 8).collect()}
        b2 = {r["bucket"]: bytes(r["bits"]) for r in build_cuckoo(seen, 8).collect()}
        assert b1 == b2

    def test_bucketed_probe_after_delete(self, spark, frames):
        """The co-partitioned probe agrees with a driver-side probe of
        the collected post-delete filter rows — the delete+probe cycle
        works without ever collecting the filter to the driver."""
        cand, seen = frames
        cuckoo = build_cuckoo(seen, n_buckets=8)
        updated = delete_from_cuckoo(
            cuckoo, seen.limit(100), n_buckets=8
        ).cache()
        filters = {
            r["bucket"]: (
                CuckooFilter.from_bytes(bytes(r["bits"]), r["nb"]),
                r["overflowed"],
            )
            for r in updated.collect()
        }
        a = set()
        for r in cand.select(
            "url_sha1", F.pmod(F.xxhash64("url_sha1"), F.lit(8)).alias("b")
        ).collect():
            flt, overflowed = filters.get(r["b"], (None, 0))
            hit = flt is not None and (
                bool(overflowed) or flt.contains(r["url_sha1"])
            )
            a.add((r["url_sha1"], hit))
        b = {
            (r["url_sha1"], r["maybe_seen"])
            for r in probe_bucketed(cand, updated, 8).collect()
        }
        assert a == b

    def test_incremental_insert(self, spark, frames):
        """insert_into_cuckoo(filter(A), B) answers membership like a
        filter over A ∪ B — the no-rebuild maintenance path."""
        from warctools_spark.operators.cuckoo import insert_into_cuckoo

        cand, seen = frames
        half = seen.limit(150)
        rest = seen.subtract(half)
        base = build_cuckoo(half, n_buckets=8)
        grown = insert_into_cuckoo(base, rest, n_buckets=8)
        probed = probe_bucketed(seen, grown, 8)
        # every seen key (old and newly inserted) probes positive
        assert probed.where(~F.col("maybe_seen")).count() == 0
