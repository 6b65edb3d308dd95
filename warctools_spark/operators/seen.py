"""URL-seen set at 10^10 scale: exact anti-join + Bloom (or cuckoo)
pre-filter.

Two-tier design (SURVEY.md §7 phase 3, north_rule):

  tier 1 (Bloom): per-bucket bitsets built distributively with
  applyInPandas (one numpy bitset per host-hash bucket, merged
  bucket-locally — no driver-side reduce of raw keys). The cuckoo
  table of operators/cuckoo.py (delete-capable) has the same bucket
  layout and plugs into the same probe. Probing is always
  CO-PARTITIONED (probe_bucketed): candidates are shuffled by the same
  `pmod(xxhash64(url_sha1), n_buckets)` key used at build time and
  cogrouped with the (bucket, bits) filter table, so each task touches
  exactly one bucket's bitset and the driver never materializes the
  filter. At the 10^10-key design point (~12 GB of bitsets across
  4096 buckets) each task holds ~3 MB — no driver collect, no
  per-executor whole-filter copy. A negative probe is definitive
  (the URL was never seen); a positive is only probable.

  tier 2 (exact): only filter-positive candidates reach the exact
  left_anti join against the seen table. Zero false dedups, and at a
  1% FPR the exact join sees ~1% of the frontier instead of 100%.

Determinism: bit positions derive from the url_sha1 hex itself via
double hashing (h1 + i*h2 mod m) — no process-seeded randomness, so
bitsets are byte-stable across runs/partitions for resume parity.
HASH_SCHEME_VERSION is stored alongside for checkpoint compatibility.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warctools_spark.operators.cuckoo import CuckooFilter

HASH_SCHEME_VERSION = 1


def _positions(sha1_hex: str, k: int, m: int) -> np.ndarray:
    h1 = int(sha1_hex[0:15], 16)
    h2 = int(sha1_hex[15:30], 16) | 1
    return (h1 + np.arange(k, dtype=np.int64) * h2) % m


def _hex_halves(sha1s: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (h1, h2) for a batch of 40-char sha1 hex keys —
    bit-identical to the per-key int(hex[0:15],16) / int(hex[15:30],16)|1
    parse in `_positions`, but via ONE bytes.fromhex + big-endian u64
    views instead of 2n Python int() calls (r6: ~6x faster per batch).

    nibbles 0..14 = top 60 bits of bytes 0..7;  nibbles 15..29 = low
    60 bits of bytes 7..14 (byte 7 straddles the nibble split)."""
    raw = np.frombuffer(
        bytes.fromhex("".join(sha1s)), dtype=np.uint8
    ).reshape(len(sha1s), 20)
    h1 = (
        raw[:, 0:8].copy().view(">u8")[:, 0] >> np.uint64(4)
    ).astype(np.int64)
    h2 = (
        raw[:, 7:15].copy().view(">u8")[:, 0]
        & np.uint64((1 << 60) - 1)
    ).astype(np.int64) | 1
    return h1, h2


def _probe_batch(bits: np.ndarray, m: int, k: int, sha1s) -> np.ndarray:
    """Vectorized membership test for a batch of sha1 hex keys against
    one bitset: (n, k) position matrix, one gather, all-bits reduce."""
    out = np.zeros(len(sha1s), dtype=bool)
    idx40 = []
    for i, h in enumerate(sha1s):
        if h is None:
            continue
        if len(h) == 40:
            idx40.append(i)
        else:
            # non-sha1-shaped key: keep the exact per-key legacy parse
            p = _positions(h, k, m)
            out[i] = bool(((bits[p >> 3] >> (p & 7).astype(np.uint8)) & 1).all())
    if not idx40:
        return out
    h1, h2 = _hex_halves([sha1s[i] for i in idx40])
    pos = (h1[:, None] + np.arange(k, dtype=np.int64)[None, :] * h2[:, None]) % m
    hits = ((bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)
    out[idx40] = hits
    return out


def optimal_params(n_keys: int, fpr: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) for the target false-positive rate."""
    n_keys = max(n_keys, 1)
    m = int(-n_keys * math.log(fpr) / (math.log(2) ** 2)) + 1
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def build_bloom(
    seen: DataFrame,
    n_buckets: int = 32,
    m_bits: int | None = None,
    k_hashes: int | None = None,
    fpr: float = 0.01,
) -> DataFrame:
    """seen(url_sha1) -> one row per bucket:
    (bucket int, m int, k int, version int, bits binary).

    Built with applyInPandas per bucket: each task folds its bucket's
    keys into one bitset; only n_buckets * m/8 bytes cross the wire.
    """
    if m_bits is None or k_hashes is None:
        n = max(seen.count() // max(n_buckets, 1), 1)
        m_bits, k_hashes = optimal_params(n, fpr)
    m, k = m_bits, k_hashes

    keyed = seen.select(
        F.pmod(F.xxhash64("url_sha1"), F.lit(n_buckets)).cast("int").alias("bucket"),
        "url_sha1",
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        keys = list(pdf["url_sha1"])
        fast = [h for h in keys if h is not None and len(h) == 40]
        for h in keys:
            # non-sha1-shaped stragglers keep the per-key legacy parse
            if h is not None and len(h) != 40:
                pos = _positions(h, k, m)
                np.bitwise_or.at(
                    bits, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8))
                )
        # vectorized batch insert (r6): one fromhex + (n, k) position
        # matrix per 256k-key chunk instead of a numpy allocation per
        # key; chunked so the position matrix stays ~14 MB at the
        # 10^10-key / 4096-bucket design point.
        # bitwise_or.at: plain fancy-index |= drops duplicate byte
        # indices, silently losing bits -> false negatives
        ks = np.arange(k, dtype=np.int64)[None, :]
        for lo in range(0, len(fast), 262144):
            h1, h2 = _hex_halves(fast[lo : lo + 262144])
            pos = (h1[:, None] + ks * h2[:, None]) % m
            np.bitwise_or.at(
                bits, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8))
            )
        bucket = int(pdf["bucket"].iloc[0]) if len(pdf) else -1
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "m": [m],
                "k": [k],
                "version": [HASH_SCHEME_VERSION],
                "bits": [bits.tobytes()],
            }
        )

    return keyed.groupBy("bucket").applyInPandas(
        fold, "bucket int, m int, k int, version int, bits binary"
    )


def union_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bitwise-OR merge of two Bloom tables built with the same
    (n_buckets, m, k, version): Bloom union == set union, so the seen
    filter can be maintained INCREMENTALLY — build a small Bloom over
    each epoch's fresh URLs and OR it in, instead of rebuilding over
    10^10 keys every epoch."""
    import pandas as pd

    both = a.unionByName(b)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        if (
            pdf["m"].nunique() > 1
            or pdf["k"].nunique() > 1
            or pdf["version"].nunique() > 1
        ):
            raise ValueError("bloom parameter mismatch; cannot union")
        bits = np.zeros(len(pdf["bits"].iloc[0]), dtype=np.uint8)
        for b_ in pdf["bits"]:
            bits |= np.frombuffer(b_, dtype=np.uint8)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "m": [int(pdf["m"].iloc[0])],
                "k": [int(pdf["k"].iloc[0])],
                "version": [int(pdf["version"].iloc[0])],
                "bits": [bits.tobytes()],
            }
        )

    return both.groupBy("bucket").applyInPandas(
        merge, "bucket int, m int, k int, version int, bits binary"
    )


def _auto_salts(candidates: DataFrame, n_buckets: int) -> int:
    """Probe parallelism should track the cluster, not the filter
    layout: with no salting the cogroup runs at most `n_buckets` tasks
    (one per bucket), so a 32-bucket filter would cap a 4000-core
    cluster at 32 probe tasks. Default: enough salts that
    buckets × salts ≥ defaultParallelism, CAPPED at 16 — each salt
    replicates every bucket's filter bytes through the shuffle, so
    unbounded salts would multiply filter traffic by cores/buckets on
    a big cluster. Past the cap the right fix is more buckets (SCALE.md
    prescribes 4096 at the 10^10-key design point), not more copies;
    pass probe_salts explicitly to override."""
    try:
        par = candidates.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = n_buckets
    return min(16, max(1, -(-par // max(n_buckets, 1))))  # ceil div


def probe_bucketed(
    candidates: DataFrame,
    seen_filter: DataFrame,
    n_buckets: int,
    probe_salts: int | None = None,
) -> DataFrame:
    """candidates + boolean `maybe_seen`, with the filter STAYING
    DISTRIBUTED: candidates are shuffled by the build-time bucket key
    and cogrouped with the per-bucket filter table, so each task reads
    one bucket's filter via Arrow and probes its own candidates in a
    single vectorized pass. No driver collect, no SparkContext.broadcast
    of filter bytes — this holds at the 10^10-key design point
    (SCALE.md, Bloom sizing).

    `seen_filter` is either a Bloom table (build_bloom: m, k columns)
    or a cuckoo table (operators/cuckoo.build_cuckoo: nb, overflowed
    columns); its columns pick the membership test. A cuckoo bucket
    marked overflowed is lossy, so all its candidates answer True and
    the exact tier verifies them.

    Probe parallelism is decoupled from `n_buckets` by salting the
    cogroup key: candidates spread over (bucket, salt) via an
    independent hash, and the bucket's filter row is replicated once
    per salt (F.explode of a literal range), so one bucket's
    candidates can run as `probe_salts` tasks with identical results.
    probe_salts=None auto-sizes to the session's defaultParallelism.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    if "overflowed" in seen_filter.columns:

        def member(row, keys: list) -> np.ndarray:
            if int(row["overflowed"]):
                return np.ones(len(keys), dtype=bool)
            flt = CuckooFilter.from_bytes(bytes(row["bits"]), int(row["nb"]))
            return flt.contains_batch(keys)

    else:

        def member(row, keys: list) -> np.ndarray:
            bits = np.frombuffer(row["bits"], dtype=np.uint8)
            return _probe_batch(bits, int(row["m"]), int(row["k"]), keys)

    if probe_salts is None:
        probe_salts = _auto_salts(candidates, n_buckets)
    cand_cols = list(candidates.columns)
    keyed = candidates.withColumn(
        "__bucket",
        F.pmod(F.xxhash64("url_sha1"), F.lit(n_buckets)).cast("int"),
    ).withColumn(
        # independent hash (extra lit column) so the salt is not a
        # function of the bucket id
        "__salt",
        F.pmod(F.xxhash64("url_sha1", F.lit(0x5A17)), F.lit(probe_salts)).cast(
            "int"
        ),
    )
    flt_salted = seen_filter.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(probe_salts)]))
    )
    out_schema = StructType(
        list(candidates.schema.fields)
        + [StructField("maybe_seen", BooleanType(), False)]
    )

    def probe_group(cands: pd.DataFrame, flt: pd.DataFrame) -> pd.DataFrame:
        out = cands[cand_cols].copy()
        if not len(cands):
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        if not len(flt):
            # no filter row for this bucket: nothing was ever inserted
            # here, so every candidate is definitively unseen
            out["maybe_seen"] = False
            return out
        out["maybe_seen"] = member(flt.iloc[0], cands["url_sha1"].tolist())
        return out

    return (
        keyed.groupBy("__bucket", "__salt")
        .cogroup(flt_salted.groupBy("bucket", "__salt"))
        .applyInPandas(probe_group, out_schema)
    )


def two_tier_dedup(
    candidates: DataFrame,
    seen: DataFrame,
    n_buckets: int = 32,
    seen_filter: DataFrame | None = None,
) -> DataFrame:
    """Exact frontier \\ seen with a filter fast path.

    definitely-new (filter negative) ∪ (filter positive ∖ seen-exact):
    exactness is preserved because filter negatives cannot be in `seen`.

    `seen_filter` is a Bloom or cuckoo table (see probe_bucketed);
    None builds a Bloom table over `seen` at a 1% target FPR. Pass a
    prebuilt table (e.g. incrementally maintained via union_blooms or
    cuckoo.insert_into_cuckoo across epochs) to skip the O(|seen|)
    rebuild. It MUST cover at least the keys of `seen` — extra keys
    only cost false positives (exactness holds: tier 2 verifies every
    positive), but a missing key would leak a duplicate.
    """
    if seen_filter is None:
        seen_filter = build_bloom(seen, n_buckets=n_buckets)
    probed = probe_bucketed(candidates, seen_filter, n_buckets)
    definitely_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    # anti-join ignores right-side duplicates: no .distinct() needed
    survivors = suspects.join(
        seen.select("url_sha1"), on="url_sha1", how="left_anti"
    )
    return definitely_new.unionByName(survivors)
