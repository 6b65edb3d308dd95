"""Cuckoo-filter URL-seen set — the delete-supporting fallback behind
the same two-tier interface as the Bloom filter (north_rule: "bloom/
cuckoo URL-seen"; SURVEY §7 phase 3): pass a build_cuckoo table as
`seen_filter` to operators.seen.two_tier_dedup / probe_bucketed.

Why cuckoo: a crawl occasionally needs to *retract* seen-ness
(recrawl-after-expiry, corrected canonicalization). Bloom cannot
delete; a cuckoo filter supports delete with ~the same space at low
FPR and a definitive negative, so the two-tier exactness argument
carries over unchanged: negatives skip the exact join, positives are
verified against the exact table.

Determinism (resume parity): no RNG anywhere. Index/fingerprint
derive from the url_sha1 hex; eviction victims rotate by an insertion
counter, so filter bytes are identical across runs and partitions.

Layout: nb buckets x 4 slots of uint16 fingerprints (0 = empty),
serialized as the raw little-endian array.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLOTS = 4
MAX_KICKS = 500
VERSION = 1


def _fp_index(sha1_hex: str, nb: int) -> tuple[int, int]:
    """(fingerprint, primary index) from the sha1 hex. nb MUST be a
    power of two so the xor alt-index is an involution."""
    fp = (int(sha1_hex[30:34], 16) % 0xFFFF) + 1  # 1..65535, 0 = empty
    i1 = int(sha1_hex[0:15], 16) & (nb - 1)
    return fp, i1


def _alt_index(i: int, fp: int, nb: int) -> int:
    """Partial-key cuckoo: i2 = i1 xor H(fp) — an involution only when
    nb is a power of two (alt(alt(i)) == i), which the eviction walk
    relies on."""
    return (i ^ (fp * 0x5BD1E995)) & (nb - 1)


def _fp_i1_batch(sha1s: list[str], nb: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (fp, i1) parse for a batch of 40-char sha1 hex keys —
    bit-identical to the per-key `_fp_index` (r6, the seen._hex_halves
    lesson: ONE bytes.fromhex + array views instead of 2n Python int()
    calls). Callers must pre-check every key is a 40-char string; a
    non-hex character still raises ValueError from fromhex.

    fp  = nibbles 30..33  = bytes 15,16 (big-endian u16)
    i1  = nibbles 0..14   = top 60 bits of bytes 0..7"""
    raw = np.frombuffer(
        bytes.fromhex("".join(sha1s)), dtype=np.uint8
    ).reshape(len(sha1s), 20)
    fp = (
        ((raw[:, 15].astype(np.int64) << 8) | raw[:, 16]) % 0xFFFF
    ) + 1
    i1 = (
        raw[:, 0:8].copy().view(">u8")[:, 0] >> np.uint64(4)
    ).astype(np.int64) & (nb - 1)
    return fp, i1


class CuckooFilter:
    """Single-partition filter; built per host-hash bucket inside
    applyInPandas, probed per bucket by operators.seen.probe_bucketed."""

    def __init__(self, nb: int, table: np.ndarray | None = None):
        self.nb = nb
        self.table = (
            table
            if table is not None
            else np.zeros((nb, SLOTS), dtype=np.uint16)
        )

    @classmethod
    def sized_for(cls, n_keys: int, load: float = 0.84) -> "CuckooFilter":
        need = max(8, int(n_keys / (SLOTS * load)) + 1)
        nb = 1
        while nb < need:
            nb <<= 1
        return cls(nb)

    def insert(self, sha1_hex: str) -> bool:
        fp, i1 = _fp_index(sha1_hex, self.nb)
        return self._insert_fp(fp, i1)

    def _insert_fp(self, fp: int, i1: int) -> bool:
        """The insert walk over an already-parsed (fp, i1) pair — split
        out of insert() so batch builders can parse keys vectorized
        (r6); the walk itself is intrinsically sequential (each kick
        depends on the table state the previous one left)."""
        table = self.table
        i2 = _alt_index(i1, fp, self.nb)
        for i in (i1, i2):
            row = table[i]
            # first empty slot (plain loop: SLOTS=4, cheaper than the
            # two arrays np.where allocates per probe)
            for s in range(SLOTS):
                if not row[s]:
                    row[s] = fp
                    return True
        # evict: deterministic victim rotation keyed by fp + kick count
        i = i1 if fp % 2 else i2
        cur = np.uint16(fp)
        for kick in range(MAX_KICKS):
            slot = (fp + kick) % SLOTS
            cur, table[i][slot] = table[i][slot], cur
            i = _alt_index(i, int(cur), self.nb)
            row = table[i]
            for s in range(SLOTS):
                if not row[s]:
                    row[s] = cur
                    return True
        return False  # table over-full; caller should resize

    def insert_batch(self, sha1s) -> int:
        """Insert keys IN THE GIVEN ORDER (callers pass sorted keys for
        deterministic kick chains); returns the number of failed
        (overflowed) inserts. One vectorized (fp, i1) parse for the
        whole batch; any key that is not a plain 40-char hex string
        routes the entire batch through the exact per-key insert() so
        table bytes stay identical in every case."""
        sha1s = list(sha1s)
        if not sha1s:
            return 0
        if all(isinstance(h, str) and len(h) == 40 for h in sha1s):
            try:
                fps, i1s = _fp_i1_batch(sha1s, self.nb)
            except ValueError:  # non-hex character
                pass
            else:
                ins = self._insert_fp
                failed = 0
                # .tolist(): one C pass to plain ints — per-element
                # np-scalar __int__ calls would cost more than the
                # vectorized parse saves
                for fp, i1 in zip(fps.tolist(), i1s.tolist()):
                    if not ins(fp, i1):
                        failed += 1
                return failed
        return sum(0 if self.insert(h) else 1 for h in sha1s)

    def contains(self, sha1_hex: str) -> bool:
        fp, i1 = _fp_index(sha1_hex, self.nb)
        i2 = _alt_index(i1, fp, self.nb)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def delete(self, sha1_hex: str) -> bool:
        fp, i1 = _fp_index(sha1_hex, self.nb)
        for i in (i1, _alt_index(i1, fp, self.nb)):
            row = self.table[i]
            hits = np.where(row == fp)[0]
            if len(hits):
                row[hits[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.astype("<u2").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, nb: int) -> "CuckooFilter":
        table = np.frombuffer(data, dtype="<u2").reshape(nb, SLOTS).copy()
        return cls(nb, table)

    def contains_batch(self, sha1s) -> np.ndarray:
        """Vectorized membership for a batch of sha1 hex keys: parse
        (fp, i1, i2) per row, then two gathered slot comparisons."""
        idx = [i for i, h in enumerate(sha1s) if h is not None]
        out = np.zeros(len(sha1s), dtype=bool)
        if not idx:
            return out
        fp = np.array(
            [(int(sha1s[i][30:34], 16) % 0xFFFF) + 1 for i in idx],
            dtype=np.int64,
        )
        i1 = np.array(
            [int(sha1s[i][0:15], 16) for i in idx], dtype=np.int64
        ) & (self.nb - 1)
        i2 = (i1 ^ (fp * 0x5BD1E995)) & (self.nb - 1)
        fpc = fp[:, None].astype(np.uint16)
        out[idx] = (self.table[i1] == fpc).any(axis=1) | (
            self.table[i2] == fpc
        ).any(axis=1)
        return out


def build_cuckoo(
    seen: DataFrame, n_buckets: int = 32, load: float = 0.7
) -> DataFrame:
    """seen(url_sha1) -> one row per host-hash bucket:
    (bucket, nb, version, overflowed, bits)."""
    keyed = seen.select(
        F.pmod(F.xxhash64("url_sha1"), F.lit(n_buckets)).cast("int").alias("bucket"),
        "url_sha1",
    )
    total = seen.count()
    per_bucket = max(total // max(n_buckets, 1), 1)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        flt = CuckooFilter.sized_for(max(len(pdf), per_bucket), load)
        # sorted: deterministic kicks; batch: one vectorized key parse
        overflowed = flt.insert_batch(sorted(pdf["url_sha1"]))
        bucket = int(pdf["bucket"].iloc[0]) if len(pdf) else -1
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "nb": [flt.nb],
                "version": [VERSION],
                "overflowed": [overflowed],
                "bits": [flt.to_bytes()],
            }
        )

    return keyed.groupBy("bucket").applyInPandas(
        fold, "bucket int, nb int, version int, overflowed int, bits binary"
    )


def delete_from_cuckoo(cuckoo: DataFrame, deletions: DataFrame, n_buckets: int) -> DataFrame:
    """Retract keys: cogroup filters with their bucket's deletions and
    remove fingerprints — the operation Bloom cannot do."""
    keyed = deletions.select(
        F.pmod(F.xxhash64("url_sha1"), F.lit(n_buckets)).cast("int").alias("bucket"),
        "url_sha1",
    )

    def apply_deletes(filters: pd.DataFrame, dels: pd.DataFrame) -> pd.DataFrame:
        if not len(filters):
            return filters
        row = filters.iloc[0]
        flt = CuckooFilter.from_bytes(row["bits"], int(row["nb"]))
        for h in sorted(dels["url_sha1"]):
            flt.delete(h)
        out = filters.copy()
        out.loc[out.index[0], "bits"] = flt.to_bytes()
        return out

    return (
        cuckoo.groupBy("bucket")
        .cogroup(keyed.groupBy("bucket"))
        .applyInPandas(
            apply_deletes,
            "bucket int, nb int, version int, overflowed int, bits binary",
        )
    )


def insert_into_cuckoo(
    cuckoo: DataFrame, additions: DataFrame, n_buckets: int
) -> DataFrame:
    """Incremental maintenance, the cuckoo twin of Bloom union:
    cogroup each bucket's filter with that bucket's new keys and
    insert — per-epoch cost O(|additions|), no rebuild over the full
    seen set. Inserts are deterministic (sorted keys, fixed eviction
    rotation); a bucket that overflows marks itself `overflowed`, and
    every probe of an overflowed bucket answers maybe_seen=True, so
    exactness of the two-tier dedup is preserved under overflow."""
    keyed = additions.select(
        F.pmod(F.xxhash64("url_sha1"), F.lit(n_buckets)).cast("int").alias("bucket"),
        "url_sha1",
    )

    def apply_inserts(filters: pd.DataFrame, adds: pd.DataFrame) -> pd.DataFrame:
        if not len(filters):
            if not len(adds):
                return filters
            # keys hashed to a bucket with no filter row (build_cuckoo
            # emits rows only for buckets that held keys): synthesize a
            # fresh sized filter so the additions are NOT silently
            # dropped — a later probe of a dropped key would answer a
            # definitive negative and leak a duplicate past tier 2
            flt = CuckooFilter.sized_for(len(adds))
            overflowed = flt.insert_batch(sorted(adds["url_sha1"]))
            return pd.DataFrame(
                {
                    "bucket": [int(adds["bucket"].iloc[0])],
                    "nb": [flt.nb],
                    "version": [VERSION],
                    "overflowed": [overflowed],
                    "bits": [flt.to_bytes()],
                }
            )
        row = filters.iloc[0]
        flt = CuckooFilter.from_bytes(bytes(row["bits"]), int(row["nb"]))
        overflowed = int(row["overflowed"]) + flt.insert_batch(
            sorted(adds["url_sha1"])
        )
        out = filters.copy()
        out.loc[out.index[0], "bits"] = flt.to_bytes()
        out.loc[out.index[0], "overflowed"] = overflowed
        return out

    return (
        cuckoo.groupBy("bucket")
        .cogroup(keyed.groupBy("bucket"))
        .applyInPandas(
            apply_inserts,
            "bucket int, nb int, version int, overflowed int, bits binary",
        )
    )
