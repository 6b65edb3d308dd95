"""JVM-side column expression helpers — everything here stays inside
whole-stage codegen (no Python in the hot path)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash60(col: Column, seed: str) -> Column:
    """First 60 bits of md5(seed:value) as a non-negative long — THE
    repo-standard engine-portable seeded hash, shared by the sampling,
    DSIR, and sketch families (DuckDB oracle replica:
    CAST(('0x' || substr(md5(seed || ':' || v), 1, 15)) AS BIGINT)).
    Any change here must change the oracle replicas in lockstep.
    (dedup.shingle_hashes is the related UNSEEDED variant with its own
    modulus — deliberately not this function.)"""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
