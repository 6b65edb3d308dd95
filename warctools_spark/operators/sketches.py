"""Streaming sketches: count-min and HyperLogLog.

A 10^10-URL frontier needs corpus-level statistics (hot tokens, hot
hosts, distinct-URL cardinality) that are too big to compute exactly
per monitoring tick. Sketches answer them in CONSTANT memory: a
count-min sketch is a depth x width counter grid, a HyperLogLog is m
one-byte registers — both built with one map-side-combinable agg,
whose partial states combine across partitions by elementwise
sum/max.

Unlike Spark's built-in approx_count_distinct (HLL++ with opaque
per-JVM hashing), these are built from the repo's engine-portable
md5 hash idiom: every counter and register value is a deterministic
pure function of the input set, reproducible bit-for-bit in any
engine (the DuckDB oracles replay them exactly).

Public algorithms: count-min (Cormode & Muthukrishnan 2005),
HyperLogLog (Flajolet et al. 2007). No reference counterpart —
warctools has no sketching; cited for the formulas only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warctools_spark.functions.exprs import portable_hash60 as _hash60


def _token_freq(docs: DataFrame) -> DataFrame:
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    return toks.groupBy("token").agg(
        F.count("*").cast("long").alias("n_exact")
    )


def _cms_hashed(freq: DataFrame) -> DataFrame:
    """freq + (j, bucket): the token's counter in each row j of the
    4 x 1024 count-min grid."""
    buckets = F.array(
        *[
            (_hash60(F.concat(F.lit(f"{j}:"), F.col("token")), "cms-v1") % F.lit(1024))
            for j in range(4)
        ]
    )
    return freq.select(
        "token", "n_exact", F.posexplode(buckets).alias("j", "bucket")
    )


def cms_top_tokens(docs: DataFrame) -> DataFrame:
    """Count-min-sketch heavy hitters: estimate every token's corpus
    count from a depth x width (4 x 1024) counter grid — est(t) = min over rows
    j of counter[j][h_j(t)] — and return the top 20 by estimate, with
    the exact count alongside as the overestimate audit (CMS error is
    one-sided: n_cms >= n_exact always, overshoot <= corpus_tokens *
    e/width with prob 1 - e^-depth).

    Output: (token, n_exact, n_cms), ordered by (n_cms desc, token).

    Scale: the token stream is pre-aggregated to the vocabulary table
    FIRST (one map-side-combined hash agg — identical counters to
    hashing the raw stream, at vocab not corpus fan-out), then the
    x depth explode and the (j, bucket) agg touch only vocab-sized
    input. The counter grid is depth*width rows REGARDLESS of corpus
    size — it broadcasts, and a per-epoch grid merges into a lifetime
    grid by elementwise sum."""
    hashed = _cms_hashed(_token_freq(docs))
    counters = hashed.groupBy("j", "bucket").agg(
        F.sum("n_exact").cast("long").alias("cnt")
    )
    est = (
        hashed.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("token")
        .agg(
            F.first("n_exact").alias("n_exact"),
            F.min("cnt").cast("long").alias("n_cms"),
        )
    )
    return est.orderBy(F.col("n_cms").desc(), F.col("token").asc()).limit(20)


# HyperLogLog registers: a power of two; the low _HLL_P hash bits index one
_HLL_M = 256
_HLL_P = 8


def hll_distinct(df: DataFrame, value_col: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-count estimate, with the
    exact count alongside as the error audit. Standard HLL over a
    60-bit hash with m = 256 registers: the low 8 bits pick the
    register, the remaining 52 bits' leading-zero rank rho updates it
    (M_j = max rho), and the estimate is alpha_m * m^2 / sum_j 2^-M_j
    with the small-range linear-counting correction (E <= 2.5m and
    empty registers present -> m * ln(m / V)).

    Output: one row (n_exact, n_hll, rel_err).

    Scale: ONE map-side-combinable agg — groupBy(register).min(rest)
    — is the whole corpus-sized stage (max-rho over a register equals
    53 - bitlen(min rest), bitlen being monotone, so min() suffices
    and partial aggs combine). Everything after runs on m rows: the
    bitlen join against a 52-row powers table, the 2^-M fold, the
    correction. The m-row register table is the mergeable state —
    elementwise max folds epochs together. n_exact is computed for
    the audit only; a production tick reads just the register table.

    m=256 -> ~1.04/sqrt(256) = 6.5% standard error in ~256 bytes."""
    reg = hll_registers(df, value_col)
    exact = df.agg(F.countDistinct(value_col).cast("long").alias("n_exact"))
    return (
        _hll_stats(reg)
        .crossJoin(F.broadcast(exact))
        .select(
            "n_exact",
            F.round(F.col("__est"), 4).alias("n_hll"),
            F.round(
                F.abs(F.col("__est") - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
    )


def hll_registers(df: DataFrame, value_col: str) -> DataFrame:
    """The HLL register table for a value set: (idx, minv), at most
    256 rows. minv is the MIN of the post-index hash bits per register,
    which carries the max leading-zero rank (bitlen is monotone). One
    map-side-combinable min() agg is the only corpus-sized stage."""
    h = _hash60(F.col(value_col), "hll-v1")
    # idx from the low bits, v from the high bits — bit ops, never
    # float division (a 60-bit value does not fit a double mantissa)
    return (
        df.select(
            h.bitwiseAND(F.lit(_HLL_M - 1)).alias("idx"),
            F.shiftright(h, _HLL_P).alias("v"),
        )
        .groupBy("idx")
        .agg(F.min("v").alias("minv"))
    )


def _hll_stats(reg: DataFrame) -> DataFrame:
    """(idx, minv) registers -> one row with the corrected HLL
    estimate in __est (plus Z and V for inspection)."""
    spark = reg.sparkSession
    m = _HLL_M
    bits = 60 - _HLL_P  # hash bits left after the register index
    powers = spark.range(bits).select(
        F.col("id").alias("k"), F.pow(F.lit(2.0), F.col("id")).cast("long").alias("p2")
    )
    bitlen = (
        reg.join(F.broadcast(powers), F.col("p2") <= F.col("minv"), "left")
        .groupBy("idx", "minv")
        .agg(F.max("k").alias("maxk"))
        .select(
            "idx",
            # v = 0 (all hash bits zero) -> rho = bits + 1; else 53-bitlen
            F.when(F.col("minv") == 0, F.lit(bits + 1))
            .otherwise(F.lit(bits + 1) - (F.col("maxk") + 1))
            .cast("long")
            .alias("M"),
        )
    )
    dom = spark.range(m).select(F.col("id").alias("idx"))
    regs = dom.join(bitlen, "idx", "left").select(
        "idx", F.coalesce(F.col("M"), F.lit(0)).alias("M")
    )
    # Flajolet et al. 2007 fig. 3: the m >= 128 closed form
    alpha = 0.7213 / (1.0 + 1.079 / m)
    stats = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("M"))).alias("Z"),
        F.sum(F.when(F.col("M") == 0, 1).otherwise(0)).cast("long").alias("V"),
    )
    est_raw = F.lit(alpha * m * m) / F.col("Z")
    est = F.when(
        (est_raw <= 2.5 * m) & (F.col("V") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("V")),
    ).otherwise(est_raw)
    return stats.select("Z", "V", est.alias("__est"))
