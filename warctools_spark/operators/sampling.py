"""Deterministic corpus sampling / domain mixing.

Training-data pipelines mix sources at fixed ratios (e.g. 60% web,
30% books, 10% code) and need the sample to be REPRODUCIBLE across
reruns and cluster sizes — Spark's df.sample() is seeded per
partition, so the selected set changes with the split layout. These
operators hash row identity instead: membership is a pure function of
(seed, id), independent of partitioning, executor count, or input
order, and replayable in any engine with md5.

Scale: a hash + filter on the scan — no shuffle, no state, prunes to
(id, stratum) columns. The optional per-stratum report is one
map-side-combined hash agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warctools_spark.functions.exprs import portable_hash60

_MOD = 1_000_000


def hash_unit(id_col: Column, seed: str) -> Column:
    """Uniform [0,1) from md5(seed:id) — first 60 bits of the digest
    (portable_hash60; engine-portable)."""
    return (portable_hash60(id_col, seed) % _MOD) / F.lit(float(_MOD))


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
) -> DataFrame:
    """Keep each row iff hash_unit(seed, id) < fraction[its stratum].
    Strata absent from `fractions` are dropped (fraction 0)."""
    frac = F.lit(0.0)
    for name, f in sorted(fractions.items()):
        frac = F.when(F.col("source") == name, F.lit(float(f))).otherwise(frac)
    return docs.where(hash_unit(F.col("doc_id"), "mix-v1") < frac)


def mix_report(
    docs: DataFrame,
    sampled: DataFrame,
) -> DataFrame:
    """Achieved-vs-corpus mixing ratios per stratum (audit table)."""
    tot = docs.groupBy("source").agg(F.count("*").alias("n_corpus"))
    got = sampled.groupBy("source").agg(F.count("*").alias("n_sampled"))
    return (
        tot.join(got, "source", "left")
        .select(
            "source",
            "n_corpus",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.round(
                F.coalesce("n_sampled", F.lit(0)) / F.col("n_corpus"), 6
            ).alias("achieved_frac"),
        )
    )


def fixed_n_sample(
    docs: DataFrame,
    n_per_stratum: int,
) -> DataFrame:
    """Exactly-N-per-stratum deterministic sample: rank rows inside
    each stratum by the (seed, id) hash and keep the N smallest.
    Unlike fraction sampling this guarantees exact counts (eval-set
    carving, per-domain caps); like it, the selection is independent
    of partitioning and rerun-stable.

    Scale: rank-within-group compiles to WindowGroupLimit — Spark
    pushes the top-N below the shuffle, so each map task ships at most
    N rows per stratum it sees, never the full stratum (same plan
    property as the politeness scheduler, pinned in
    test_plan_quality)."""
    from pyspark.sql import Window

    h = hash_unit(F.col("doc_id"), "mix-v1")
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Shuffle-skew diagnostics for a prospective groupBy/join key:
    the top-k hottest key values with their share of all rows and the
    ratio to a perfectly uniform spread. The pre-flight check before
    keying a 100 TB shuffle — a max_over_uniform in the thousands
    says salt (or use the min-over-struct agg pattern) first.

    One hash agg + exact top-k; the tiny totals row is broadcast."""
    counts = df.groupBy(key_col).agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").alias("total_rows"),
        F.count("*").alias("n_keys"),
    )
    top = counts.orderBy(F.col("n").desc(), F.col(key_col)).limit(top_k)
    return top.crossJoin(F.broadcast(totals)).select(
        key_col,
        "n",
        F.round(F.col("n") / F.col("total_rows"), 6).alias("row_share"),
        F.round(
            F.col("n") / (F.col("total_rows") / F.col("n_keys")), 6
        ).alias("max_over_uniform"),
    )


def split_assign(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5): each row
    lands in the split whose cumulative-weight interval contains
    hash_unit(seed, id). Pure map-side expression — no shuffle, no
    sampling variance, identical at any parallelism and on any re-run
    (the property a 100 TB corpus split MUST have: re-computing a lost
    partition cannot reshuffle examples between train and test).
    Intervals in sorted split-name order: test [0, 0.05), train
    [0.05, 0.95), val [0.95, 1) — the oracle's literal boundaries."""
    u = hash_unit(F.col("doc_id"), "split-v1")
    return docs.withColumn(
        "split",
        F.when(u < F.lit(0.05), F.lit("test"))
        .when(u < F.lit(0.95), F.lit("train"))
        .otherwise(F.lit("val")),
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169). Public method, no reference counterpart
# (warctools has no data-selection stage); cited for parity with the
# paper's hashed-n-gram formulation only.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 4096


def _hash_mod(col: Column, seed: str, mod: int) -> Column:
    """portable_hash60 reduced mod `mod` (DuckDB replica:
    CAST(('0x' || substr(md5(...), 1, 15)) AS BIGINT) % mod)."""
    return portable_hash60(col, seed) % F.lit(mod)


def _hashed_gram_counts(df: DataFrame) -> DataFrame:
    """Per-doc hashed-n-gram feature counts of df(doc_id, text,
    __is_target): whitespace unigrams + space-joined bigrams, each
    hashed into _DSIR_BUCKETS buckets -> (__id, __is_target, bucket,
    c). The per-doc pre-aggregation is deliberate: every
    downstream join touches this (sub-vocabulary-sized per doc) table,
    never the exploded occurrence stream — the same join-input-
    reduction that fixed bigram_logprob's skew."""
    w = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
    )
    empty = F.array().cast("array<string>")
    bi = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(empty)
    grams = df.select(
        F.col("doc_id").alias("__id"),
        F.col("__is_target"),
        F.explode(F.concat(w, bi)).alias("gram"),
    )
    return (
        grams.select(
            "__id",
            "__is_target",
            _hash_mod(F.col("gram"), "dsir-v1", _DSIR_BUCKETS).alias("bucket"),
        )
        .groupBy("__id", "__is_target", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )


def _bucket_log_ratio(docs_b: DataFrame, target_b: DataFrame) -> DataFrame:
    """The DSIR importance log-ratio per bucket over the FULL bucket
    domain: lam_b = ln p_hat(b) - ln q_hat(b), with add-one
    smoothing p_hat(b) = (p_b + 1) / (P + B). Returns exactly
    _DSIR_BUCKETS rows — a constant-size (feature-dim) table that
    broadcasts no matter the corpus size."""
    spark = docs_b.sparkSession
    q = docs_b.groupBy("bucket").agg(F.sum("c").cast("long").alias("qn"))
    p = target_b.groupBy("bucket").agg(F.sum("c").cast("long").alias("pn"))
    dom = spark.range(_DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    lam = (
        dom.join(p, "bucket", "left")
        .join(q, "bucket", "left")
        .crossJoin(
            F.broadcast(
                p.agg(F.sum("pn").cast("double").alias("__P")).crossJoin(
                    q.agg(F.sum("qn").cast("double").alias("__Q"))
                )
            )
        )
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("pn"), F.lit(0)).cast("double") + 1.0)
                    / (F.col("__P") + 1.0 * _DSIR_BUCKETS)
                )
                - F.log(
                    (F.coalesce(F.col("qn"), F.lit(0)).cast("double") + 1.0)
                    / (F.col("__Q") + 1.0 * _DSIR_BUCKETS)
                )
            ).alias("lam"),
        )
    )
    return lam


def dsir_weights(docs: DataFrame, target_predicate: str) -> DataFrame:
    """DSIR importance log-weights: score every raw document by how
    much more likely its hashed-n-gram bag is under the TARGET
    distribution (the subset of `docs` the SQL `target_predicate`
    selects, e.g. a trusted high-quality slice) than under the
    raw corpus itself — log w(x) = sum over grams of
    [ln p_target(bucket) - ln q_raw(bucket)], add-alpha smoothed.
    This is the data-selection scoring stage of Xie et al. 2023.

    Output: (id, n_grams, log_weight), one row per input doc; docs
    with no grams (empty/whitespace text) keep a row with n_grams=0
    and log_weight=0.0 — a selection pass must never change corpus
    row count.

    Scale: two hash aggs over the gram stream (map-side combined),
    then every join is per-doc-pre-aggregated counts against a
    constant _DSIR_BUCKETS-row broadcast table — no corpus-sized
    shuffle keyed on skewed grams ("the the" never becomes a hot
    join key because only its bucket's COUNT travels). The gram
    stream is tokenized and hashed ONCE, with the per-doc target flag
    carried through the pre-agg."""
    both = _hashed_gram_counts(
        docs.withColumn("__is_target", F.expr(target_predicate).cast("boolean"))
    )
    docs_b = both.drop("__is_target")
    target_b = both.where(F.col("__is_target")).drop("__is_target")
    lam = _bucket_log_ratio(docs_b, target_b)
    wts = (
        docs_b.join(F.broadcast(lam), "bucket")
        .groupBy("__id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("lam")), 4).alias("log_weight"),
        )
    )
    return (
        docs.select(F.col("doc_id").alias("__id"))
        .join(wts, "__id", "left")
        .select(
            F.col("__id").alias("doc_id"),
            F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
        )
    )


def dsir_select(docs: DataFrame, target_predicate: str) -> DataFrame:
    """DSIR selection stage: Gumbel-top-k resampling (k = 100) over the
    importance weights — equivalent to sampling k docs without
    replacement with probability proportional to w(x) (Xie et al.
    2023 §2.2; Gumbel trick: argtop-k of log w + Gumbel noise). The
    noise is DERIVED from md5(id), not drawn, so the selected set is
    a pure function of the corpus — reproducible across reruns,
    partitionings and engines, like every sampler in this module.

    Scores are rounded to 4 decimals BEFORE the top-k ordering with
    doc id as the total tie-break, so the selection is stable under
    last-ulp accumulation differences (ORACLES.md #5/#9).

    Scale: top-k by ORDER BY+LIMIT compiles to TakeOrderedAndProject
    — per-partition heaps then a driver merge of k rows, never a
    global sort."""
    wts = dsir_weights(docs, target_predicate)
    # u in (0,1): (h + 0.5) / MOD can't hit the ln(0) endpoints
    h = _hash_mod(F.col("doc_id"), "dsir-v1-gumbel", _MOD)
    u = (h.cast("double") + 0.5) / F.lit(float(_MOD))
    g = -F.log(-F.log(u))
    return (
        wts.withColumn("dsir_score", F.round(F.col("log_weight") + g, 4))
        .orderBy(F.col("dsir_score").desc(), F.col("doc_id").asc())
        .limit(100)
        .select("doc_id", "n_grams", "log_weight", "dsir_score")
    )
