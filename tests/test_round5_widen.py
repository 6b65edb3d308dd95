"""Round-5 widening operators: DSIR importance resampling, CCNet
perplexity bucketing, count-min / HyperLogLog sketches, n-gram
novelty. Each oracle-checked via __spark_entry__; these tests pin the
semantic properties and the plan shapes the oracles can't see."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from warctools_spark.operators.sampling import dsir_select, dsir_weights
from warctools_spark.operators.sketches import cms_top_tokens, hll_distinct
from warctools_spark.operators.text_analysis import ccnet_buckets, ngram_novelty


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist on module teardown: a leaked cache entry turns later
    # plan-quality scans into InMemoryTableScan (order-dependent flake)
    df = spark.read.parquet(SF_DIR + "/documents.parquet").cache()
    yield df
    df.unpersist()


# ---------------------------------------------------------------- DSIR


def test_dsir_preserves_row_count_and_empty_docs(spark):
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma", "en"),
            (1, "", "en"),
            (2, "   ", "fr"),
            (3, "alpha beta", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    out = dsir_weights(df, "lang = 'en'").orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [0, 1, 2, 3]
    assert out[1].n_grams == 0 and out[1].log_weight == 0.0
    assert out[2].n_grams == 0 and out[2].log_weight == 0.0
    # unigrams + bigrams: 3 tokens -> 3 + 2 grams
    assert out[0].n_grams == 5
    assert out[3].n_grams == 3


def test_dsir_upweights_target_like_docs(spark):
    # target speaks only "good"; raw corpus also contains "junk" docs.
    rows = [(i, "good text about crawling the web", "t") for i in range(20)]
    rows += [(100 + i, "junk spam casino pills discount", "r") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = dsir_weights(df, "lang = 't'").collect()
    by_id = {r.doc_id: r.log_weight for r in w}
    assert all(by_id[i] > by_id[100 + j] for i in range(20) for j in range(20))


def test_dsir_weights_partitioning_invariant(docs):
    a = {
        r.doc_id: (r.n_grams, r.log_weight)
        for r in dsir_weights(docs, "lang = 'en'").collect()
    }
    b = {
        r.doc_id: (r.n_grams, r.log_weight)
        for r in dsir_weights(docs.repartition(17), "lang = 'en'").collect()
    }
    assert a == b


def test_dsir_select_is_deterministic_topk(docs):
    s1 = dsir_select(docs, "lang = 'en'").collect()
    s2 = dsir_select(docs.repartition(13), "lang = 'en'").collect()
    assert len(s1) == 100
    assert {r.doc_id for r in s1} == {r.doc_id for r in s2}
    # selection is biased toward high-weight docs vs a uniform draw:
    # the selected set's mean log-weight must beat the corpus mean
    # (pure-Gumbel/uniform sampling would match it in expectation)
    corpus_mean = dsir_weights(docs, "lang = 'en'").agg(
        F.avg("log_weight")
    ).collect()[0][0]
    sel_mean = sum(r.log_weight for r in s1) / len(s1)
    assert sel_mean > corpus_mean


def test_dsir_plan_broadcasts_ratio_table_no_python(docs):
    plan = _plan(dsir_weights(docs, "lang = 'en'"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # lam table join, never SMJ


# --------------------------------------------------------------- CCNet


def test_ccnet_buckets_exact_thirds(docs):
    out = ccnet_buckets(docs).groupBy("ppl_bucket").count().collect()
    sizes = {r.ppl_bucket: r["count"] for r in out}
    n = sum(sizes.values())
    # thirds up to score-tie granularity
    assert set(sizes) == {"head", "middle", "tail"}
    for v in sizes.values():
        assert abs(v - n / 3) <= max(5, 0.05 * n)


def test_ccnet_bucket_order_is_by_score(docs):
    rows = ccnet_buckets(docs).collect()
    hi_head = max(r.mean_neg_logprob for r in rows if r.ppl_bucket == "head")
    lo_mid = min(r.mean_neg_logprob for r in rows if r.ppl_bucket == "middle")
    hi_mid = max(r.mean_neg_logprob for r in rows if r.ppl_bucket == "middle")
    lo_tail = min(r.mean_neg_logprob for r in rows if r.ppl_bucket == "tail")
    assert hi_head <= lo_mid <= hi_mid <= lo_tail


# ------------------------------------------------------------- sketches


def test_cms_estimate_is_one_sided(docs):
    rows = cms_top_tokens(docs).collect()
    assert len(rows) == 20 and all(r.n_cms >= r.n_exact for r in rows)


def test_cms_finds_the_true_heavy_hitter(spark):
    rows = [(i, "hot " * 50 + f"cold{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = cms_top_tokens(df).collect()
    assert top[0].token == "hot" and top[0].n_exact == 5000


def test_hll_within_error_bound(spark):
    df = spark.range(20000).select(
        F.concat(F.lit("url-"), F.col("id")).alias("u")
    )
    row = hll_distinct(df, "u").collect()[0]
    assert row.n_exact == 20000
    # 256 registers -> 6.5% std err; allow 4 sigma
    assert row.rel_err < 4 * 1.04 / (256 ** 0.5)


def test_hll_is_insensitive_to_duplication(spark):
    base = spark.range(5000).select(
        F.concat(F.lit("h-"), F.col("id")).alias("u")
    )
    dup = base.union(base).union(base)
    a = hll_distinct(base, "u").collect()[0]
    b = hll_distinct(dup, "u").collect()[0]
    assert a.n_hll == b.n_hll  # registers depend on the SET only


def test_sketch_plans_stay_jvm_side(docs):
    for df in (cms_top_tokens(docs), hll_distinct(docs, "doc_id")):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -------------------------------------------------------------- novelty


def test_novelty_duplicate_doc_scores_zero(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(0, text), (1, text), (2, "completely different words here entirely now yes")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty(df).collect()}
    assert out[0].novelty == 1.0  # first occurrence owns every shingle
    assert out[1].novelty == 0.0  # verbatim duplicate
    assert out[2].novelty == 1.0
    assert out[0].n_shingles == out[1].n_shingles


def test_novelty_bounds_and_row_count(docs):
    rows = ngram_novelty(docs).collect()
    assert len(rows) == docs.count()
    assert all(0.0 <= r.novelty <= 1.0 for r in rows)
    assert all(r.n_novel <= r.n_shingles for r in rows)


# ---------------------------------------------------- hll small m


def test_hll_estimate_replays_from_registers(spark):
    # 256 registers use Flajolet's m >= 128 closed-form alpha: replay
    # the estimate from the registers in Python and pin exact equality
    from warctools_spark.operators.sketches import hll_registers

    df = spark.range(2000).select(
        F.concat(F.lit("s-"), F.col("id")).alias("u")
    )
    minv = {r.idx: r.minv for r in hll_registers(df, "u").collect()}
    bits = 60 - 8
    rho = {
        i: (bits + 1 if v == 0 else bits + 1 - v.bit_length())
        for i, v in minv.items()
    }
    z = sum(2.0 ** -rho.get(i, 0) for i in range(256))
    alpha = 0.7213 / (1.0 + 1.079 / 256)
    expected = alpha * 256 * 256 / z  # estimate > 2.5m: no correction
    assert expected > 2.5 * 256
    got = hll_distinct(df, "u").collect()[0].n_hll
    assert abs(got - round(expected, 4)) < 1e-6


def test_host_quality_rollup_shapes(spark):
    from warctools_spark.operators.text_analysis import host_quality_rollup

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox", "en", "a.com"),
            (1, "the lazy dog sleeps", "en", "a.com"),
            (2, "le chat noir dort", "fr", "a.com"),
            (3, "mirror mirror mirror", "en", "b.com"),
        ],
        "doc_id long, text string, lang string, host string",
    )
    out = {r.host: r for r in host_quality_rollup(df).collect()}
    assert out["a.com"].n_docs == 3 and out["a.com"].n_langs == 2
    assert out["b.com"].n_docs == 1 and out["b.com"].n_langs == 1
    assert out["b.com"].lang_entropy == 0.0  # single-language host
    import math

    want = round(math.log(3) - (2 * math.log(2)) / 3, 4)
    assert abs(out["a.com"].lang_entropy - want) < 1e-9
