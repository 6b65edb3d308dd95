"""Round-5 fixes (VERDICT r04 brief + ADVICE r04):

#2 bigram_logprob joins per-doc-aggregated bigrams, not occurrences.
#5 ngram_containment jaccard denominator guarded — two docs shorter
   than n tokens yield 0.0, not null.
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bigram_logprob_joins_preaggregated_table(spark):
    """The join-back input must be the (doc, w1, w2, c) pre-aggregate
    (bounded by distinct bigrams per doc), never the exploded
    occurrence table, and the corpus count tables must derive from it
    (c1 from c12 — two corpus explodes total, not three)."""
    from warctools_spark.operators.text_analysis import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "of the of the of the end"), (2, "a b a b a b")],
        "doc_id long, text string",
    )
    import re

    df = bigram_logprob(docs)
    plan = _plan(df)
    # per-doc pre-aggregation exists and is what reaches the joins
    assert "Keys [3]: [doc_id" in plan
    # weighted mean over the pre-agg counts, not count(*) of join rows
    assert "partial_sum(__c" in plan
    # the streamed side of the inner join is the pre-aggregate, not a
    # Project over the exploded occurrence table
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(
        r"Join Inner[^\n]*w2[^\n]*\n[\s:+-]*Aggregate \[doc_id", logical
    ), logical
    # c1 derives from c12, so at runtime AQE reuses the c12 exchange —
    # the corpus is exploded twice, never a third time
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_bigram_logprob_weighted_mean_equals_occurrence_mean(spark):
    """Repeated bigrams: the weighted mean over (doc, bigram, c) must
    equal the plain average over occurrences (hand-computed)."""
    import math

    from warctools_spark.operators.text_analysis import bigram_logprob

    # doc 1: bigrams (a,b) x2, (b,a) x1  -> corpus counts with doc 2
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    # corpus: n12(a,b)=3, n12(b,a)=1, n12(b,c)=1; n1(a)=3, n1(b)=2
    lp_ab = -math.log(3 / 3)
    lp_ba = -math.log(1 / 2)
    lp_bc = -math.log(1 / 2)
    assert rows[1]["n_bigrams"] == 3
    assert rows[1]["mean_neg_logprob2"] == round(
        (2 * lp_ab + lp_ba) / 3, 4
    )
    assert rows[2]["n_bigrams"] == 2
    assert rows[2]["mean_neg_logprob2"] == round((lp_ab + lp_bc) / 2, 4)


def test_ngram_containment_short_docs_zero(spark):
    """Both docs under n tokens -> empty shingle sets -> all three
    scores are 0.0 (not null): the guarded denominator contract."""
    from warctools_spark.operators.dedup import ngram_containment

    docs = spark.createDataFrame(
        [(1, "hi there"), (2, "ok"), (3, "a b c d e f")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in ngram_containment(docs, pairs).collect()
    }
    short = rows[(1, 2)]
    assert short["jaccard"] == 0.0
    assert short["containment_a_in_b"] == 0.0
    assert short["containment_b_in_a"] == 0.0
    # one short doc against a real one: still 0 overlap, still non-null
    mixed = rows[(1, 3)]
    assert mixed["jaccard"] == 0.0


def test_catalog_file_scheme_root_full_cycle(spark, tmp_path):
    """Catalog(root='file://...') exercises the Hadoop FileSystem seam
    end-to-end (same code path as s3a://): commit, resume and expire
    all behave exactly as with a plain local path."""
    from warctools_spark.plans.catalog import Catalog

    cat = Catalog("file://" + str(tmp_path / "cat"), n_buckets=4)
    for e in range(3):
        df = spark.range(e * 10, e * 10 + 10).select(
            F.md5(F.col("id").cast("string")).alias("url_sha1")
        )
        t = cat.write_table(df, "queue", e, bucket_col=None)
        cat.commit(e, [t], {"queue_size": 10,
                            "seen_parts": [cat.table_path("queue", e)]})
    assert cat.list_epochs() == [0, 1, 2]
    assert cat.latest_epoch() == 2
    # manifests store root-relative paths; reads resolve them
    m = cat.read_manifest(2)
    assert m["tables"][0]["path"] == "queue/epoch=00002"
    assert cat.seen_parts(2) == [cat.table_path("queue", 2)]
    assert cat.read_table(spark, "queue", 2).count() == 10
    res = cat.expire_snapshots(keep_last=2)
    assert res["expired_epochs"] == [0]
    assert "queue/epoch=00000" in res["deleted_dirs"]
    assert cat.read_table(spark, "queue", 1).count() == 10  # kept


def test_catalog_respelled_root_resolves_same_references(spark, tmp_path):
    """Root-relative manifests: reopening the catalog under an
    equivalent-but-different spelling of the same root must resolve
    the identical reference set — expire deletes nothing it needs."""
    from warctools_spark.plans.catalog import Catalog

    plain = str(tmp_path / "cat")
    cat = Catalog(plain, n_buckets=4)
    for e in range(2):
        df = spark.range(10).select(
            F.md5(F.col("id").cast("string")).alias("url_sha1")
        )
        t = cat.write_table(df, "seen_delta", e, bucket_col=None)
        cat.commit(e, [t], {"seen_parts": [
            cat.table_path("seen_delta", i) for i in range(e + 1)
        ]})
    # reopen under file:// spelling — every epoch-1 reference (which
    # reaches BACK into epoch 0's delta) must survive expiry
    cat2 = Catalog("file://" + plain, n_buckets=4)
    res = cat2.expire_snapshots(keep_last=1)
    assert res["expired_epochs"] == [0]
    assert res["deleted_dirs"] == []  # epoch-0 delta still referenced
    assert cat2.read_table(spark, "seen_delta", 0).count() == 10


def test_catalog_expire_refuses_when_references_resolve_nowhere(
    spark, tmp_path
):
    """Belt-and-braces guard: if surviving manifests reference zero
    existing paths (legacy absolute spellings whose table/epoch tails
    do not exist under the current root either), the sweep must refuse
    rather than delete live crawl state. (A legacy absolute ref whose
    TAIL does exist locally is instead protected in place —
    test_round5_review.py::test_expire_protects_legacy_absolute_refs.)"""
    import json

    from warctools_spark.plans.catalog import Catalog

    root = tmp_path / "cat"
    cat = Catalog(str(root), n_buckets=4)
    df = spark.range(10).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    cat.write_table(df, "queue", 0, bucket_col=None)
    # legacy-style manifest: absolute paths under a DIFFERENT root,
    # with an epoch dir that has no local counterpart
    (root / "_manifests").mkdir(parents=True, exist_ok=True)
    manifest = {
        "epoch": 0, "n_buckets": 4,
        "tables": [{"table": "queue",
                    "path": "/nonexistent/oldroot/queue/epoch=00099"}],
        "metrics": {},
    }
    (root / "_manifests" / "epoch_00000.json").write_text(
        json.dumps(manifest)
    )
    with pytest.raises(RuntimeError, match="refusing to sweep"):
        cat.expire_snapshots(keep_last=1)
    # nothing was deleted
    assert cat.read_table(spark, "queue", 0).count() == 10


def test_rfc9309_specificity_counts_octets_not_chars(spark):
    """RFC 9309 most-specific-rule precedence is by OCTET count of the
    pattern. Chosen so character count TIES (where Allow would win)
    but octet count does not: allow '/caf*z' (6 octets) vs disallow
    '/caf\u00e9\u00e9' (8 octets, 6 chars) on path '/caf\u00e9\u00e9z'
    — must be BLOCKED under octets, allowed under the old char count."""
    from warctools_spark.operators.robots import apply_robots

    frontier = spark.createDataFrame(
        [("h.example.com", "http://h.example.com/caf\u00e9\u00e9z")],
        "host string, canon_url string",
    )
    robots = spark.createDataFrame(
        [("h.example.com", ["/caf*z"], ["/caf\u00e9\u00e9"], 0)],
        "host string, allow array<string>, disallow array<string>, "
        "crawl_delay_ms long",
    )
    out = apply_robots(frontier, robots, match_mode="rfc9309").collect()
    assert out == []  # longer-in-octets disallow wins

    # ascii control: unchanged semantics
    robots2 = spark.createDataFrame(
        [("h.example.com", ["/cafez", "/caf*z"], ["/caf"], 0)],
        "host string, allow array<string>, disallow array<string>, "
        "crawl_delay_ms long",
    )
    frontier2 = spark.createDataFrame(
        [("h.example.com", "http://h.example.com/cafez")],
        "host string, canon_url string",
    )
    out2 = apply_robots(frontier2, robots2, match_mode="rfc9309").collect()
    assert len(out2) == 1
