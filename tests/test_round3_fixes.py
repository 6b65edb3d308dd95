"""Round-3 hardening tests: anti-join right side joined as-is (no
distinct), probe parallelism decoupled from n_buckets, HTTP/0.9
fallback wired into the engine dataflow, latin-1-only body filtering,
cuckoo inserts into empty buckets, embedding dims validation,
dup_clusters convergence contract, anchor-pair alignment, and the
pack_sequences single-materialization plan."""

import warnings

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# ---------------------------------------------------------------
# anti-join right side: no distinct, and still zero-exchange when
# both sides come from the catalog's bucketed tables
# ---------------------------------------------------------------


def test_dedup_against_seen_no_distinct_agg(spark):
    from warctools_spark.operators.frontier import dedup_against_seen

    cand = spark.range(100).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1"), "id"
    )
    seen = spark.range(0, 100, 2).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    # duplicate seen rows must not change the anti-join result
    out = dedup_against_seen(cand, seen.unionAll(seen))
    assert out.count() == 50
    # and the plan must NOT pay a hash-aggregate (distinct) for it
    assert "HashAggregate" not in _plan(out)


def test_dedup_against_seen_bucketed_zero_exchange(spark, tmp_path):
    """dedup_against_seen itself (not a hand-built join) over the
    catalog's bucketed tables: storage-partitioned anti-join with no
    Exchange and no distinct aggregate."""
    from warctools_spark.operators.frontier import dedup_against_seen
    from warctools_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"), n_buckets=8)
    cand = spark.range(5000).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1"), "id"
    )
    seen = spark.range(0, 5000, 2).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    t1 = cat.write_bucketed_table(spark, cand, "queue_r3", 0)
    t2 = cat.write_bucketed_table(spark, seen, "seen_r3", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = dedup_against_seen(spark.table(t1), spark.table(t2))
        plan = _plan(j)
        assert "Exchange" not in plan
        assert "HashAggregate" not in plan
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert j.count() == 2500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


# ---------------------------------------------------------------
# probe parallelism decoupled from n_buckets
# ---------------------------------------------------------------


def test_bloom_probe_salted_splits_buckets(spark):
    """With probe_salts=4 one bucket's candidates occupy >1 cogroup
    key (so >1 task at scale) and the probe results are identical to
    the unsalted run."""
    from warctools_spark.operators.seen import build_bloom, probe_bucketed

    seen = spark.range(0, 400, 2).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    cand = spark.range(400).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1"), "id"
    )
    bloom = build_bloom(seen, n_buckets=2).cache()
    plain = probe_bucketed(cand, bloom, 2, probe_salts=1)
    salted = probe_bucketed(cand, bloom, 2, probe_salts=4)
    p = {r["url_sha1"]: r["maybe_seen"] for r in plain.collect()}
    s = {r["url_sha1"]: r["maybe_seen"] for r in salted.collect()}
    assert p == s and len(p) == 400
    # every seen key probes positive (no false negatives ever)
    seen_keys = {r["url_sha1"] for r in seen.collect()}
    assert all(s[k] for k in seen_keys)
    # the salted key space really splits each bucket's candidates
    keys = cand.select(
        F.pmod(F.xxhash64("url_sha1"), F.lit(2)).alias("b"),
        F.pmod(F.xxhash64("url_sha1", F.lit(0x5A17)), F.lit(4)).alias("s"),
    )
    per_bucket = keys.groupBy("b").agg(
        F.countDistinct("s").alias("n_salts")
    ).collect()
    assert all(r["n_salts"] > 1 for r in per_bucket)


def test_cuckoo_probe_salted_matches_unsalted(spark):
    from warctools_spark.operators.cuckoo import build_cuckoo
    from warctools_spark.operators.seen import probe_bucketed

    seen = spark.range(0, 300, 3).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    cand = spark.range(300).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1"), "id"
    )
    ck = build_cuckoo(seen, n_buckets=2).cache()
    plain = probe_bucketed(cand, ck, 2, probe_salts=1)
    salted = probe_bucketed(cand, ck, 2, probe_salts=5)
    p = {r["url_sha1"]: r["maybe_seen"] for r in plain.collect()}
    s = {r["url_sha1"]: r["maybe_seen"] for r in salted.collect()}
    assert p == s and len(p) == 300


def test_two_tier_dedup_exact_with_default_salts(spark):
    """two_tier_dedup (auto probe_salts from defaultParallelism) still
    equals the exact anti-join."""
    from warctools_spark.operators.seen import two_tier_dedup

    cand = spark.range(500).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1"), "id"
    )
    seen = spark.range(0, 500, 2).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    out = two_tier_dedup(cand, seen, n_buckets=4)
    exact = cand.join(seen, "url_sha1", "left_anti")
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in exact.collect()
    )


# ---------------------------------------------------------------
# cuckoo: inserts into a bucket with no existing filter row
# ---------------------------------------------------------------


def test_cuckoo_insert_into_empty_bucket(spark):
    """build_cuckoo emits rows only for buckets that held keys; an
    insert whose bucket is absent must synthesize a filter row instead
    of silently dropping the keys (which would leak duplicates through
    a definitive-negative probe)."""
    from warctools_spark.operators.cuckoo import build_cuckoo, insert_into_cuckoo
    from warctools_spark.operators.seen import probe_bucketed

    n_buckets = 8
    base = spark.range(1).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    ck = build_cuckoo(base, n_buckets=n_buckets).cache()
    base_buckets = {r["bucket"] for r in ck.select("bucket").collect()}
    assert len(base_buckets) == 1  # most buckets are empty

    adds = spark.range(1, 200).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    # sanity: the additions really do hit buckets absent from the base
    add_buckets = {
        r["b"]
        for r in adds.select(
            F.pmod(F.xxhash64("url_sha1"), F.lit(n_buckets)).alias("b")
        ).collect()
    }
    assert add_buckets - base_buckets

    updated = insert_into_cuckoo(ck, adds, n_buckets).cache()
    assert {r["bucket"] for r in updated.select("bucket").collect()} == (
        base_buckets | add_buckets
    )
    # every inserted key must now probe maybe_seen=True (no false
    # negatives = no duplicate leaks through tier 2)
    probed = probe_bucketed(adds, updated, n_buckets)
    assert all(r["maybe_seen"] for r in probed.collect())


# ---------------------------------------------------------------
# HTTP/0.9 fallback in the engine dataflow
# ---------------------------------------------------------------

HTTP09_BODY = b"<html><p>ancient pre-1.0 response</p></html>"


def _records_df(spark, tmp_path_factory_dir):
    from warctools_spark.sources.warc import read_warc

    content = HTTP09_BODY
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000aa>\r\n"
        b"WARC-Date: 2013-11-15T00:00:00Z\r\n"
        b"WARC-Target-URI: http://old.example/\r\n"
        b"Content-Type: application/http;msgtype=response\r\n"
        b"Content-Length: " + str(len(content)).encode() + b"\r\n\r\n"
        + content + b"\r\n\r\n"
    )
    p = tmp_path_factory_dir / "http09.warc"
    p.write_bytes(rec)
    return read_warc(spark, str(p))


def test_http09_payload_decodes_with_fallback(spark, tmp_path):
    """An HTTP/0.9 payload (no status line) surfaces as an error row
    by default but decodes to (200, whole-payload body) with
    http09_fallback=True — kernels/http_decode.py:527 wired into the
    UDF layer (messaging.py:696-738 semantics)."""
    from warctools_spark.functions.udfs import make_udf_decode_http

    recs = _records_df(spark, tmp_path).cache()

    strict = recs.withColumn(
        "http", make_udf_decode_http()(F.col("content"))
    ).select("http.*").collect()[0]
    assert not strict["complete"]

    fb = recs.withColumn(
        "http", make_udf_decode_http(http09_fallback=True)(F.col("content"))
    ).select("http.*").collect()[0]
    assert fb["complete"]
    assert fb["code"] == 200
    assert bytes(fb["body"]) == HTTP09_BODY
    assert not (fb["errors"] or [])


def test_http09_warc2warc_operator(spark, tmp_path):
    from warctools_spark.operators.archive_ops import warc2warc_decode

    recs = _records_df(spark, tmp_path).cache()
    out = warc2warc_decode(recs, http09_fallback=True).collect()[0]
    # clean decode: the 0.9 message IS the raw payload, so the body
    # replacement is the identity and the record re-serializes
    assert bytes(out["out_content"]) == HTTP09_BODY
    assert out["record_bytes"]


# ---------------------------------------------------------------
# latin-1-only body matching (reference regex runs on raw bytes)
# ---------------------------------------------------------------


def test_warc_filter_any_latin1_only(spark):
    """A pattern matching the UTF-8 *misdecode* of non-UTF-8 bytes
    must NOT hit: the reference regex runs on raw bytes = latin-1."""
    from warctools_spark.operators.archive_ops import warc_filter

    payload = b"caf\xe9 content"  # latin-1 e-acute; invalid UTF-8
    df = spark.createDataFrame(
        [("http://x/", "response", "text/html", [], payload)],
        "url string, record_type string, content_type string, "
        "headers array<struct<name:string,value:string>>, content binary",
    )
    assert warc_filter(df, "café", mode="any").count() == 1
    # the UTF-8 cast would have produced U+FFFD here; it must not match
    assert warc_filter(df, "�", mode="any").count() == 0
    # invert flips it (warcfilter.py:82-116)
    assert warc_filter(df, "café", mode="any", invert=True).count() == 0


# ---------------------------------------------------------------
# embedding dims validation
# ---------------------------------------------------------------


def test_embedding_pairs_dims_mismatch_raises(spark):
    from warctools_spark.operators.dedup import embedding_cosine_pairs

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    # explicit dims skips the driver-side scan; the executor-side
    # _require_dims guard fails the job on the first action instead
    with pytest.raises(Exception) as ei:
        embedding_cosine_pairs(emb, threshold=0.9, dims=8).collect()
    assert "not 8-dimensional" in str(ei.value)
    # dims=None derives from the data and works
    out = embedding_cosine_pairs(emb, threshold=0.99, dims=None)
    assert out.count() > 0


def test_lsh_topk_query_dims_mismatch_raises(spark):
    from warctools_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.1]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="query_vec has 3 dims"):
        lsh_topk(emb, [1.0, 0.5, 0.1], k=3)
    res = lsh_topk(emb, [1.0, 1.0, 0.5, 0.1], k=3)
    assert res.count() > 0


# ---------------------------------------------------------------
# dup_clusters convergence contract
# ---------------------------------------------------------------


def _chain(spark, n):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    verts = spark.range(n).withColumnRenamed("id", "doc_id")
    return pairs, verts


def test_dup_clusters_nonconverged_raises(spark):
    from warctools_spark.operators.dedup import dup_clusters

    pairs, verts = _chain(spark, 30)
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, verts, max_iter=2)


def test_dup_clusters_nonconverged_warns(spark):
    from warctools_spark.operators.dedup import dup_clusters

    pairs, verts = _chain(spark, 30)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = dup_clusters(pairs, verts, max_iter=2, on_nonconverged="warn")
        out.count()
    assert any("did not converge" in str(x.message) for x in w)


def test_dup_clusters_chain_converges_with_enough_rounds(spark):
    from warctools_spark.operators.dedup import dup_clusters

    pairs, verts = _chain(spark, 17)
    # 16-edge chain: one hop of propagation per round needs <= 16
    # rounds; must complete without the non-convergence raise
    out = dup_clusters(pairs, verts, max_iter=20)
    rows = out.collect()
    assert all(r["cluster_id"] == 0 for r in rows) and len(rows) == 17


# ---------------------------------------------------------------
# anchor-pair alignment (one regex, same match)
# ---------------------------------------------------------------


def test_anchor_pairs_nested_markup_cannot_misalign(spark):
    from warctools_spark.operators.text_analysis import anchor_text_pairs

    html = (
        '<a href="http://x/1">a <b>nested</b></a>'
        '<a href="http://x/2">plain two</a>'
        '<a href="http://x/3">plain three</a>'
    )
    df = spark.createDataFrame([("http://src/", html)], "url string, t string")
    rows = {
        (r["link"], r["anchor"])
        for r in anchor_text_pairs(df, "t").collect()
    }
    # the nested-markup anchor is skipped, NOT paired with a later tag
    assert rows == {
        ("http://x/2", "plain two"),
        ("http://x/3", "plain three"),
    }


# ---------------------------------------------------------------
# pack_sequences: the sized+windowed frame materializes once
# ---------------------------------------------------------------


def test_pack_sequences_reuses_cached_intermediate(spark):
    from warctools_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = pack_sequences(docs, seq_len=512)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    # the final projection must read the checkpointed window result
    # (an ExistingRDD scan), not recompute the range partition +
    # window a second time
    assert "ExistingRDD" in plan
    assert "Window" not in plan
    assert "rangepartitioning" not in plan
    # spot-check the prefix-sum invariant survives
    rows = out.orderBy("doc_id").collect()
    acc = 0
    for r in rows[:50]:
        assert r["tok_start"] == acc
        acc += r["n_tokens"]


# ---------------------------------------------------------------
# tfidf_keywords (new round-3 operator)
# ---------------------------------------------------------------


def test_tfidf_keywords_semantics_and_plan(spark):
    from warctools_spark.operators.text_analysis import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "apple durian durian durian"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_keywords(docs, k=2)
    rows = {(r["doc_id"], r["term"]): (r["tf"], r["df"]) for r in out.collect()}
    # 'banana' appears in 2/3 docs, 'durian' in 1/3: rarity wins at
    # equal tf; ubiquitous terms score ln(1)=0 when df == N
    assert rows[(0, "apple")] == (2, 2)
    assert rows[(2, "durian")] == (3, 1)
    assert all(len([k for k in rows if k[0] == d]) <= 2 for d in (0, 1, 2))
    plan = _plan(out)
    # per-doc top-k must be WindowGroupLimit (map-side k filter), and
    # the doc-term count must partially aggregate before the shuffle
    assert "WindowGroupLimit" in plan
    assert "partial_count" in plan


def test_inverted_index_semantics(spark):
    from warctools_spark.operators.text_analysis import inverted_index

    docs = spark.createDataFrame(
        [(0, "b a b"), (1, "a c")], "doc_id long, text string"
    )
    rows = {r["term"]: r for r in inverted_index(docs).collect()}
    assert rows["a"]["postings"] == "0:1,1:0"
    assert rows["a"]["df"] == 2 and rows["a"]["n_postings"] == 2
    assert rows["b"]["postings"] == "0:0,0:2"
    assert rows["c"]["df"] == 1
    # min_df prunes rare terms
    pruned = {r["term"] for r in inverted_index(docs, min_df=2).collect()}
    assert pruned == {"a"}


def test_inverted_index_partitioning_invariant(spark):
    from warctools_spark.operators.text_analysis import inverted_index

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = {
        r["term"]: r["postings"]
        for r in inverted_index(docs.repartition(1), min_df=5).collect()
    }
    many = {
        r["term"]: r["postings"]
        for r in inverted_index(docs.repartition(16), min_df=5).collect()
    }
    assert one == many and len(one) > 0


def test_unigram_logprob_semantics(spark):
    import math

    from warctools_spark.operators.text_analysis import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # T=5; doc0 = mean(-ln(3/5), -ln(3/5), -ln(1/5))
    exp0 = round((2 * -math.log(3 / 5) + -math.log(1 / 5)) / 3, 4)
    assert rows[0]["mean_neg_logprob"] == exp0
    assert rows[0]["n_tokens"] == 3 and rows[1]["n_tokens"] == 2
    # rare-token doc scores strictly higher (more 'surprising')
    assert rows[1]["mean_neg_logprob"] > rows[0]["mean_neg_logprob"]


def test_kmeans_assign_semantics_and_determinism(spark):
    from warctools_spark.operators.similarity import kmeans_assign

    # two tight blobs far apart; init ids 0,1 are one per blob
    rows = [(0, [0.0, 0.0]), (2, [0.1, -0.1]), (4, [-0.1, 0.1]),
            (1, [10.0, 10.0]), (3, [10.1, 9.9]), (5, [9.9, 10.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cluster"] for r in
           kmeans_assign(emb, k=2, iterations=3).collect()}
    assert got[0] == got[2] == got[4] == 0
    assert got[1] == got[3] == got[5] == 1
    # partitioning-invariance: same assignment at any layout
    got16 = {r["vec_id"]: r["cluster"] for r in
             kmeans_assign(emb.repartition(16), k=2, iterations=3).collect()}
    assert got == got16


def test_kmeans_assignment_is_jvm_only(spark):
    from warctools_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = kmeans_assign(emb, k=4, iterations=1)
    plan = _plan(out)
    # assignment must be pure Catalyst expressions: no Python eval,
    # no join, no shuffle in the final assignment pass
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_semdedup_drops_near_duplicates_within_cluster(spark):
    from warctools_spark.operators.similarity import semdedup_survivors

    rows = [
        (0, [1.0, 0.0]), (2, [0.999, 0.01]), (4, [0.998, -0.01]),  # blob A
        (1, [0.0, 1.0]), (3, [0.01, 0.999]),                       # blob B
        (5, [-1.0, -1.0]),                                         # loner in B's cell? far from both
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    surv = {r["vec_id"] for r in
            semdedup_survivors(emb, k=2, iterations=2, threshold=0.95).collect()}
    # lowest id survives each near-dup group; near-copies are dropped
    assert 0 in surv and 2 not in surv and 4 not in surv
    assert 1 in surv and 3 not in surv
    # the far-away vector survives regardless of its cell
    assert 5 in surv


def _span_docs(spark):
    passage = " ".join(f"w{i}" for i in range(30))  # 30-token passage
    return spark.createDataFrame(
        [
            (0, passage + " unique0 tail0"),
            (1, "head1 " + passage + " unique1"),       # full repeat
            (2, "totally different words " + " ".join(f"x{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )


def test_duplicate_spans_first_occurrence_exempt(spark):
    from warctools_spark.operators.dedup import duplicate_spans

    spans = duplicate_spans(
        _span_docs(spark), k=10, min_span_tokens=15
    ).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0 holds the corpus-wide first occurrence: no spans there
    assert 0 not in by_doc and 2 not in by_doc
    # doc 1's copy is one MERGED span covering the whole passage
    assert len(by_doc[1]) == 1
    s = by_doc[1][0]
    assert (s["span_start"], s["span_end"], s["n_tokens"]) == (1, 31, 30)


def test_remove_duplicate_spans_rewrite(spark):
    from warctools_spark.operators.dedup import remove_duplicate_spans

    out = {r["doc_id"]: r for r in remove_duplicate_spans(
        _span_docs(spark), k=10, min_span_tokens=15).collect()}
    assert out[1]["clean_text"] == "head1 unique1"
    assert out[1]["n_removed_tokens"] == 30
    # untouched docs come back verbatim (token-joined)
    assert out[0]["n_removed_tokens"] == 0
    assert out[0]["clean_text"].startswith("w0 w1 ")
    assert out[2]["n_removed_tokens"] == 0


def test_duplicate_spans_within_one_doc(spark):
    from warctools_spark.operators.dedup import duplicate_spans

    passage = " ".join(f"p{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(7, passage + " mid " + passage)], "doc_id long, text string"
    )
    spans = duplicate_spans(docs, k=10, min_span_tokens=15).collect()
    # the second in-doc occurrence (positions 21..41) is flagged
    assert len(spans) == 1
    assert spans[0]["span_start"] == 21 and spans[0]["n_tokens"] == 20


def test_ragged_embedding_fails_job_not_silently(spark):
    """A wrong-length vector anywhere in the data must FAIL the job,
    not silently collapse into a zero bucket. dims=None now derives
    via an order-independent min/max aggregate (r03 ADVICE), so a
    ragged column raises the same ValueError at ANY partition order;
    with explicit dims the executor-side raise_error guard fires."""
    from warctools_spark.operators.dedup import embedding_cosine_pairs

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged embedding column"):
        embedding_cosine_pairs(emb, threshold=0.5, dims=None)
    with pytest.raises(Exception) as ei:
        embedding_cosine_pairs(emb, threshold=0.5, dims=3).collect()
    assert "not 3-dimensional" in str(ei.value)


def test_dup_clusters_converging_exactly_at_max_iter_ok(spark):
    """Fixpoint reached on the final round must NOT raise: the
    post-loop verification pass distinguishes 'last change was the
    final one needed' from truncated propagation."""
    from warctools_spark.operators.dedup import dup_clusters

    # 5-node chain: round r propagates labels one hop; the last
    # change lands exactly on round 4 == max_iter
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "id_a long, id_b long"
    )
    verts = spark.range(5).withColumnRenamed("id", "doc_id")
    rows = dup_clusters(pairs, verts, max_iter=4).collect()
    assert all(r["cluster_id"] == 0 for r in rows) and len(rows) == 5


def test_kmeans_pandas_mode_matches_expr_mode(spark):
    from warctools_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ex = {r["vec_id"]: (r["cluster"], r["dist"]) for r in
          kmeans_assign(emb, k=8, iterations=2, assign_mode="expr").collect()}
    pa = {r["vec_id"]: (r["cluster"], r["dist"]) for r in
          kmeans_assign(emb, k=8, iterations=2, assign_mode="pandas").collect()}
    assert set(ex) == set(pa)
    assert all(ex[i][0] == pa[i][0] for i in ex)          # same clusters
    assert all(abs(ex[i][1] - pa[i][1]) < 1e-5 for i in ex)  # same dists


def test_chunk_documents_semantics(spark):
    from warctools_spark.operators.text_analysis import chunk_documents

    docs = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(10))), (1, "a b"), (2, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        (
            (r["doc_id"], r["chunk_id"], r["tok_start"], r["n_tokens"],
             r["chunk"])
            for r in chunk_documents(docs, window=4, stride=3).collect()
        )
    )
    # doc 0 (10 tokens): starts 0,3,6 — the start-6 chunk reaches the
    # end, so no redundant strict-suffix tail chunk is emitted
    assert [(c[2], c[3]) for c in rows if c[0] == 0] == [
        (0, 4), (3, 4), (6, 4)
    ]
    assert rows[0][4] == "t0 t1 t2 t3"
    # every token of doc 0 is covered by >= 1 chunk
    covered = set()
    for _, _, s, n, _ in [c for c in rows if c[0] == 0]:
        covered.update(range(s, s + n))
    assert covered == set(range(10))
    # short doc: a single full chunk; empty doc: none
    assert [(c[2], c[3], c[4]) for c in rows if c[0] == 1] == [(0, 2, "a b")]
    assert not [c for c in rows if c[0] == 2]
    # pure-Catalyst plan: no Python eval, no shuffle
    plan = _plan(chunk_documents(docs, window=4, stride=3))
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_dup_clusters_disk_checkpoint_doubling_long_chain(spark, tmp_path):
    """With checkpoint_dir, pointer doubling is enabled (parquet
    round-trips reset the inherited plan stats): a 200-node chain
    converges in O(log n) rounds where plain propagation would need
    199."""
    from warctools_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    verts = spark.range(200).withColumnRenamed("id", "doc_id")
    out = dup_clusters(
        pairs, verts, max_iter=15, checkpoint_dir=str(tmp_path / "ck")
    )
    rows = out.collect()
    assert len(rows) == 200 and all(r["cluster_id"] == 0 for r in rows)


def test_dup_clusters_disk_mode_matches_memory_mode(spark, tmp_path):
    import random

    from warctools_spark.operators.dedup import dup_clusters

    rng = random.Random(11)
    data = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    data = [(a, b) for a, b in data if a != b]
    pairs = spark.createDataFrame(data, "id_a long, id_b long")
    verts = spark.range(200).withColumnRenamed("id", "doc_id")
    mem = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in dup_clusters(pairs, verts).collect()
    )
    disk = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in dup_clusters(
            pairs, verts, checkpoint_dir=str(tmp_path / "ck2")
        ).collect()
    )
    assert mem == disk


def test_corpus_drift_semantics(spark):
    import math

    from warctools_spark.operators.text_analysis import corpus_drift

    a = spark.createDataFrame(
        [(0, "x x y"), (1, "x z")], "doc_id long, text string"
    )
    b = spark.createDataFrame([(2, "x y y")], "doc_id long, text string")
    r = corpus_drift(a, b).collect()[0]
    assert (r["tokens_a"], r["tokens_b"]) == (5, 3)
    assert (r["vocab_a"], r["vocab_b"], r["vocab_overlap"]) == (3, 2, 2)
    # add-1 smoothing over the 3-token union vocab
    pa = {"x": 4 / 8, "y": 2 / 8, "z": 2 / 8}
    pb = {"x": 2 / 6, "y": 3 / 6, "z": 1 / 6}
    kl = sum(pa[t] * math.log(pa[t] / pb[t]) for t in pa)
    assert r["kl_a_b"] == round(kl, 4)
    # identical corpora drift to zero
    same = corpus_drift(a, a).collect()[0]
    assert same["kl_a_b"] == 0.0


def test_inverted_index_segmented_bounds_and_reconstructs(spark):
    from warctools_spark.operators.text_analysis import (
        inverted_index,
        inverted_index_segmented,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    flat = {r["term"]: r for r in inverted_index(docs, min_df=5).collect()}
    seg = inverted_index_segmented(docs, segment_size=40, min_df=5).collect()
    # a hot term really splits into multiple segments
    by_term: dict = {}
    for r in seg:
        by_term.setdefault(r["term"], []).append(r)
    assert any(len(v) > 1 for v in by_term.values())
    for term, rows in by_term.items():
        # per-segment posting counts hover around segment_size (hash
        # assignment: allow generous slack) and NEVER the full term
        if len(rows) > 1:
            assert all(r["n_postings"] < flat[term]["n_postings"]
                       for r in rows)
        # merging segments reconstructs the exact flat posting list
        merged = sorted(
            tuple(map(int, p.split(":")))
            for r in rows
            for p in r["postings"].split(",")
        )
        expect = sorted(
            tuple(map(int, p.split(":")))
            for p in flat[term]["postings"].split(",")
        )
        assert merged == expect
        assert all(r["df"] == flat[term]["df"] for r in rows)
    assert set(by_term) == set(flat)


def test_ridge_fit_recovers_linear_relation(spark):
    import numpy as np

    from warctools_spark.operators.modeling import (
        gram_moments,
        linear_score,
        ridge_fit,
    )

    # y = 2 + 3*a - b exactly; tiny l2 so recovery is near-exact
    rows = [(a, b, 2 + 3 * a - b) for a in range(6) for b in range(6)]
    df = spark.createDataFrame(rows, "a int, b int, y int")
    m = ridge_fit(df, ["a", "b"], "y", l2=1e-9)
    assert abs(m["intercept"] - 2) < 1e-5
    assert abs(m["weights"]["a"] - 3) < 1e-6
    assert abs(m["weights"]["b"] + 1) < 1e-6
    # scoring expression reproduces the label
    scored = df.withColumn("p", linear_score(m, ["a", "b"])).collect()
    assert all(abs(r["p"] - r["y"]) < 1e-4 for r in scored)
    # driver math agrees with a direct numpy ridge solve
    X = np.array([[1, a, b] for a, b, _ in rows], dtype=float)
    y = np.array([r[2] for r in rows], dtype=float)
    reg = np.eye(3) * 1e-9
    reg[0, 0] = 0
    w = np.linalg.solve(X.T @ X + reg, X.T @ y)
    assert abs(m["intercept"] - w[0]) < 1e-9
    # one aggregate, map-side combined, no Python in the plan
    plan = _plan(gram_moments(df, ["a", "b"], "y"))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_length_report_semantics(spark):
    from warctools_spark.operators.text_analysis import length_report

    docs = spark.createDataFrame(
        [(0, "a"), (1, "a b"), (2, "a b c"), (3, "a b c d"), (4, "")],
        "doc_id long, text string",
    )
    r = length_report(docs).collect()[0]
    assert r["n_docs"] == 5 and r["total_tokens"] == 10
    assert r["min_tokens"] == 0 and r["max_tokens"] == 4
    # interpolated percentiles over [0,1,2,3,4]
    assert r["p50"] == 2.0 and r["p25"] == 1.0 and r["p75"] == 3.0
    assert r["p95"] == 3.8


def test_rag_corpus_composition(spark):
    """The composed pipeline really chains: a doc that is a pure copy
    of an earlier doc is fully cut, so it yields no chunks; survivors
    chunk their CLEANED text."""
    from warctools_spark.plans.corpus import rag_corpus

    passage = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, passage), (1, passage), (2, "short doc only")],
        "doc_id long, text string",
    )
    rows = rag_corpus(
        docs, k=10, min_span_tokens=15, window=16, stride=8,
        min_chunk_tokens=2,
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 0 in by_doc            # first occurrence survives + chunks
    assert 1 not in by_doc        # exact copy fully removed
    assert by_doc[2][0]["chunk"] == "short doc only"
    # doc 0's chunks tile the cleaned (== original) 40 tokens
    covered = set()
    for r in by_doc[0]:
        covered.update(range(r["tok_start"], r["tok_start"] + r["n_tokens"]))
    assert covered == set(range(40))
