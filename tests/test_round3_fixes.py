"""Round-3 hardening tests: anti-join right side joined as-is (no
distinct), probe parallelism decoupled from n_buckets, HTTP/0.9
fallback wired into the engine dataflow, latin-1-only body filtering,
cuckoo inserts into empty buckets, embedding dims validation,
dup_clusters convergence contract, anchor-pair alignment, and the
pack_sequences single-materialization plan."""

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
    """dedup_against_seen itself (not a hand-built join) over two tables
    co-bucketed on url_sha1: storage-partitioned anti-join with no
    Exchange and no distinct aggregate."""
    from warctools_spark.operators.frontier import dedup_against_seen

    cand = spark.range(5000).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1"), "id"
    )
    seen = spark.range(0, 5000, 2).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    t1, t2 = "queue_r3", "seen_r3"
    for df, name in ((cand, t1), (seen, t2)):
        df.write.mode("overwrite").option("path", str(tmp_path / name)).bucketBy(
            8, "url_sha1"
        ).sortBy("url_sha1").saveAsTable(name)
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
# HTTP/0.9 payloads in the engine dataflow
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
    """An HTTP/0.9 payload (no status line) decodes through
    udf_decode_http as an incomplete 1.x response. The engine has no
    0.9 reading: no reference CLI calls as_http09 (messaging.py:696-738),
    and warc2warc keeps such a payload as is (next test)."""
    from warctools_spark.functions.udfs import udf_decode_http

    recs = _records_df(spark, tmp_path)
    strict = recs.withColumn(
        "http", udf_decode_http(F.col("content"))
    ).select("http.*").collect()[0]
    assert not strict["complete"]


def test_http09_warc2warc_operator(spark, tmp_path):
    from warctools_spark.operators.archive_ops import warc2warc_decode

    recs = _records_df(spark, tmp_path).cache()
    out = warc2warc_decode(recs).collect()[0]
    # no status line: -D keeps the payload; a 0.9 decode would give the
    # same bytes back as its message, so warc2warc has no 0.9 option
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
    """The corpus dims guards, driven through lsh_topk."""
    from warctools_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    # dims derives from the data and works
    assert lsh_topk(emb, [1.0, 1.0, 0.0]).count() > 0
    # the driver-side min/max scan ignores a null vector; the
    # executor-side _require_dims guard fails the job on it instead
    nulls = emb.union(spark.createDataFrame(
        [(6, None)], "vec_id long, embedding array<double>"))
    with pytest.raises(Exception) as ei:
        lsh_topk(nulls, [1.0, 1.0, 0.0]).collect()
    assert "not 3-dimensional (got size NULL)" in str(ei.value)


def test_lsh_topk_query_dims_mismatch_raises(spark):
    from warctools_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.1]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="query_vec has 3 dims"):
        lsh_topk(emb, [1.0, 0.5, 0.1])
    res = lsh_topk(emb, [1.0, 1.0, 0.5, 0.1])
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

    # a 52-edge chain needs 52 rounds, two more than the bound of 50
    pairs, verts = _chain(spark, 53)
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, verts)


def test_dup_clusters_chain_converges_with_enough_rounds(spark):
    from warctools_spark.operators.dedup import dup_clusters

    pairs, verts = _chain(spark, 17)
    # 16-edge chain: one hop of propagation per round needs 16 of
    # the 50 rounds; must complete without the non-convergence raise
    out = dup_clusters(pairs, verts)
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

    # eight tight blobs far apart; init ids 0..7 are one per blob, the
    # other members (ids 8..23) sit next to their blob's init vector
    rows = [(b, [10.0 * b, -10.0 * b]) for b in range(8)]
    rows += [(8 + 2 * b + j, [10.0 * b + 0.1 - 0.2 * j, -10.0 * b + 0.1])
             for b in range(8) for j in range(2)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb).collect()}
    assert got == {i: i if i < 8 else (i - 8) // 2 for i in range(24)}
    # partitioning-invariance: same assignment at any layout
    got16 = {r["vec_id"]: r["cluster"] for r in
             kmeans_assign(emb.repartition(16)).collect()}
    assert got == got16


def test_kmeans_assignment_is_jvm_only(spark):
    from warctools_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = kmeans_assign(emb)
    plan = _plan(out)
    # assignment must be pure Catalyst expressions: no Python eval,
    # no join, no shuffle in the final assignment pass
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_semdedup_drops_near_duplicates_within_cluster(spark):
    from warctools_spark.operators.similarity import semdedup_survivors

    import math

    # eight unit vectors 45 degrees apart (ids 0..7, the 8 init
    # centroids); near-copies of 0 (ids 8, 9) and of 1 (id 10); id 11
    # at 20 degrees lands in 0's cell with cosine 0.94 to it
    rows = [(i, [math.cos(i * math.pi / 4), math.sin(i * math.pi / 4)])
            for i in range(8)]
    rows += [(8, [0.999, 0.01]), (9, [0.998, -0.01]),
             (10, [0.71, 0.70]),
             (11, [math.cos(math.pi / 9), math.sin(math.pi / 9)])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    surv = {r["vec_id"] for r in
            semdedup_survivors(emb, threshold=0.95).collect()}
    # lowest id survives each near-dup group; near-copies are dropped
    assert 0 in surv and 8 not in surv and 9 not in surv
    assert 1 in surv and 10 not in surv
    # a vector below the threshold survives inside a dropped-from cell
    assert surv == set(range(8)) | {11}


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

    spans = duplicate_spans(_span_docs(spark), min_span_tokens=15).collect()
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
        _span_docs(spark), min_span_tokens=15).collect()}
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
    spans = duplicate_spans(docs, min_span_tokens=15).collect()
    # the second in-doc occurrence (positions 21..41) is flagged
    assert len(spans) == 1
    assert spans[0]["span_start"] == 21 and spans[0]["n_tokens"] == 20


def test_ragged_embedding_fails_job_not_silently(spark):
    """A wrong-length vector anywhere in the data must FAIL the job,
    not silently collapse into a zero bucket. dims derives via an
    order-independent min/max aggregate (r03 ADVICE), so a ragged
    column raises the same ValueError at ANY partition order."""
    from warctools_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged embedding column"):
        lsh_topk(emb, [1.0, 0.0, 0.0])


def test_dup_clusters_converging_exactly_at_max_iter_ok(spark):
    """Fixpoint reached on the final round must NOT raise: the
    post-loop verification pass distinguishes 'last change was the
    final one needed' from truncated propagation."""
    from warctools_spark.operators.dedup import dup_clusters

    # 51-node chain: round r propagates labels one hop; the last
    # change lands exactly on round 50, the bound
    pairs, verts = _chain(spark, 51)
    rows = dup_clusters(pairs, verts).collect()
    assert all(r["cluster_id"] == 0 for r in rows) and len(rows) == 51


def test_kmeans_pandas_mode_matches_expr_mode(spark):
    """kmeans_assign assigns with JVM expressions below 8*dims = 1024
    and with the Arrow GEMM from there on; at 128 dims the GEMM's
    clusters and distances equal the expression form's (the one
    ivf_kmeans_topk always uses)."""
    import random

    from warctools_spark.operators.similarity import _lloyd, kmeans_assign

    rng = random.Random(5)

    def blobs(dims):
        centers = [[rng.gauss(0, 1) for _ in range(dims)] for _ in range(8)]
        rows = [(i, [x + rng.gauss(0, 0.3) for x in centers[i % 8]])
                for i in range(120)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    small = kmeans_assign(blobs(127))
    assert "ArrowEvalPython" not in _plan(small)
    emb = blobs(128)
    big = kmeans_assign(emb)
    assert "ArrowEvalPython" in _plan(big)
    pa = {r["vec_id"]: (r["cluster"], r["dist"]) for r in big.collect()}
    assigned, _ = _lloyd(emb, "expr")
    ex = {r["vec_id"]: (r["cluster"], r["__d2"] ** 0.5) for r in assigned.collect()}
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
    """The exact Gram moments a ridge fit is solved from, in one
    aggregate."""
    from warctools_spark.operators.modeling import gram_moments

    rows = [(a, b, 2 + 3 * a - b) for a in range(6) for b in range(6)]
    df = spark.createDataFrame(rows, "a int, b int, y int")
    # exact integer sums of every column and pairwise product
    got = gram_moments(df, ["a", "b"], "y").collect()[0]
    assert got["n"] == len(rows)
    for i in range(3):
        assert got[f"s_{i}"] == sum(r[i] for r in rows)
        for j in range(i, 3):
            assert got[f"m_{i}_{j}"] == sum(r[i] * r[j] for r in rows)
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
    chunk their CLEANED text in 64-token windows every 32 tokens, and
    chunks under 8 tokens are dropped."""
    from warctools_spark.plans.corpus import rag_corpus

    passage = " ".join(f"w{i}" for i in range(100))
    ten = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(0, passage), (1, passage), (2, "short doc only"), (3, ten)],
        "doc_id long, text string",
    )
    rows = rag_corpus(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 0 in by_doc            # first occurrence survives + chunks
    assert 1 not in by_doc        # exact copy fully removed
    assert 2 not in by_doc        # 3 tokens: under the chunk minimum
    assert [r["chunk"] for r in by_doc[3]] == [ten]
    # doc 0's chunks tile the cleaned (== original) 100 tokens
    assert sorted(r["tok_start"] for r in by_doc[0]) == [0, 32, 64]
    covered = set()
    for r in by_doc[0]:
        covered.update(range(r["tok_start"], r["tok_start"] + r["n_tokens"]))
    assert covered == set(range(100))
