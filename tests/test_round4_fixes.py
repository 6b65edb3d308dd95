"""Round-4 fixes (VERDICT r03 brief):

#2 Bloom filter persisted through the catalog — resume restores the
   (bucket, bits) table instead of paying the O(|seen|) rebuild.
#4 pages canonical key computed once per crawl, not once per epoch.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from warctools_spark.operators import seen as SEEN
from warctools_spark.plans import epoch as epoch_mod
from warctools_spark.plans.catalog import Catalog
from warctools_spark.plans.epoch import (
    restore_bloom,
    resume_state,
    run_crawl,
)
from warctools_spark.sources.pages import synthesize_pages, url_for

K = 4


@pytest.fixture(scope="module")
def pages(spark):
    df = synthesize_pages(spark, SF_DIR).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def seed_df(spark):
    urls = [url_for(i) for i in range(0, 50, 7)]
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_bloom_persisted_and_restored(spark, pages, seed_df, tmp_path):
    """A resumed crawl restores the committed filter table: build_bloom
    is never called over the full seen set again — only per-epoch
    deltas — and crawl results are identical to an uninterrupted run."""
    cat = Catalog(str(tmp_path / "cat"), n_buckets=8)
    run_crawl(
        spark, pages, seed_df, epochs=2, k_per_host=K,
        catalog=cat, use_bloom=True,
    )
    manifest = cat.read_manifest(1)
    assert any(t["table"] == "bloom" for t in manifest["tables"])

    # the persisted filter must match the params run_crawl derives
    m_bits, k_hashes = SEEN.optimal_params(1 << 16, 0.01)
    restored = restore_bloom(spark, cat, m_bits, k_hashes, 32)
    assert restored is not None

    # simulate a NEW driver process resuming: count build_bloom calls
    e, queue, seen = resume_state(spark, cat)
    calls = []
    orig = SEEN.build_bloom

    def counting_build(df, **kw):
        calls.append(df)
        return orig(df, **kw)

    epoch_mod.SEEN.build_bloom = counting_build
    try:
        metrics = run_crawl(
            spark, pages, seed_df, epochs=1, k_per_host=K,
            catalog=cat, use_bloom=True,
            start_epoch=e + 1, initial_state=(queue, seen),
        )
    finally:
        epoch_mod.SEEN.build_bloom = orig
    # exactly ONE build_bloom call — the epoch-2 fresh-key delta; the
    # initial filter came from restore_bloom, so the seen set was
    # never re-scanned for a rebuild
    assert len(calls) == 1
    assert calls[0].columns == ["url_sha1"]

    # the resumed epoch must equal epoch 2 of an uninterrupted run
    cat_full = Catalog(str(tmp_path / "full"), n_buckets=8)
    metrics_full = run_crawl(
        spark, pages, seed_df, epochs=3, k_per_host=K,
        catalog=cat_full, use_bloom=True,
    )
    assert metrics[0]["scheduled"] == metrics_full[2]["scheduled"]
    assert metrics[0]["seen_size"] == metrics_full[2]["seen_size"]
    sched_a = sorted(
        r["canon_url"]
        for r in cat.read_table(spark, "schedule", 2)
        .select("canon_url").collect()
    )
    sched_b = sorted(
        r["canon_url"]
        for r in cat_full.read_table(spark, "schedule", 2)
        .select("canon_url").collect()
    )
    assert sched_a == sched_b


def test_bloom_restore_rejects_mismatched_params(spark, pages, seed_df, tmp_path):
    """Param drift (different m/k, i.e. capacity or fpr changed between
    runs) must force a rebuild, not a silent wrong-filter probe."""
    cat = Catalog(str(tmp_path / "cat"), n_buckets=8)
    run_crawl(
        spark, pages, seed_df, epochs=1, k_per_host=K,
        catalog=cat, use_bloom=True,
    )
    m_bits, k_hashes = SEEN.optimal_params(1 << 16, 0.01)
    assert restore_bloom(spark, cat, m_bits, k_hashes, 32) is not None
    assert restore_bloom(spark, cat, m_bits + 8, k_hashes, 32) is None
    assert restore_bloom(spark, cat, m_bits, k_hashes + 1, 32) is None
    assert restore_bloom(spark, cat, m_bits, k_hashes, 16) is None
    # catalog without bloom table (use_bloom=False run) -> None
    cat2 = Catalog(str(tmp_path / "nobloom"), n_buckets=8)
    run_crawl(spark, pages, seed_df, epochs=1, k_per_host=K, catalog=cat2)
    assert restore_bloom(spark, cat2, m_bits, k_hashes, 32) is None


def test_apply_robots_dedupes_duplicate_hosts(spark):
    """One-row-per-host contract (r03 ADVICE): a malformed robots
    table with duplicate host rows must not fan out frontier URLs —
    downstream seen-delta compaction unions WITHOUT distinct on the
    disjointness invariant. Survivor pick is deterministic
    (min-over-struct), not partition-order dependent."""
    from warctools_spark.operators.robots import apply_robots

    frontier = spark.createDataFrame(
        [("h1", "http://a.example.com/x", "a", 0)],
        "host string, canon_url string, url_sha1 string, depth int",
    )
    robots = spark.createDataFrame(
        [
            ("h1", 100, ["/x"], ["/x"], []),
            ("h1", 200, [], [], []),
        ],
        "host string, crawl_delay_ms int, disallow array<string>, "
        "allow array<string>, sitemaps array<string>",
    )
    out = apply_robots(frontier, robots)
    assert out.count() == 1  # no fan-out
    # deterministic survivor: the min struct (crawl_delay_ms=100)
    assert out.collect()[0]["crawl_delay_ms"] == 100
    rev = apply_robots(
        frontier, robots.orderBy(F.desc("crawl_delay_ms")).repartition(4)
    )
    assert rev.collect()[0]["crawl_delay_ms"] == 100


def test_inverted_index_default_is_skew_proof(spark):
    """r03 brief #3: the short name auto-segments. A synthetic
    stopword corpus ('the' in every doc, many times) must produce
    bounded per-group posting counts through the DEFAULT entry point —
    never the whole hot term in one aggregation buffer."""
    from warctools_spark.operators.text_analysis import (
        inverted_index,
        inverted_index_flat,
        inverted_index_segmented,
    )

    docs = spark.createDataFrame(
        [(i, "the alpha the beta the gamma the " + f"w{i}")
         for i in range(100)],
        "doc_id long, text string",
    )
    seg_rows = inverted_index(docs, segment_size=40).collect()
    hot = [r for r in seg_rows if r["term"] == "the"]
    assert len(hot) > 1  # the stopword really split
    assert all(r["n_postings"] <= 3 * 40 for r in hot)
    assert sum(r["n_postings"] for r in hot) == 400
    # default delegates exactly to the segmented implementation
    a = sorted(map(tuple, seg_rows))
    b = sorted(
        map(tuple, inverted_index_segmented(docs, segment_size=40).collect())
    )
    assert a == b
    # segment_size=None pins the flat one-row-per-term contract
    flat = {r["term"]: r for r in
            inverted_index(docs, segment_size=None).collect()}
    assert flat["the"]["n_postings"] == 400
    assert "segment" not in inverted_index_flat(docs).columns


def test_pages_canonicalized_once_per_crawl(spark, pages, seed_df, tmp_path):
    """run_crawl keys the pages corpus exactly once regardless of epoch
    count (r03 brief #4)."""
    calls = []
    orig = epoch_mod.key_pages

    def counting_key_pages(df):
        calls.append(1)
        return orig(df)

    epoch_mod.key_pages = counting_key_pages
    try:
        run_crawl(spark, pages, seed_df, epochs=3, k_per_host=K)
    finally:
        epoch_mod.key_pages = orig
    assert len(calls) == 1


def test_split_assign_deterministic_and_partition_invariant(spark):
    from warctools_spark.operators.sampling import split_assign

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["doc_id"]: r["split"]
         for r in split_assign(docs).select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"]
         for r in split_assign(docs.repartition(16))
         .select("doc_id", "split").collect()}
    assert a == b  # re-computation can never move a doc across splits
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    assert 0.8 < frac_train < 0.98


def test_bpe_pair_counts_semantics(spark):
    from warctools_spark.operators.text_analysis import bpe_pair_counts

    docs = spark.createDataFrame(
        [(0, "abab ab"), (1, "x abab")], "doc_id long, text string"
    )
    # 'abab' x2 -> pairs ab,ba,ab each; 'ab' -> ab; 'x' skipped (<2)
    rows = {r["pair"]: r["n"] for r in bpe_pair_counts(docs).collect()}
    assert rows == {"ab": 5, "ba": 2}
    # deterministic order: count desc, then pair asc
    ordered = [r["pair"] for r in bpe_pair_counts(docs).collect()]
    assert ordered == ["ab", "ba"]


def test_winnow_fingerprints_matches_reference_impl(spark):
    """Winnowing (Schleimer et al. 2003): per-window min with
    rightmost tie-break, validated against a direct single-node
    implementation of the paper's algorithm, plus the paper's core
    guarantee — any shared substring of length >= k+w-1 yields at
    least one shared fingerprint."""
    import hashlib
    import re

    from warctools_spark.operators.text_analysis import winnow_fingerprints

    k, w = 8, 4  # winnow_fingerprints' k-gram and window sizes
    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "THE  quick brown fox leaps over a sleepy cat",
        2: "a" * 15,  # degenerate: all k-grams identical (ties)
        3: "tiny",  # shorter than k: no fingerprints
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    rows = winnow_fingerprints(docs).collect()

    def ref(text):
        s = re.sub(r"\s+", " ", text.lower()).strip()
        grams = [
            (hashlib.md5(s[i:i + k].encode()).hexdigest(), -(i + 1))
            for i in range(len(s) - k + 1)
        ]
        sel = set()
        for j in range(max(len(grams) - w + 1, 1)):
            sel.add(min(grams[j:j + w]))
        return {(-neg, h) for h, neg in sel}

    for d, t in texts.items():
        got = {(r["pos"], r["fingerprint"]) for r in rows if r["doc_id"] == d}
        expect = ref(t) if len(t.strip()) >= k else set()
        assert got == expect, d
    # shared "quick brown fox ... over" substrings -> shared prints
    f0 = {r["fingerprint"] for r in rows if r["doc_id"] == 0}
    f1 = {r["fingerprint"] for r in rows if r["doc_id"] == 1}
    assert f0 & f1
    # the all-'a' doc: every window's rightmost-min is the same HASH
    # (one distinct fingerprint) at a sliding position per window
    f2 = [r for r in rows if r["doc_id"] == 2]
    assert len({r["fingerprint"] for r in f2}) == 1
    assert len(f2) == len({r["pos"] for r in f2}) == 5


def test_ivf_kmeans_topk_recall_and_exactness(spark):
    """kmeans-trained IVF ANN: probing 2 of 8 cells keeps high recall
    on the sf embeddings, and every returned score is the exact cosine
    (the rerank over the probed clusters' rows)."""
    from warctools_spark.operators.similarity import (
        brute_force_topk,
        cosine_to_query,
        ivf_kmeans_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(v) for v in
         emb.where(F.col("vec_id") == 0).select("embedding")
         .collect()[0][0]]
    exact = [(r["vec_id"], r["cosine"])
             for r in brute_force_topk(emb, q).collect()]
    approx = [(r["vec_id"], r["cosine"])
              for r in ivf_kmeans_topk(emb, q).collect()]
    assert approx[0] == exact[0] == (0, 1.0)  # the query's own cell
    recall = len({v for v, _ in exact} & {v for v, _ in approx}) / 10
    assert recall >= 0.8
    cos = {r["vec_id"]: round(r["cosine"], 6)
           for r in cosine_to_query(emb, q).collect()}
    assert all(c == cos[v] for v, c in approx)
    # query dim mismatch raises before any job runs
    with pytest.raises(ValueError, match="query_vec has"):
        ivf_kmeans_topk(emb, q[:-1])


def test_apply_robots_rfc9309_wildcards(spark):
    """RFC 9309 mode: `*` wildcards, `$` end anchors, specificity by
    pattern length, Allow wins length ties; default prefix mode is
    unchanged (reference-era semantics)."""
    from warctools_spark.operators.robots import _rfc9309_regex, apply_robots

    assert _rfc9309_regex("/p/*.php$") == r"^/p/.*\.php$"
    assert _rfc9309_regex("/a") == "^/a"

    def frontier_for(paths):
        return spark.createDataFrame(
            [("h", f"http://h{p}", f"s{i}", 0)
             for i, p in enumerate(paths)],
            "host string, canon_url string, url_sha1 string, depth int",
        )

    robots = spark.createDataFrame(
        [("h", 0, ["/private/*", "/*.pdf$"], ["/private/pub*"], [])],
        "host string, crawl_delay_ms int, disallow array<string>, "
        "allow array<string>, sitemaps array<string>",
    )
    paths = [
        "/private/secret.html",   # blocked by /private/*
        "/private/pub/x.html",    # allowed: /private/pub* longer
        "/docs/report.pdf",       # blocked by /*.pdf$
        "/docs/report.pdf.html",  # NOT blocked: $ anchors the end
        "/open/page.html",        # no rule -> allowed
    ]
    out = apply_robots(frontier_for(paths), robots, match_mode="rfc9309")
    kept = {r["canon_url"].replace("http://h", "")
            for r in out.select("canon_url").collect()}
    assert kept == {
        "/private/pub/x.html",
        "/docs/report.pdf.html",
        "/open/page.html",
    }
    # prefix mode ignores wildcard syntax (treats '*' literally)
    pref = apply_robots(frontier_for(paths), robots, match_mode="prefix")
    assert pref.count() == 5  # no literal '/private/*' prefix matches
    with pytest.raises(ValueError, match="unknown match_mode"):
        apply_robots(frontier_for(paths), robots, match_mode="nope")


def test_ngram_containment_detects_embedded_quote(spark):
    """Containment catches a short doc wholly embedded in a long one
    (C(a in b)=1.0) where Jaccard stays small — the asymmetric signal
    the drop-if-contained dedup policy needs."""
    from warctools_spark.operators.dedup import ngram_containment

    short = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(40))
    tail = " ".join(f"t{i}" for i in range(40))
    long = filler + " " + short + " " + tail
    docs = spark.createDataFrame(
        [(0, short), (1, long), (2, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2)], "id_a long, id_b long"
    )
    rows = {(r["id_a"], r["id_b"]): r
            for r in ngram_containment(docs, pairs).collect()}
    emb = rows[(0, 1)]
    assert emb["containment_a_in_b"] == 1.0  # fully embedded
    assert emb["containment_b_in_a"] < 0.3
    assert emb["jaccard"] < 0.3  # jaccard alone would miss it
    assert rows[(0, 2)]["containment_a_in_b"] == 0.0


def test_catalog_expire_snapshots_preserves_resume(spark, pages, seed_df, tmp_path):
    """Iceberg-style expire: old snapshots drop, but every path the
    surviving snapshots reference — including append-only seen deltas
    from EXPIRED epochs — survives, and resume is unchanged."""
    import os

    cat = Catalog(str(tmp_path / "cat"), n_buckets=8)
    run_crawl(
        spark, pages, seed_df, epochs=4, k_per_host=K,
        catalog=cat, use_bloom=True, compact_every=100,
    )
    e, queue_before, seen_before = resume_state(spark, cat)
    seen_rows = sorted(r["url_sha1"] for r in seen_before.collect())
    queue_rows = queue_before.count()

    res = cat.expire_snapshots(keep_last=2)
    assert res["expired_epochs"] == [0, 1]
    assert cat.list_epochs() == [2, 3]
    # epoch 0/1 schedule+queue dirs are gone...
    assert not os.path.exists(cat.table_path("schedule", 0))
    assert not os.path.exists(cat.table_path("queue", 1))
    # ...but their seen deltas survive (latest snapshot references them)
    assert os.path.exists(cat.table_path("seen_delta", 0))
    assert os.path.exists(cat.table_path("seen_delta", 1))

    e2, queue_after, seen_after = resume_state(spark, cat)
    assert e2 == e
    assert sorted(r["url_sha1"] for r in seen_after.collect()) == seen_rows
    assert queue_after.count() == queue_rows
    # idempotent / under-threshold no-op
    assert cat.expire_snapshots(keep_last=8) == {
        "expired_epochs": [], "deleted_dirs": []
    }


def test_bigram_logprob_semantics(spark):
    """Order sensitivity: a doc whose words appear in the corpus's
    common ORDER scores lower (more fluent) than the same words
    scrambled — the signal unigram_logprob cannot see."""
    import math

    from warctools_spark.operators.text_analysis import bigram_logprob

    docs = spark.createDataFrame(
        [
            (0, "the cat sat"),
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "cat the cat"),  # scrambled: rare transition cat->the
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    # corpus bigram counts: (the,cat)=4, (cat,sat)=2, (cat,ran)=1,
    # (cat,the)=1; prefix counts: the=4, cat=4
    # doc0 = mean(-ln(4/4), -ln(2/4)) = ln2 / 2
    expect0 = round(math.log(2) / 2, 4)
    assert rows[0]["mean_neg_logprob2"] == expect0
    assert rows[0]["n_bigrams"] == 2
    # doc3 = mean(-ln(1/4), -ln(4/4)) = ln4 / 2 — scrambled order
    # scores strictly worse despite identical unigram content
    assert rows[3]["mean_neg_logprob2"] == round(math.log(4) / 2, 4)
    assert rows[3]["mean_neg_logprob2"] > rows[0]["mean_neg_logprob2"]


def test_review_guards(spark, tmp_path):
    """Round-4 self-review fixes: expire refuses keep_last<1 (silent
    keep-everything footgun); IVF on empty input raises a clear error
    instead of bare StopIteration; split thresholds sit exactly on the
    documented boundaries."""
    from warctools_spark.operators.similarity import ivf_kmeans_topk

    cat = Catalog(str(tmp_path / "cat"), n_buckets=8)
    with pytest.raises(ValueError, match="keep_last"):
        cat.expire_snapshots(keep_last=0)

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no vectors"):
        ivf_kmeans_topk(empty, [1.0, 0.0])

    from warctools_spark.operators.sampling import split_assign

    # boundary doc: engine must classify u==0.95 as 'val' exactly like
    # the oracle's literal-0.95 threshold (no float-accumulation skew)
    docs = spark.createDataFrame([(1,)], "doc_id long")
    out = split_assign(docs)
    assert out.count() == 1  # runs; numeric boundary pinned by oracle


def test_winnow_match_scores_finds_quotes_and_gates_boilerplate(spark):
    from warctools_spark.operators.text_analysis import winnow_match_scores

    quote = "the quick brown fox jumps over the lazy dog tonight"
    boiler = "all rights reserved copyright footer text"
    rows = [
        (0, f"intro words here {quote} closing remarks {boiler}"),
        (1, f"different opening {quote} other ending {boiler}"),
        (2, f"totally unrelated content about something else {boiler}"),
        (3, "nothing in common with anything at all whatsoever"),
    ]
    # 100 more pages carry the footer: its fingerprints are then in
    # 103 docs, over the 100-doc gate, and are dropped
    rows += [(10 + i, f"{boiler} page{i:04d}") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnow_match_scores(docs).collect()}
    assert (0, 1) in pairs  # the shared quote produces >=3 prints
    assert not any(3 in p for p in pairs)
    # gated boilerplate: doc 2 shares only the footer, so pairs with no one
    assert not any(2 in p for p in pairs)
