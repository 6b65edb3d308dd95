"""Training-data operator tests: dedup family (exact, MinHash LSH,
SimHash, Jaccard), similarity search (brute-force), text
analysis, robots gating on the frontier."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from warctools_spark.operators import dedup as D
from warctools_spark.operators import similarity as S
from warctools_spark.operators import text_analysis as TA


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    # append exact + near duplicates with known ids
    rows = base.collect()
    dup_rows = []
    for r in rows[:10]:
        dup_rows.append((10000 + r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"]))
    for r in rows[10:20]:
        # near-dup: swap one word
        words = r["text"].split(" ")
        words[len(words) // 2] = "MUTATED"
        dup_rows.append((20000 + r["doc_id"], " ".join(words), r["lang"], r["source"], r["n_chars"]))
    extra = spark.createDataFrame(
        dup_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    return base.unionByName(extra).cache()


def test_exact_dedup(docs_with_dups, spark):
    groups = D.exact_dedup(docs_with_dups)
    dups = groups.where(F.col("dup_count") > 1)
    assert dups.count() == 10
    # canonical is the lowest id (the original)
    assert dups.where(F.col("canonical_id") >= 10000).count() == 0
    survivors = D.exact_dedup_keep_first(docs_with_dups)
    assert survivors.count() == 120 - 10
    assert survivors.where(F.col("doc_id").between(10000, 19999)).count() == 0


def test_minhash_lsh_finds_dups(docs_with_dups):
    pairs = D.minhash_lsh_candidates(docs_with_dups, num_hashes=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every exact duplicate pair must collide in some band
    base_ids = [r["doc_id"] for r in docs_with_dups.where(F.col("doc_id") < 10000).limit(10).collect()]
    exact_pairs = {(i, 10000 + i) for i in range(min(base_ids), min(base_ids) + 1)}
    for a, b in exact_pairs:
        assert (a, b) in got
    # near-dups (1 word changed) should mostly collide in 4 bands of 2
    near_hits = sum(1 for (a, b) in got if 20000 <= b < 30000 and b - 20000 == a)
    assert near_hits >= 7


def test_jaccard_verify_stage(docs_with_dups):
    pairs = D.minhash_lsh_candidates(docs_with_dups, num_hashes=8)
    verified = D.ngram_jaccard(docs_with_dups, pairs)
    rows = verified.collect()
    assert rows
    exact = [r for r in rows if r["id_b"] == r["id_a"] + 10000]
    assert exact and all(r["jaccard"] == 1.0 for r in exact)
    near = [r for r in rows if r["id_b"] == r["id_a"] + 20000]
    assert near and all(0.3 < r["jaccard"] < 1.0 for r in near)


def test_simhash_near_dups_close(docs_with_dups):
    sims = docs_with_dups.select("doc_id", D.simhash60(F.col("text")).alias("h"))
    rows = {r["doc_id"]: r["h"] for r in sims.collect()}
    # exact dup -> identical simhash
    for base, dup in [(i, i + 10000) for i in rows if i < 100 and i + 10000 in rows]:
        assert rows[base] == rows[dup]
    # near dup -> small hamming distance
    def ham(a, b):
        return bin(a ^ b).count("1")

    near = [(i, i + 20000) for i in rows if i < 100 and i + 20000 in rows]
    assert near
    assert all(ham(rows[a], rows[b]) <= 12 for a, b in near)
    # unrelated docs -> large distance
    ids = sorted(i for i in rows if i < 100)
    far = [ham(rows[ids[i]], rows[ids[i + 1]]) for i in range(0, 20, 2)]
    assert sum(f > 12 for f in far) >= 8


def test_lsh_degenerate_bucket_capped(spark):
    """5k identical docs: without the cap this is 12.5M pairs in one
    task; with it the pair count is linear (star)."""
    n = 5000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated for every row").alias("text"),
    )
    got = D.minhash_lsh_candidates(docs, num_hashes=16).collect()
    # star pairing: every doc links to the hub (min id) once
    assert len(got) == n - 1
    assert all(r["id_a"] == 0 for r in got)


def test_hyperplane_lsh_recall(spark):
    """Clustered synthetic corpus: pairs sharing a banded hyperplane-LSH
    key must recall ≥90% of true cosine≥0.9 pairs found by brute
    force."""
    import math
    import random

    rng = random.Random(42)
    dims, n_clusters, per_cluster, n_noise = 64, 20, 5, 200
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = [rng.gauss(0, 1) for _ in range(dims)]
        for _ in range(per_cluster):
            v = [x + rng.gauss(0, 0.02) for x in center]
            rows.append((vid, v))
            vid += 1
    for _ in range(n_noise):
        rows.append((vid, [rng.gauss(0, 1) for _ in range(dims)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    vecs = dict(rows)
    truth = {
        (i, j)
        for i in vecs
        for j in vecs
        if i < j and cos(vecs[i], vecs[j]) >= 0.9
    }
    assert len(truth) >= n_clusters * (per_cluster * (per_cluster - 1) // 2) * 0.9

    keyed = emb.select(
        "vec_id",
        F.explode(D.hyperplane_band_keys("embedding", 4, 8, dims)).alias("k"),
    ).select("vec_id", "k.band", "k.band_key")
    a, b = keyed.alias("a"), keyed.alias("b")
    got = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, ["band", "band_key"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
        .collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_brute_force_vs_ivf_topk(spark):
    """The exact top-10 ranks the query vector itself first."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    q = [float(v) for v in emb.where(F.col("vec_id") == 3).collect()[0]["embedding"]]
    exact = S.brute_force_topk(emb, q).collect()
    assert len(exact) == 10
    assert exact[0]["vec_id"] == 3 and exact[0]["cosine"] == 1.0


def test_text_analysis_sanity(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    q = TA.quality_score(docs)
    rows = q.collect()
    assert all(0 <= r["quality_score"] <= 100 for r in rows)
    assert all(r["n_tokens"] > 0 for r in rows)
    langs = docs.select(TA.lang_id(F.col("text")).alias("l")).distinct().collect()
    assert {r["l"] for r in langs} <= {"en", "de", "fr", "es", "und"}
    fp = TA.doc_fingerprints(docs)
    assert fp.count() == 50
    assert fp.select("content_md5").distinct().count() == 50


def test_robots_frontier_gate(spark):
    from warctools_spark.operators.robots import apply_robots, parse_robots_table

    raw = spark.createDataFrame(
        [
            ("a.example", bytearray(b"User-agent: *\nDisallow: /private\nCrawl-delay: 1\n")),
            ("b.example", bytearray(b"User-agent: *\nDisallow: /\n")),
        ],
        "host string, robots_txt binary",
    )
    robots = parse_robots_table(raw)
    parsed = {r["host"]: r for r in robots.collect()}
    assert parsed["a.example"]["crawl_delay_ms"] == 1000
    assert parsed["b.example"]["disallow"] == ["/"]

    frontier = spark.createDataFrame(
        [
            ("a.example", "http://a.example/ok", "s1"),
            ("a.example", "http://a.example/private/x", "s2"),
            ("b.example", "http://b.example/anything", "s3"),
            ("c.example", "http://c.example/no-robots", "s4"),
        ],
        "host string, canon_url string, url_sha1 string",
    )
    allowed = apply_robots(frontier, robots)
    got = sorted(r["canon_url"] for r in allowed.collect())
    assert got == ["http://a.example/ok", "http://c.example/no-robots"]
    delays = {r["canon_url"]: r["crawl_delay_ms"] for r in allowed.collect()}
    assert delays["http://a.example/ok"] == 1000
    assert delays["http://c.example/no-robots"] == 0


def test_dup_clusters_connected_components(spark):
    """Chains resolve transitively to the min id; singletons cluster
    to themselves; star-capped pairs give identical clusters to
    all-pairs (same connectivity)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (9, 8)], "id_a long, id_b long"
    )
    verts = spark.range(1, 11).select(F.col("id").alias("doc_id"))
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dup_clusters(pairs, verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6, 7: 7, 8: 7, 9: 7, 10: 10}

    # a long chain needs multiple propagation rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 29)], "id_a long, id_b long"
    )
    verts2 = spark.range(20, 30).select(F.col("id").alias("doc_id"))
    got2 = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dup_clusters(chain, verts2).collect()
    }
    assert all(v == 20 for v in got2.values())


def test_prepare_training_corpus(spark):
    """Composed pipeline: gates prune, dedup keeps one per cluster,
    survivors carry their lang/quality columns."""
    from warctools_spark.plans.corpus import prepare_training_corpus

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = prepare_training_corpus(docs).cache()
    n_docs, n_out = docs.count(), out.count()
    assert 0 < n_out < n_docs
    rows = out.collect()
    assert all(r["quality_score"] >= 50 for r in rows)
    assert all(r["lang_pred"] == "en" for r in rows)
    # survivors are unique ids drawn from the corpus
    assert out.select("doc_id").distinct().count() == n_out


def test_write_training_shards(spark, tmp_path):
    """Range-sharded corpus output: contiguous id ranges, sorted
    within shard, all rows preserved."""
    from warctools_spark.plans.corpus import write_training_shards

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "shards")
    res = write_training_shards(docs, out, shards=4)
    assert res["rows"] == docs.count()

    import glob

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        ids = [r["doc_id"] for r in spark.read.parquet(f).collect()]
        assert ids == sorted(ids)  # sorted within shard
        ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # contiguous, non-overlapping id ranges


def test_dup_clusters_partitioning_invariance(spark):
    """Cluster assignment must not depend on physical layout: the same
    pair graph at 1 vs 16 input partitions yields identical labels."""
    import random

    rng = random.Random(3)
    pairs_data = [
        (rng.randrange(500), rng.randrange(500)) for _ in range(300)
    ]
    pairs_data = [(a, b) for a, b in pairs_data if a != b]
    verts = spark.range(500).select(F.col("id").alias("doc_id"))
    results = []
    for parts in (1, 16):
        pairs = spark.createDataFrame(
            pairs_data, "id_a long, id_b long"
        ).repartition(parts)
        got = sorted(
            (r["doc_id"], r["cluster_id"])
            for r in D.dup_clusters(pairs, verts.repartition(parts)).collect()
        )
        results.append(got)
    assert results[0] == results[1]


def test_decontaminate_flags_overlap(docs_with_dups, spark):
    """Exact duplicates of a benchmark doc are contaminated; unrelated
    docs are not."""
    bench = docs_with_dups.where(F.col("doc_id") < 5)
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in D.decontaminate(docs_with_dups, bench).collect()
    }
    for i in range(5):
        assert flags[i]  # benchmark docs flag themselves
        if 10000 + i in flags:
            assert flags[10000 + i]  # their exact copies too
    clean = [k for k, v in flags.items() if not v]
    assert len(clean) > 50  # most of the corpus is untouched


def test_scrub_pii(spark):
    from warctools_spark.operators.text_analysis import scrub_pii

    rows = spark.createDataFrame(
        [
            (1, "mail me at alice.smith+x@sub.example.co.uk today"),
            (2, "call +44 (0)20 7946-0958 now"),
            (3, "server at 192.168.001.255 port 80"),
            (4, "nothing sensitive here"),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: r["clean"]
        for r in rows.select(
            "id", scrub_pii(F.col("text")).alias("clean")
        ).collect()
    }
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "server at <IPV4> port 80"
    assert got[4] == "nothing sensitive here"


def test_repetition_features_handcrafted(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # 1 distinct token, top 2-gram "a a" x3
            (2, "a b c d"),          # no repetition at all
            (3, "x y x y x y"),      # alternating: 2-grams "x y" x3, "y x" x2
            (4, ""),                 # empty
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in TA.repetition_features(docs).collect()
    }
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["dup_token_frac"] == 0.75
    assert rows[1]["top_token_frac"] == 1.0
    assert rows[1]["dup_2gram_frac"] == pytest.approx(2 / 3)
    assert rows[1]["top_2gram_frac"] == 1.0
    assert rows[2]["dup_token_frac"] == 0.0
    assert rows[2]["top_token_frac"] == 0.25
    assert rows[2]["dup_2gram_frac"] == 0.0
    assert rows[3]["n_tokens"] == 6
    assert rows[3]["dup_token_frac"] == pytest.approx(1 - 2 / 6)
    assert rows[3]["top_2gram_frac"] == 0.6  # "x y" 3 of 5
    assert rows[4]["n_tokens"] == 0
    assert rows[4]["dup_token_frac"] == 0.0


def test_segment_dedup_window_mode_reassembly_order(spark):
    # 25 tokens -> 3 windows of k=10,10,5; all unique -> text unchanged
    text = " ".join(f"w{i}" for i in range(25))
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    row = D.segment_dedup(docs).collect()[0]
    assert row["clean_text"] == text
    assert row["n_segments"] == 3 and row["n_kept"] == 3


def test_stratified_sample_partitioning_invariant(spark):
    """Membership is a pure function of (seed, id) — identical sets
    at 2 and 16 partitions (df.sample would differ)."""
    from warctools_spark.operators.sampling import mix_report, stratified_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fr = {"src0": 1.0, "src1": 0.5, "src5": 0.2}
    a = set(
        r["doc_id"]
        for r in stratified_sample(docs.repartition(2), fr).collect()
    )
    b = set(
        r["doc_id"]
        for r in stratified_sample(docs.repartition(16), fr).collect()
    )
    assert a == b and len(a) > 0
    # src0 fraction 1.0 keeps everything; absent strata drop to zero
    rep = {
        r["source"]: r
        for r in mix_report(docs, stratified_sample(docs, fr)).collect()
    }
    assert rep["src0"]["achieved_frac"] == 1.0
    assert rep["src9"]["n_sampled"] == 0


def test_wet_conversion_records(spark):
    from warctools_spark.kernels.warc_parse import parse_archive
    from warctools_spark.operators.archive_ops import wet_conversion
    from warctools_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, SF_DIR).limit(5)
    rows = wet_conversion(pages).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["rec_type"] == "conversion"
        assert r["refers_to"].startswith("<urn:uuid:")
        # the serialized record reparses clean and carries the payload
        (rec,) = parse_archive(bytes(r["record_bytes"]), fmt="warc")
        assert not rec.errors
        assert rec.content_length == r["content_length"]
        assert rec.get_header(b"Content-Type") == b"text/plain"


def test_gopher_gate_reasons(spark):
    from warctools_spark.operators.text_analysis import gopher_gate

    docs = spark.createDataFrame(
        [
            (1, "a a a a a a a a a a"),        # repetitive tokens + 2grams
            (2, "one two"),                     # too short
            (3, " ".join(f"w{i}" for i in range(40))),  # clean
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_gate(docs).collect()}
    assert "repetitive_tokens" in out[1]["drop_reasons"]
    assert "repetitive_2grams" in out[1]["drop_reasons"]
    # a 2-token doc's single 2-gram is trivially 100% -> both fire
    assert out[2]["drop_reasons"] == "too_short,repetitive_2grams"
    assert out[3]["keep"] and out[3]["drop_reasons"] == ""


def test_sitemap_seeds_extraction(spark):
    from warctools_spark.operators.frontier import sitemap_seeds

    pages = spark.createDataFrame(
        [
            ("http://a.example/sitemap.xml",
             '<?xml version="1.0"?><urlset><url><loc>http://a.example/1</loc>'
             "</url><url><loc>http://a.example/2</loc></url></urlset>"),
            ("http://a.example/page.html", "<html>not a sitemap</html>"),
            ("http://b.example/sitemap_index.xml",
             "<sitemapindex><sitemap><loc>http://b.example/sm1.xml</loc>"
             "</sitemap></sitemapindex>"),
            ("http://c.example/sitemap.xml",
             "<urlset><url><loc>http://c.example/p?x=1&amp;y=2</loc></url>"
             "<url><loc>\n  http://c.example/q  \n</loc></url></urlset>"),
        ],
        "url string, body string",
    )
    rows = {(r["sitemap_url"], r["seed_url"]) for r in sitemap_seeds(pages).collect()}
    assert rows == {
        ("http://a.example/sitemap.xml", "http://a.example/1"),
        ("http://a.example/sitemap.xml", "http://a.example/2"),
        ("http://b.example/sitemap_index.xml", "http://b.example/sm1.xml"),
        ("http://c.example/sitemap.xml", "http://c.example/p?x=1&y=2"),
        ("http://c.example/sitemap.xml", "http://c.example/q"),
    }


def test_fixed_n_sample_exact_counts_and_stability(spark):
    from warctools_spark.operators.sampling import fixed_n_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = fixed_n_sample(docs.repartition(3), 4)
    b = fixed_n_sample(docs.repartition(13), 4)
    ca = a.groupBy("source").count().collect()
    assert all(r["count"] == 4 for r in ca) and len(ca) == 20
    assert set(r["doc_id"] for r in a.collect()) == set(
        r["doc_id"] for r in b.collect()
    )


def test_discover_sitemap_seeds_from_wire_pages(spark):
    from warctools_spark.operators.frontier import discover_sitemap_seeds

    xml = (b'<?xml version="1.0"?><urlset>'
           b"<url><loc>http://s.example/a</loc></url>"
           b"<url><loc>http://s.example/b</loc></url></urlset>")
    wire = (b"HTTP/1.1 200 OK\r\nContent-Type: application/xml\r\n"
            b"Content-Length: " + str(len(xml)).encode() + b"\r\n\r\n" + xml)
    html = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: 12\r\n\r\n<html></html>"[:64])
    pages = spark.createDataFrame(
        [("http://s.example/sitemap.xml", bytearray(wire)),
         ("http://s.example/p.html", bytearray(html))],
        "url string, html binary",
    )
    got = {(r["sitemap_url"], r["seed_url"])
           for r in discover_sitemap_seeds(pages).collect()}
    assert got == {
        ("http://s.example/sitemap.xml", "http://s.example/a"),
        ("http://s.example/sitemap.xml", "http://s.example/b"),
    }


def test_pack_sequences_partitioning_invariant(spark):
    """The two-phase distributed prefix sum equals the logical global
    ORDER BY doc_id scan however the input is partitioned (the range
    bounds come from a per-partition sample of it)."""
    from warctools_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["doc_id"]: (r["tok_start"], r["seq_first"], r["seq_last"])
         for r in pack_sequences(docs.repartition(2), seq_len=64).collect()}
    b = {r["doc_id"]: (r["tok_start"], r["seq_first"], r["seq_last"])
         for r in pack_sequences(docs.repartition(17), seq_len=64).collect()}
    assert a == b
    # offsets are a prefix sum: contiguous, starting at 0
    ordered = [a[k] for k in sorted(a)]
    assert ordered[0][0] == 0
    rows = {r["doc_id"]: r for r in pack_sequences(docs.repartition(5), seq_len=64).collect()}
    ids = sorted(rows)
    for prev, nxt in zip(ids, ids[1:]):
        assert rows[nxt]["tok_start"] == rows[prev]["tok_start"] + rows[prev]["n_tokens"]


def test_lsh_topk_recall_vs_bruteforce(spark):
    """Banded-hyperplane ANN probe: on the clustered corpus, 4 of the
    exact top 5 neighbors of an in-cluster query are in the ANN top 10,
    and every returned score is the exact cosine (rerank stage)."""
    import random

    rng = random.Random(7)
    dims = 64
    rows = []
    vid = 0
    for c in range(10):
        center = [rng.gauss(0, 1) for _ in range(dims)]
        for _ in range(6):
            rows.append((vid, [x + rng.gauss(0, 0.02) for x in center]))
            vid += 1
    for _ in range(300):
        rows.append((vid, [rng.gauss(0, 1) for _ in range(dims)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[0][1]
    exact = [r["vec_id"] for r in S.brute_force_topk(emb, q).collect()][:5]
    approx = {r["vec_id"]: r["cosine"] for r in S.lsh_topk(emb, q).collect()}
    assert rows[0][0] in approx  # the query vector itself is recalled
    assert len(set(exact) & set(approx)) >= 4


def test_strip_boilerplate_drops_chrome_keeps_content(spark):
    html = (
        "<html><head><title>T</title><style>p{color:red}</style>"
        "<script>var x=1;</script></head><body><nav>menu a b</nav>"
        "<p>real &amp; useful &lt;content&gt;</p>"
        "<!-- hidden comment --><footer>c 2020</footer></body></html>"
    )
    docs = spark.createDataFrame([(1, html)], "doc_id long, text string")
    row = docs.select(
        TA.strip_boilerplate(F.col("text")).alias("t")
    ).collect()[0]
    assert row["t"] == 'T real & useful <content>'


def test_skew_report_flags_hot_key(spark):
    from warctools_spark.operators.sampling import skew_report

    df = spark.range(1000).select(
        F.when(F.col("id") < 900, "hot").otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("key")
    )
    top = skew_report(df, "key", top_k=3).collect()
    assert top[0]["key"] == "hot"
    assert top[0]["row_share"] == 0.9
    # 101 distinct keys, uniform would be ~9.9 rows; hot has 900
    assert top[0]["max_over_uniform"] > 80
