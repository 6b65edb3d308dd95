"""Round-6 optimization equivalence tests: every operator whose
INTERNALS changed for speed must produce byte/row-identical results to
the round-5 formulation (the optimization round's correctness bar —
plans may change, answers may not)."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ---------------------------------------------------------- shingles / ngrams


def _r5_word_ngrams(col, n):
    """The round-5 sequence+slice formulation (reference)."""
    from warctools_spark.operators.text_analysis import tokens

    toks = tokens(col)
    if n == 1:
        return toks
    cnt = F.size(toks) - (n - 1)
    return F.when(
        cnt > 0,
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _r5_shingles(col, n=3):
    from warctools_spark.operators.dedup import normalized_text

    words = F.split(normalized_text(col), " ")
    k = F.size(words) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", words)))
    )


@pytest.mark.parametrize("n", [1, 2, 3, 5, 10])
def test_word_ngrams_zip_equals_r5(spark, n):
    from warctools_spark.operators.text_analysis import word_ngrams

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(9001, ""), (9002, "   "), (9003, "one"), (9004, "a b"),
             (9005, "x " * 3), (9006, None)],
            "doc_id long, text string",
        )
    )
    a = texts.select("doc_id", word_ngrams(F.col("text"), n).alias("g"))
    b = texts.select("doc_id", _r5_word_ngrams(F.col("text"), n).alias("g"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("n", [3, 13])
def test_shingles_zip_equals_r5(spark, n):
    from warctools_spark.operators.dedup import shingles

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(9001, ""), (9002, "  A  b "), (9003, "one two")],
            "doc_id long, text string",
        )
    )
    a = texts.select("doc_id", shingles(F.col("text"), n).alias("g"))
    b = texts.select("doc_id", _r5_shingles(F.col("text"), n).alias("g"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# ------------------------------------------------- restructured aggregations


def test_ngram_novelty_equals_r5_join_formulation(spark):
    from warctools_spark.operators.dedup import shingles
    from warctools_spark.operators.text_analysis import ngram_novelty

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = ngram_novelty(docs)
    # r5 reference: explode -> min-agg -> join back -> per-doc agg
    sh = docs.select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), 5)).alias("gram")
    )
    first = sh.groupBy("gram").agg(F.min("doc_id").alias("__first"))
    ref = (
        sh.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("__first") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id", "n_shingles", "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 4).alias("novelty"),
        )
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_duplicate_spans_repeated_only_filter_equals_r5(spark):
    from warctools_spark.operators.dedup import duplicate_spans
    from warctools_spark.operators.text_analysis import word_ngrams
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = duplicate_spans(docs, min_span_tokens=15)
    # r5 reference: unfiltered keeper table (join-back over every gram)
    grams = docs.select(
        "doc_id",
        F.posexplode(word_ngrams(F.col("text"), 10)).alias("pos", "gram"),
    )
    first = grams.groupBy("gram").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("first")
    )
    dups = (
        grams.join(first, "gram")
        .where(
            (F.col("first")["doc_id"] != F.col("doc_id"))
            | (F.col("first")["pos"] != F.col("pos"))
        )
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    marked = dups.withColumn("prev_end", F.max(F.col("pos") + 10).over(w)).withColumn(
        "new_island",
        F.when(
            F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")), 1
        ).otherwise(0),
    )
    w2 = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ref = (
        marked.withColumn("island", F.sum("new_island").over(w2))
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + 10).alias("span_end"))
        .withColumn("n_tokens", F.col("span_end") - F.col("span_start"))
        .where(F.col("n_tokens") >= 15)
        .select("doc_id", "span_start", "span_end", "n_tokens")
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_segment_dedup_left_join_equals_r5(spark):
    from warctools_spark.operators.dedup import segment_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = segment_dedup(docs)
    # r5 reference: inner join against the UNFILTERED keeper table
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_seg = F.ceil(F.size(toks) / F.lit(10)).cast("int")
    segs_arr = F.when(
        F.length(F.trim(F.col("text"))) > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = docs.select(F.col("doc_id"), F.posexplode(segs_arr).alias("pos", "seg"))
    keepers = segs.groupBy("seg").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("keeper")
    )
    kept = (
        segs.join(keepers, on="seg")
        .where(
            (F.col("keeper.doc_id") == F.col("doc_id"))
            & (F.col("keeper.pos") == F.col("pos"))
        )
        .select("doc_id", "pos", "seg")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    n_total = segs.groupBy("doc_id").agg(F.count("*").alias("n_segments"))
    ref = (
        docs.select("doc_id")
        .join(n_total, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


# ------------------------------------------------------------ bloom kernels


def _legacy_fold_bits(keys, m, k):
    from warctools_spark.operators.seen import _positions

    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    for h in keys:
        pos = _positions(h, k, m)
        np.bitwise_or.at(bits, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8)))
    return bits.tobytes()


def test_vectorized_bloom_build_bitsets_byte_identical(spark):
    import hashlib

    from warctools_spark.operators import seen as SEEN

    keys = [hashlib.sha1(b"k%d" % i).hexdigest() for i in range(5000)]
    df = spark.createDataFrame([(h,) for h in keys], "url_sha1 string")
    m, k = 1 << 16, 5
    got = {
        r["bucket"]: r["bits"]
        for r in SEEN.build_bloom(df, n_buckets=4, m_bits=m, k_hashes=k).collect()
    }
    # legacy per-key reference, same bucketing expression
    bucketed = df.select(
        F.pmod(F.xxhash64("url_sha1"), F.lit(4)).cast("int").alias("b"), "url_sha1"
    ).collect()
    per_bucket: dict = {}
    for r in bucketed:
        per_bucket.setdefault(r["b"], []).append(r["url_sha1"])
    for b, ks in per_bucket.items():
        assert got[b] == _legacy_fold_bits(ks, m, k), f"bucket {b} bitset differs"


def test_hex_halves_equals_per_key_parse():
    import hashlib

    from warctools_spark.operators.seen import _hex_halves

    keys = [hashlib.sha1(str(i).encode()).hexdigest() for i in range(1000)]
    h1, h2 = _hex_halves(keys)
    for i in (0, 1, 17, 999):
        assert h1[i] == int(keys[i][0:15], 16)
        assert h2[i] == (int(keys[i][15:30], 16) | 1)


def test_probe_batch_handles_none_and_odd_length_keys():
    import hashlib

    from warctools_spark.operators.seen import _probe_batch, _positions

    m, k = 1 << 14, 4
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    inserted = [hashlib.sha1(b"x%d" % i).hexdigest() for i in range(100)]
    short_key = "abcdef0123456789abcdef0123456789"  # 32 chars, legacy path
    for h in inserted + [short_key]:
        pos = _positions(h, k, m)
        np.bitwise_or.at(bits, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8)))
    probe = inserted[:5] + [None, short_key, hashlib.sha1(b"absent").hexdigest()]
    out = _probe_batch(bits, m, k, probe)
    assert list(out[:5]) == [True] * 5
    assert out[5] == False  # None -> definitively unseen  # noqa: E712
    assert out[6] == True  # non-40-char key still probes via legacy parse  # noqa: E712


def test_cuckoo_insert_batch_table_byte_identical():
    """r6: build_cuckoo/insert_into_cuckoo insert via insert_batch (one
    vectorized (fp, i1) parse). Table bytes must equal the per-key
    insert() fold for every regime: normal load, overflow (so kick
    chains and failure counts match), and the non-hex fallback."""
    import hashlib

    from warctools_spark.operators.cuckoo import CuckooFilter, _fp_i1_batch, _fp_index

    keys = sorted(hashlib.sha1(b"k%d" % i).hexdigest() for i in range(5000))
    # parse equality vs the per-key path
    fps, i1s = _fp_i1_batch(keys, 1 << 10)
    for i in (0, 1, 23, 4999):
        fp, i1 = _fp_index(keys[i], 1 << 10)
        assert (int(fps[i]), int(i1s[i])) == (fp, i1)

    # normal-load build (sized for the keys)
    a = CuckooFilter.sized_for(len(keys))
    b = CuckooFilter.sized_for(len(keys))
    failed_a = sum(0 if a.insert(h) else 1 for h in keys)
    failed_b = b.insert_batch(keys)
    assert failed_a == failed_b == 0
    assert a.to_bytes() == b.to_bytes()

    # over-full table: kicks + overflow counts must also match exactly
    c = CuckooFilter(64)
    d = CuckooFilter(64)
    failed_c = sum(0 if c.insert(h) else 1 for h in keys[:400])
    failed_d = d.insert_batch(keys[:400])
    assert failed_c == failed_d > 0
    assert c.to_bytes() == d.to_bytes()

    # a non-40-char key routes the batch through the exact legacy path
    odd = keys[:10] + ["abcdef0123456789abcdef0123456789"]  # 32 chars
    e = CuckooFilter(256)
    f = CuckooFilter(256)
    failed_e = sum(0 if e.insert(h) else 1 for h in odd)
    assert f.insert_batch(odd) == failed_e
    assert e.to_bytes() == f.to_bytes()


# ------------------------------------------------------------ flat harvest


def test_flat_harvest_equals_r5_struct_formulation(spark, tmp_path):
    """The mapInPandas flat-column harvest must emit exactly the rows
    of the r5 per-link formulation (link, canon_url, url_sha1, host),
    written as the SQL composition of extract_links with
    canonicalize_url, url_sha1 and url_host."""
    from warctools_spark.functions.sql import register_sql_functions
    from warctools_spark.operators.frontier import harvest_canonicalized
    from warctools_spark.sources.pages import synthesize_pages

    d = str(tmp_path / "pages")
    synthesize_pages(spark, SF_DIR).write.mode("overwrite").parquet(d)
    pages = spark.read.parquet(d)
    got = harvest_canonicalized(pages)
    register_sql_functions(spark)
    pages.createOrReplaceTempView("harvest_pages")
    ref = spark.sql(
        """
        SELECT src_url, link, canonicalize_url(link) AS canon_url,
               url_sha1(link) AS url_sha1, url_host(link) AS host
        FROM (SELECT url AS src_url, explode(extract_links(url, html)) AS link
              FROM harvest_pages)
        """
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    assert got.columns == ref.columns
    assert got.schema == ref.schema


# ------------------------------------------------------------- canon fastpath


def test_canon_parts_fast_equals_canon_parts():
    """The already-canonical fast path must return byte-identical
    (canon, sha1, host) for every URL shape — adversarial grid +
    random fuzz vs the exact urlparse-based implementation."""
    import random

    from warctools_spark.kernels.canon import canon_parts, canon_parts_fast

    rng = random.Random(5)
    hosts = ["example.com", "EXAMPLE.com", "a.b.c", "h0st-x.io",
             "ex.com:80", "ex.com:8080", "user@ex.com", "[::1]",
             "ex..com", "-"]
    paths = ["", "/", "/a/b.html", "/a//b", "/./x", "/../x", "/a/../b",
             "/a/.", "/a/b/", "/a;p", "/.well-known/x", "/a%20b",
             "/Ab", "/a b", "/a\tb", "/doc/5.html"]
    tails = ["", "?q=1", "?", "?a=1&b=2", "#frag", "?q=1#f", " ",
             "?q 1", "\n"]
    schemes = ["http://", "https://", "HTTP://", "ftp://", "",
               "http:/", "http//"]
    cases = [s + h + p + t for s in schemes for h in hosts
             for p in paths for t in tails]
    cases += ["http://ex.com", " http://x.com/", "http://ex.com/?",
              "http://ex.com/#", ""]
    alpha = "abcXYZ019.-/?#;%& \t:"
    for _ in range(20000):
        cases.append(
            "http://" + "".join(
                rng.choice(alpha) for _ in range(rng.randint(0, 25))
            )
        )
    for u in cases:
        assert canon_parts(u) == canon_parts_fast(u), repr(u)


# ------------------------------------------------------------ links fastpath


def test_strict_scan_differential_vs_r5_tiers():
    """extract_links must yield exactly what the plain HTMLParser
    collector produces, which is what the round-5 tiers produced:
    documents the strict whole-doc grammar accepts take its scan, and
    rejected ones go through that collector by construction."""
    from warctools_spark.kernels import links as L

    rng = random.Random(99)
    frags = [
        '<a href="x{}.html">', "<img src=i{}.png/>", "text{} ",
        "<div class='c{}'>", "</div>", '<base href="http://b{}.ex/">',
        '<meta content="0;url=m{}.html">', "&amp;",
        "<script>var x=1</script>", "<p a==b>", '<a href = "s{}.html" >',
        '<a href="g>t{}.html">', "<!-- c -->",
        '<a title="<a href=no{}.html>">', "<td background=bg{}.gif>",
        "</a&b>", '<a href=x{}.html"extra>', "<a href='q{}'>",
        "<A HREF=U{}.HTM>", '<form action="/f{}">', "< notag>", "<3",
        '<a\nhref=n{}.h>', "<a href>", '<a href="">',
        '<a href="a" class="b">', "<AREA HREF=ar{}.htm>",
        "<input src=btn{}.png>", "<object data=o{}.bin>",
        "<a  href\t=\tmix{}.html >", "<a href=v{} lowsrc=w{}>",
    ]
    for _ in range(1500):
        body = "".join(
            rng.choice(frags).format(rng.randint(0, 99), rng.randint(0, 99))
            for _ in range(rng.randint(1, 10))
        )
        base = "http://h.example/d/p.html"
        got = L.extract_links(base, body)
        c = L._LinkCollector(base)
        c.feed(body)
        c.close()
        ref = [x.translate(L._CTL_STRIP) for x in c.abs_links()]
        assert got == ref, body


def test_strict_doc_rejection_is_linear_time():
    import time

    from warctools_spark.kernels import links as L

    pathological = [
        "a" * 500000 + "&",
        ("<a href=x>" * 50000) + "'",
        "<div " + "x" * 300000 + "='y",
    ]
    for s in pathological:
        t0 = time.perf_counter()
        L._STRICT_DOC.fullmatch(s)
        assert time.perf_counter() - t0 < 0.5, "strict grammar backtracked"


# ------------------------------------------------------------ http gzip path


def test_gzip_length_fastpath_matches_gzipfile_semantics():
    import gzip as G
    from io import BytesIO
    from gzip import GzipFile

    from warctools_spark.kernels.http_decode import decode_http

    body = b"hello world " * 50
    gz = G.compress(body, mtime=0)
    cases = {
        "clean": gz,
        "multi": gz + gz,
        "trailing_junk": gz + b"JUNKJUNK",
        "truncated": gz[:-5],
        "not_gzip": b"plainbytes" * 10,
        "empty": b"",
        "header_only": gz[:10],
    }
    for name, raw in cases.items():
        head = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\nContent-Length: %d\r\n\r\n" % len(raw)
        )
        try:
            with GzipFile(fileobj=BytesIO(raw), mode="rb") as g:
                expected = g.read()
        except (OSError, EOFError):
            expected = raw  # legacy fallback: body = raw bytes
        res = decode_http(head + raw, kind="response")
        assert res.body == expected, name
