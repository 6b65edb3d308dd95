"""Text analysis operators for training-data pipelines: language-ID
heuristic, quality scoring, token counting, document fingerprinting.

Everything is JVM-side built-in expressions (split/regexp/aggregate) —
no Python in the scan path — and every metric is integer-count based
(ratios are exact int/int divisions) so the DuckDB oracle reproduces
values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword signatures for the n-gram/stopword
# language heuristic — deliberately small + deterministic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "por"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, 0).otherwise(F.size(tokens(col)))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish sub-word unit count: word pieces + digits + punctuation
    as separate units (a regex proxy for tokenizer cost estimation)."""
    pieces = F.regexp_extract_all(
        col, F.lit(r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"), F.lit(0)
    )
    return F.size(pieces)


def stopword_hits(col: Column, words: list[str]) -> Column:
    toks = tokens(F.lower(col))
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(col: Column) -> Column:
    """argmax language by stopword hit count; 'und' when no signature
    fires. Deterministic tiebreak: language code ascending."""
    scores = [
        (code, stopword_hits(col, words))
        for code, words in sorted(LANG_STOPWORDS.items())
    ]
    best = F.lit("und")
    best_score = F.lit(0)
    for code, score in scores:
        take = score > best_score
        best = F.when(take, F.lit(code)).otherwise(best)
        best_score = F.when(take, score).otherwise(best_score)
    return best


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition features per doc —
    the standard web-text quality gates."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tok = token_count(c)
    return docs.withColumns(
        {
            "n_chars2": F.length(c),
            "n_tokens": n_tok,
            "n_punct": F.size(
                F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0))
            ),
            "n_digits": F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), F.lit(0))),
            "n_stopwords_en": stopword_hits(c, LANG_STOPWORDS["en"]),
            "n_distinct_tokens": F.size(F.array_distinct(toks)),
            "mean_token_len": F.when(
                n_tok > 0,
                F.aggregate(
                    toks, F.lit(0), lambda acc, t: acc + F.length(t)
                )
                / n_tok,
            ).otherwise(F.lit(0.0)),
        }
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0..100 quality score from integer features (exact
    arithmetic; oracle-replayable)."""
    feats = quality_features(docs, text_col)
    rep_ratio = F.col("n_distinct_tokens") / F.greatest(F.col("n_tokens"), F.lit(1))
    stop_ratio = F.col("n_stopwords_en") / F.greatest(F.col("n_tokens"), F.lit(1))
    punct_ratio = F.col("n_punct") / F.greatest(F.col("n_chars2"), F.lit(1))
    score = (
        F.least(F.col("n_tokens"), F.lit(100)) * 0.3
        + rep_ratio * 30
        + stop_ratio * 100 * 0.2
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 20
    )
    return feats.withColumn("quality_score", F.round(score, 4))


def fingerprint(col: Column, k: int = 8, prenormalized: bool = False) -> Column:
    """Rolling-window document fingerprint: min-md5 over character
    k-gram windows (winnowing-style selection of 1 hash), plus the
    full-content md5 — both engine-agnostic.

    prenormalized=True expects `col` to already be the normalized
    text — pass an ATTRIBUTE (a projected column), not the normalize
    expression itself: inlined in the per-position lambda the
    whole-document regexp would re-run once per character gram
    (quadratic in doc length; see the word_ngrams r6 note)."""
    norm = col if prenormalized else F.trim(
        F.regexp_replace(F.lower(col), r"\s+", " ")
    )
    n = F.length(norm) - (k - 1)
    grams = F.when(
        n > 0,
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(norm, i, k)),
    ).otherwise(F.array(norm))
    return F.array_min(F.transform(grams, F.md5))


def doc_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    # hoist the normalized text into a projected column: inlined in
    # fingerprint()'s per-position lambda the whole-document regexp
    # normalize would re-run once PER CHARACTER GRAM (the §word_ngrams
    # r6 lesson, quadratic in doc length here)
    normed = docs.select(
        F.col(id_col), normalize(F.col(text_col)).alias("__norm")
    )
    return normed.select(
        F.col(id_col),
        F.md5(F.col("__norm")).alias("content_md5"),
        fingerprint(F.col("__norm"), prenormalized=True).alias(
            "min_kgram_md5"
        ),
    )


def normalize(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def token_frequencies(
    docs: DataFrame, text_col: str = "text", top_k: int | None = None
) -> DataFrame:
    """Global token frequency table (corpus statistics for tokenizer
    training / vocabulary audits): explode normalized whitespace
    tokens, one hash-agg count with map-side partial aggregation —
    the shuffle carries one row per distinct token per task, not one
    per occurrence. Optional exact global top-k via
    TakeOrderedAndProject (no full sort)."""
    toks = docs.select(
        F.explode(tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    if top_k:
        return counts.orderBy(F.col("n").desc(), F.col("token")).limit(top_k)
    return counts


# Conservative, engine-portable PII patterns (no lookarounds /
# backreferences, so Java regex and RE2 agree character-for-character)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "phone": r"\+?[0-9][0-9()\-\. ]{7,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def scrub_pii(col: Column, kinds: tuple = ("email", "ipv4", "phone")) -> Column:
    """Redact PII spans with <KIND> placeholders — the standard
    pre-training scrub pass; pure JVM regexp_replace chain, applied in
    a fixed order so overlapping matches resolve deterministically
    (ipv4 before phone: the phone charset includes digits and dots, so
    it would otherwise swallow IP addresses)."""
    out = col
    for kind in kinds:
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], "<%s>" % kind.upper()
        )
    return out


def word_ngrams(col: Column, n: int) -> Column:
    """Consecutive word n-grams (space-joined) of whitespace tokens.
    n=1 is the token array itself; otherwise an arrays_zip of the n
    shifted slices, concatenated per zipped element — entirely
    JVM-side.

    Formulation note (r6): the obvious `transform(sequence(1, cnt),
    i -> concat_ws(" ", slice(toks, i, n)))` re-evaluates `toks` — the
    whole split() — PER ELEMENT, because the token array appears in
    the lambda body rather than as the higher-order function's input
    (the winnowing docstring documents the same Catalyst behavior).
    zip-of-slices evaluates each slice once per row and the lambda
    touches only the zipped struct fields: measured 1.86s -> 0.87s
    for the 10-gram explode of 50k docs at sf1.0, byte-identical
    output."""
    toks = tokens(col)
    if n == 1:
        return toks
    cnt = F.size(toks) - (n - 1)
    z = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(n)])
    return F.when(
        cnt > 0,
        F.transform(
            z,
            lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality gates (Rae et al. 2021 §A1.1):
    per-document fraction of tokens that are repeats, fraction taken
    by the single most frequent token, and the same two measures over
    word 2-grams. Degenerate machine-generated/boilerplate pages spike
    on all four.

    Plan shape: explode n-grams -> count per (doc, gram) -> per-doc
    max/sum/count. Both aggregations are hash aggs with map-side
    partial combine, and because each document's grams start on one
    row (one input split), the (doc, gram) partial agg collapses
    within-doc repeats BEFORE the shuffle — shuffle volume is distinct
    grams per doc, not total tokens. Linear at 100 TB; no windows, no
    skew (gram cardinality is huge and hashed)."""

    def stats(n: int, prefix: str) -> DataFrame:
        rows = docs.select(
            F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("g")
        ).where(F.col("g") != "")
        per_gram = rows.groupBy(id_col, "g").agg(F.count("*").alias("c"))
        return per_gram.groupBy(id_col).agg(
            F.sum("c").alias(f"{prefix}_total"),
            F.count("*").alias(f"{prefix}_distinct"),
            F.max("c").alias(f"{prefix}_top"),
        )

    t1, t2 = stats(1, "t1"), stats(2, "t2")
    base = docs.select(id_col)
    out = base.join(t1, id_col, "left").join(t2, id_col, "left")
    tot1 = F.greatest(F.coalesce("t1_total", F.lit(0)), F.lit(1))
    tot2 = F.greatest(F.coalesce("t2_total", F.lit(0)), F.lit(1))

    def frac(expr: Column, total_col: str) -> Column:
        # empty docs (no grams at all) score 0, not 1
        return F.round(
            F.when(F.coalesce(total_col, F.lit(0)) > 0, expr).otherwise(0.0), 6
        )

    return out.select(
        id_col,
        F.coalesce("t1_total", F.lit(0)).alias("n_tokens"),
        frac(
            1 - F.coalesce("t1_distinct", F.lit(0)) / tot1, "t1_total"
        ).alias("dup_token_frac"),
        frac(
            F.coalesce("t1_top", F.lit(0)) / tot1, "t1_total"
        ).alias("top_token_frac"),
        frac(
            1 - F.coalesce("t2_distinct", F.lit(0)) / tot2, "t2_total"
        ).alias("dup_2gram_frac"),
        frac(
            F.coalesce("t2_top", F.lit(0)) / tot2, "t2_total"
        ).alias("top_2gram_frac"),
    )


def gopher_gate(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Composed Gopher-style document gate (Rae et al. 2021 Table A1):
    length + repetition thresholds folded into a keep/drop decision
    with machine-readable reasons. Same plan shape as
    repetition_features (it is that plan plus a projection)."""
    feats = repetition_features(docs, text_col=text_col, id_col=id_col)
    reasons = F.concat_ws(
        ",",
        F.filter(
            F.array(
                F.when(F.col("n_tokens") < 5, F.lit("too_short")),
                F.when(
                    F.col("dup_token_frac") > 0.8, F.lit("repetitive_tokens")
                ),
                F.when(
                    F.col("top_2gram_frac") > 0.2, F.lit("repetitive_2grams")
                ),
            ),
            lambda r: r.isNotNull(),
        ),
    )
    return feats.select(
        id_col,
        reasons.alias("drop_reasons"),
    ).withColumn("keep", F.col("drop_reasons") == "")


def strip_boilerplate(col: Column) -> Column:
    """Boilerplate removal (readability-lite): drop script/style/
    template-chrome blocks, strip tags, unescape the common entities,
    collapse whitespace — the standard pre-training HTML-to-text
    cleanup. Pure regexp_replace chain ((?s) dotall + non-greedy work
    identically in Java regex and RE2, so the oracle replays it
    character-for-character); no Python in the path."""
    out = col
    for tag in ("script", "style", "nav", "header", "footer", "aside"):
        out = F.regexp_replace(
            out, f"(?si)<{tag}[^>]*>.*?</{tag}>", " "
        )
    out = F.regexp_replace(out, "(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, "<[^>]*>", " ")
    for ent, rep in (
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
    ):
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def ngram_frequencies(
    docs: DataFrame,
    n: int = 2,
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """Global word n-gram frequency table (vocabulary induction /
    merge-candidate mining for tokenizer training) — same plan shape
    as token_frequencies: explode, one map-side-combined hash agg,
    exact top-k via TakeOrderedAndProject."""
    grams = docs.select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    ).where(F.col("gram") != "")
    counts = grams.groupBy("gram").agg(F.count("*").alias("n"))
    if top_k:
        return counts.orderBy(F.col("n").desc(), F.col("gram")).limit(top_k)
    return counts


def anchor_text_pairs(
    df: DataFrame, text, url_col: str = "url"
) -> DataFrame:
    """(src_url, link, anchor) pairs from simple HTML anchors.

    The whole <a ...>...</a> element is extracted in ONE regex pass
    and href/anchor are pulled from the SAME match, so a tag that
    would match an href-only pattern but not an anchor pattern (e.g.
    nested markup: <a href=x>a <b>b</b></a>) can never shift later
    (link, anchor) pairs out of alignment — it is simply skipped.
    Messy/nested HTML belongs to the link kernel (kernels/links.py);
    this is the JVM-only fast path for well-formed anchors.

    `text` may be a column name or a Column (e.g. a udf output)."""
    if isinstance(text, str):
        text = F.col(text)
    elems = F.regexp_extract_all(
        text, F.lit('(<a href="[^"]*"[^>]*>[^<]*</a>)'), F.lit(1)
    )
    return (
        df.select(
            F.col(url_col).alias("src_url"), F.explode(elems).alias("e")
        )
        .select(
            "src_url",
            F.regexp_extract("e", '<a href="([^"]*)"', 1).alias("link"),
            F.regexp_extract("e", ">([^<]*)</a>", 1).alias("anchor"),
        )
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF — the classic relevance
    signal for corpus exploration / keyword indexing over a crawl.

    score(term, doc) = tf * ln(N / df), df = #docs containing term.

    Plan shape at corpus scale: explode -> (doc, term) hash agg with
    map-side combine (shuffle carries distinct doc-terms, not token
    occurrences) -> vocab-sized df agg over those rows -> one join on
    term (AQE broadcasts when the vocab fits) -> per-doc top-k via a
    ranking window, which Spark 4 executes as WindowGroupLimit (<= k
    rows per doc leave each map task). Ties break on term ascending;
    (tf, df) ties produce bit-equal scores in any engine, so the
    ordering is deterministic and oracle-checkable."""
    from pyspark.sql import Window

    if n_docs is None:
        n_docs = docs.select(id_col).distinct().count()
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    score = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy(id_col).orderBy(
        score.desc(), F.col("term").asc()
    )
    return (
        tf.join(df, "term")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(score, 6).alias("score"),
        )
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    segment_size: int | None = 100_000,
) -> DataFrame:
    """Positional inverted index — DEFAULT entry point is the
    skew-proof segmented build (r03 brief #3): a stopword-grade term
    whose postings exceed `segment_size` splits into (term, segment)
    rows, so no single term can serialize one aggregation task with a
    10^9-entry posting list at 100 TB. Pass segment_size=None for the
    flat one-row-per-term variant (inverted_index_flat) when the
    corpus is known small or a single-row-per-term contract is
    required."""
    if segment_size is None:
        return inverted_index_flat(
            docs, text_col=text_col, id_col=id_col, min_df=min_df
        )
    return inverted_index_segmented(
        docs,
        segment_size=segment_size,
        text_col=text_col,
        id_col=id_col,
        min_df=min_df,
    )


def inverted_index_flat(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Flat positional inverted index: one row per term with its
    ordered posting list "doc:pos,doc:pos,..." and document
    frequency — the search-index build step over a crawl.

    Plan shape: posexplode (token positions) -> one hash agg per term
    with map-side partial aggregation; postings are sorted IN the
    aggregate expression (sort_array over collected structs), so the
    output is deterministic at any parallelism. Postings serialize as
    a string so the oracle comparison is engine-neutral. At 100 TB the
    shuffle carries (term, doc, pos) triples once — but per-term skew
    (stopwords) lands a whole posting list in ONE aggregation buffer,
    which is why the segmented build is the default `inverted_index`
    entry point; this variant is for small corpora or strict
    one-row-per-term consumers."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    ).where(F.col("term") != "")
    agg = toks.groupBy("term").agg(
        F.count("*").alias("n_postings"),
        F.countDistinct(id_col).alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col(id_col), F.col("pos")))
                ),
                lambda s: F.concat_ws(":", s[id_col].cast("string"),
                                      s["pos"].cast("string")),
            ),
            ",",
        ).alias("postings"),
    )
    return agg.where(F.col("df") >= min_df)


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    total_tokens: int | None = None,
) -> DataFrame:
    """Per-document mean unigram negative log-probability under the
    corpus's own unigram model — the CCNet-style fluency/quality proxy
    (a document of globally-rare tokens scores high = unusual; boiler-
    plate scores low). score(doc) = mean over tokens of
    -ln(count(token) / T), T = corpus token count.

    Plan: one global token-frequency agg (map-side combined), one join
    of doc tokens against the vocab table (AQE broadcasts when the
    vocab fits), one per-doc avg agg. Every count is exact, the only
    float is the final ln/avg (rounded for oracle comparison)."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    freq = toks.groupBy("token").agg(F.count("*").alias("n"))
    if total_tokens is None:
        # lazy total: sum the (small) vocab table and broadcast the
        # single row — no extra eager pass over the corpus
        total = F.broadcast(
            freq.agg(F.sum("n").cast("double").alias("__T"))
        )
    else:
        total = F.broadcast(
            docs.sparkSession.range(1).select(
                F.lit(float(total_tokens)).alias("__T")
            )
        )
    neg_lp = -F.log(F.col("n") / F.col("__T"))
    # round to 4: the avg sums doubles in partition order, so the last
    # ~1e-11 is nondeterministic — 1e-4 is far above the noise floor
    # and ample for quality gating
    return (
        toks.join(freq, "token")
        .crossJoin(total)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(neg_lp), 4).alias("mean_neg_logprob"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 256,
    stride: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking — the context-window prep stage
    for RAG indexing / long-document training: each doc becomes
    ceil(max(n-window,0)/stride)+1 overlapping chunks of up to
    `window` tokens starting every `stride` tokens.

    Pure Catalyst (sequence -> transform/slice -> explode): no Python,
    no shuffle — chunking is embarrassingly parallel over the scan,
    and the explode multiplies rows ~n/stride with columnar pruning
    intact. Returns (doc_id, chunk_id, tok_start, n_tokens, chunk):
    starts advance by `stride` until a chunk reaches the end of the
    document (exactly ceil(max(n-window,0)/stride)+1 chunks when
    stride <= window), so the final chunk always covers the tail and
    no chunk is a redundant strict suffix of its predecessor. Empty
    documents yield no chunks. When stride <= window (the
    overlapping/adjacent regime) every token lands in >= 1 chunk;
    stride > window deliberately subsamples, leaving stride-window
    token gaps between interior chunks (property-tested both ways)."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    # hoist the token array and count into projected columns: inlined
    # in the per-chunk lambda the split()/token_count would re-run
    # once per chunk (word_ngrams r6 note)
    toked = docs.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks"),
        token_count(F.col(text_col)).alias("__n"),
    )
    toks = F.col("__toks")
    n = F.col("__n")
    # cap at n-1: with stride > window the ceil can land past the
    # last token, which would emit an empty tail chunk
    last_start = F.least(
        F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(stride)).cast("int")
        * stride,
        n - 1,
    )
    starts = F.when(
        n > 0, F.sequence(F.lit(0), last_start, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_id"),
            s.alias("tok_start"),
            F.least(F.lit(window), n - s).alias("n_tokens"),
            F.array_join(F.slice(toks, s + 1, window), " ").alias("chunk"),
        ),
    )
    return toked.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col,
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.tok_start").alias("tok_start"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk").alias("chunk"),
    )


def corpus_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One-row drift report between two corpus snapshots (e.g. this
    month's crawl vs last month's): token totals, vocabulary sizes and
    overlap, and the add-1-smoothed KL divergence KL(A||B) over the
    union vocabulary — the standard monitor for distribution shift
    before mixing a new snapshot into training data.

    Plan shape: one token-frequency hash agg per side (map-side
    combined), a full outer join on the (vocab-sized) frequency
    tables, scalar totals via broadcast one-row aggregates — all
    lazy, one pass per corpus. Counts are exact; the only floats are
    the final smoothed log terms (rounded to 4, far above the
    summation-order noise floor).
    """
    fa = token_frequencies(docs_a, text_col).withColumnRenamed("n", "na")
    fb = token_frequencies(docs_b, text_col).withColumnRenamed("n", "nb")
    # LAZY local checkpoint of the (vocab-sized) joined table: both
    # the totals branch and the KL aggregate read it, so without this
    # each branch would re-scan both corpora. eager=False keeps
    # construction free of work (materializes at the caller's first
    # action) and the blocks are ContextCleaner-reclaimed when the
    # result is dropped — no cache-manager entry pinned.
    joined = (
        fa.join(fb, "token", "full_outer")
        .select(
            "token",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
        .localCheckpoint(eager=False)
    )
    totals = F.broadcast(
        joined.agg(
            F.sum("na").cast("double").alias("ta"),
            F.sum("nb").cast("double").alias("tb"),
            F.count("*").cast("double").alias("v"),
        )
    )
    pa = (F.col("na") + 1) / (F.col("ta") + F.col("v"))
    pb = (F.col("nb") + 1) / (F.col("tb") + F.col("v"))
    return (
        joined.crossJoin(totals)
        .agg(
            F.sum("na").cast("long").alias("tokens_a"),
            F.sum("nb").cast("long").alias("tokens_b"),
            F.sum((F.col("na") > 0).cast("int")).alias("vocab_a"),
            F.sum((F.col("nb") > 0).cast("int")).alias("vocab_b"),
            F.sum(
                ((F.col("na") > 0) & (F.col("nb") > 0)).cast("int")
            ).alias("vocab_overlap"),
            F.round(F.sum(pa * F.log(pa / pb)), 4).alias("kl_a_b"),
        )
    )


def inverted_index_segmented(
    docs: DataFrame,
    segment_size: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Skew-proof inverted index: a stopword-grade term whose postings
    outgrow one task is split into ~n_postings/segment_size SEGMENT
    rows, keyed (term, segment). Segments are assigned by hashing the
    doc id over ceil(df/segment_size) buckets — a pure map-side
    expression, so no term ever serializes a task the way a
    rank-within-term window would (the window would put the whole hot
    term in one task, recreating the problem it solves). Within a
    segment, postings are sorted (doc, pos); a term's full ordered
    posting list is the segment-ordered concatenation ONLY per
    segment — readers merge segments, which is how production index
    formats shard hot terms anyway.

    Two linear passes: a (term -> df) count agg (map-side combined,
    the skewed term collapses to partial rows per task), a join back
    on term (vocab-sized build side, AQE broadcasts), then the
    (term, segment) posting agg whose per-group size is bounded by
    ~segment_size regardless of term frequency."""
    # md5-derived doc hash (engine-portable, same family as the
    # minhash oracles) so segmentation is replayable in SQL; computed
    # BELOW the explode — once per document, not once per posting
    # (r6: the per-posting md5+conv alone cost ~1s at sf1.0)
    doc_hash = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    toks = docs.select(
        F.col(id_col),
        doc_hash.alias("__dh"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(
        F.count("*").alias("n_term_postings"),
        F.countDistinct(id_col).alias("df"),
    )
    n_segments = F.ceil(
        F.col("n_term_postings") / F.lit(segment_size)
    ).cast("int")
    seg = toks.join(counts.where(F.col("df") >= min_df), "term").withColumn(
        "segment",
        F.pmod(F.col("__dh"), F.greatest(n_segments, F.lit(1))).cast("int"),
    )
    return (
        seg.groupBy("term", "segment")
        .agg(
            # df is constant within a term group; min is deterministic
            F.min("df").alias("df"),
            F.count("*").alias("n_postings"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col(id_col), F.col("pos")))
                    ),
                    lambda s: F.concat_ws(
                        ":", s[id_col].cast("string"), s["pos"].cast("string")
                    ),
                ),
                ",",
            ).alias("postings"),
        )
    )


def length_report(
    docs: DataFrame, text_col: str = "text", exact: bool = True
) -> DataFrame:
    """One-row token-length distribution report (the pre-training
    sanity check before length filtering / packing): doc count, token
    totals, mean, min/max, and interpolated p25/p50/p75/p95.

    exact=True uses SQL `percentile` (interpolated, matches DuckDB's
    quantile_cont bit-for-bit) — it buffers the group's values in the
    aggregation, fine up to ~10^8 docs. At larger scale pass
    exact=False for approx_percentile (t-digest, bounded memory,
    no SQL oracle)."""
    n = token_count(F.col(text_col))
    base = docs.select(n.alias("n_tokens"))
    pct = "percentile" if exact else "approx_percentile"
    return base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.expr(f"{pct}(n_tokens, 0.25)").alias("p25"),
        F.expr(f"{pct}(n_tokens, 0.5)").alias("p50"),
        F.expr(f"{pct}(n_tokens, 0.75)").alias("p75"),
        F.expr(f"{pct}(n_tokens, 0.95)").alias("p95"),
    )


def bpe_pair_counts(
    docs: DataFrame,
    top_n: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies inside
    whitespace words — the counting step of one BPE tokenizer-training
    merge round (the pair with the top count is the next merge).

    Plan: tokens -> explode words -> overlapping 2-char substrings via
    a map-side transform(sequence) (no join, no UDF) -> one global
    hash agg with map-side partial combine -> TakeOrderedAndProject
    top_n. The shuffle carries (pair, partial_count) rows — vocab-
    sized, not corpus-sized — so the plan is a linear scan at 100 TB.
    Deterministic order: count desc, pair asc."""
    words = docs.select(
        F.explode(tokens(F.col(text_col))).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_n)
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram of
    the normalized text, slide a w-hash window, keep each window's
    minimum hash (ties -> rightmost occurrence, per the paper), and
    emit the distinct selected (pos, hash) pairs. Guarantees every
    shared substring of length >= k+w-1 yields at least one shared
    fingerprint, at ~2/(w+1) selection density — the local-dedup /
    plagiarism-detection primitive that a single global min-hash
    (doc_fingerprints) cannot give.

    Plan shape: explode gram positions (pipelined Generate+Project, so
    the normalized text is scanned once per doc, never copied per
    gram) -> per-doc sliding-window MIN over a rowsBetween frame
    (partitioned by doc id — no global sort, no skew concentration;
    the same shape as duplicate_spans) -> dropDuplicates. A nested
    array-lambda formulation (array_min over slice inside transform)
    is the obvious alternative but Catalyst inlines the gram array
    into every window element, going O(n_grams^2) md5 calls per doc —
    measured minutes vs seconds on 500 small docs. md5-based hashes
    keep it engine-portable for the oracle."""
    from pyspark.sql import Window

    s = normalize(F.col(text_col))
    base = docs.select(F.col(id_col), s.alias("__s")).where(
        F.length("__s") >= k
    )
    g = base.select(
        id_col,
        (F.length("__s") - (k - 1)).alias("__n_grams"),
        F.explode(
            F.sequence(F.lit(1), F.length("__s") - (k - 1))
        ).alias("__gpos"),
        "__s",
    ).select(
        id_col,
        "__n_grams",
        "__gpos",
        F.md5(F.col("__s").substr(F.col("__gpos"), F.lit(k))).alias("__h"),
    )
    # rightmost-min tie-break: min over (hash, -pos) structs
    win = (
        Window.partitionBy(id_col).orderBy("__gpos").rowsBetween(0, w - 1)
    )
    sel = g.withColumn(
        "__m",
        F.min(
            F.struct(
                F.col("__h").alias("h"), (-F.col("__gpos")).alias("negpos")
            )
        ).over(win),
    ).where(
        F.col("__gpos") <= F.greatest(F.col("__n_grams") - (w - 1), F.lit(1))
    )
    return sel.select(
        id_col,
        (-F.col("__m.negpos")).cast("long").alias("pos"),
        F.col("__m.h").alias("fingerprint"),
    ).dropDuplicates()


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram negative log-probability under the
    corpus's own bigram model: mean over a doc's bigrams of
    -ln( count(w1 w2) / count(w1 as a bigram prefix) ) — the
    conditional-fluency upgrade of unigram_logprob (CCNet family):
    common-word sequences in unusual ORDER now score high too.

    Plan: one explode to (doc, w1, w2), then an immediate per-doc
    pre-aggregation to (doc, w1, w2, c) BEFORE anything joins — the
    join-back input is bounded by distinct-bigrams-per-doc, not
    bigram OCCURRENCES, so the stopword-skewed join keys ("of the"
    class) carry one row per (doc, bigram) instead of one per
    occurrence. The corpus count tables derive from the same
    pre-aggregate (c12 = sum of c; c1 = sum of n12 over the prefix,
    so AQE reuses the c12 exchange at runtime instead of a third
    corpus explode), and the
    per-doc mean becomes the exact weighted mean
    sum(c * neg_lp) / sum(c), identical to the occurrence average.
    All exact-integer counts; round-4 output for oracle
    comparison."""
    toks = tokens(F.col(text_col))
    z = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
    )
    bg = (
        docs.where(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(z).alias("z"))
        .select(
            id_col,
            F.col("z.0").alias("w1"),
            F.col("z.1").alias("w2"),
        )
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bgc = bg.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("__c"))
    c12 = bgc.groupBy("w1", "w2").agg(F.sum("__c").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    neg_lp = -F.log(F.col("n12") / F.col("n1"))
    return (
        bgc.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__c") * neg_lp) / F.sum("__c"), 4
            ).alias("mean_neg_logprob2"),
        )
    )


def winnow_match_scores(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    max_doc_freq: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document-pair match scores from winnowing fingerprints — the
    MOSS pipeline's pairing stage: two docs sharing >= `min_shared`
    selected fingerprints are copy/quote candidates, scored by the
    count of distinct shared fingerprints.

    The quadratic trap and its gate: a fingerprint shared by d docs
    contributes O(d^2) join rows, and boilerplate fingerprints at web
    scale have d ~ 10^6 (10^12 pairs from ONE hash). `max_doc_freq`
    drops fingerprints above the threshold BEFORE the self-join —
    standard fingerprint-index hygiene (an over-common fingerprint is
    boilerplate and carries no match signal, exactly like a stopword
    posting). Bounded join fan-out: <= max_doc_freq per fingerprint.
    Plan: distinct (doc, fp) projection -> df-count agg (map-side
    combined) -> df-gated self-join co-partitioned on the fingerprint
    -> per-pair countDistinct >= min_shared."""
    fp = (
        winnow_fingerprints(docs, k=k, w=w, text_col=text_col,
                            id_col=id_col)
        .select(id_col, "fingerprint")
        .distinct()
    )
    keep = (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("__df"))
        .where((F.col("__df") >= 2) & (F.col("__df") <= max_doc_freq))
        .select("fingerprint")
    )
    fpk = fp.join(keep, "fingerprint")
    a = fpk.withColumnRenamed(id_col, "id_a")
    b = fpk.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, "fingerprint")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def ccnet_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §4.3): rank documents by language-model score —
    here the corpus-unigram mean_neg_logprob from unigram_logprob()
    — and split the corpus into equal thirds: 'head' (most fluent),
    'middle', 'tail'. CCNet keeps head+middle for LM training and
    drops or down-weights tail.

    The tertile boundary is computed EXACTLY, not with ntile() over a
    global sort: scores are aggregated to a distinct-score table
    (bounded by the 4-decimal rounding, thousands of rows regardless
    of corpus size), cumulated with one tiny window, and the bucket
    is decided by integer arithmetic (cum*3 <= N) so ties at a
    boundary land identically in any engine. Docs sharing a score
    share a bucket by construction.

    Scale: the corpus-sized side sees one hash agg (unigram_logprob)
    plus one broadcast join against the distinct-score table; the
    only ORDER BY is over that constant-bounded table."""
    from pyspark.sql import Window

    s = unigram_logprob(docs, text_col=text_col, id_col=id_col)
    sc = s.groupBy("mean_neg_logprob").agg(F.count("*").cast("long").alias("__cnt"))
    w = Window.orderBy("mean_neg_logprob").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = sc.select(
        "mean_neg_logprob",
        F.sum("__cnt").over(w).cast("long").alias("__cum"),
    ).crossJoin(F.broadcast(sc.agg(F.sum("__cnt").cast("long").alias("__N"))))
    buckets = cum.select(
        "mean_neg_logprob",
        F.when(F.col("__cum") * 3 <= F.col("__N"), F.lit("head"))
        .when(F.col("__cum") * 3 <= F.col("__N") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    return s.join(F.broadcast(buckets), "mean_neg_logprob").select(
        id_col, "n_tokens", "mean_neg_logprob", "ppl_bucket"
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word n-gram shingles whose globally-FIRST occurrence (by doc id
    order) is this doc — the RefinedWeb/FineWeb-style "how much of
    this page is new text vs boilerplate already seen earlier in the
    corpus" signal. A mirror/template page scores ~0, fresh prose ~1.

    Output: (id, n_shingles, n_novel, novelty), one row per doc
    (every doc has >= 1 shingle via the short-doc whole-text
    fallback shared with the dedup family).

    Scale: one min() hash agg over the shingle stream (map-side
    combined — first-occurrence via MIN is order-free, no global
    sort). No join back: because a doc's shingles are DISTINCT
    (shingles() array_distincts), `n_novel(doc)` equals the number of
    grams whose global-min id IS this doc — a map-side-combined
    regroup of the (gram -> min id) table by min id — and
    `n_shingles(doc)` is just size(shingles(text)), computed scan-side
    with no explode at all. The r5 formulation joined the full 25M-row
    shingle stream back against the first-occurrence table (a
    sort-merge join + a second 25M-row agg); this shape computes the
    identical result with one exploded agg plus two doc-sized maps
    (r6: 7.1s -> ~2.5s at sf1.0)."""
    from warctools_spark.operators.dedup import shingles

    counts = docs.select(
        F.col(id_col),
        F.size(shingles(F.col(text_col), n)).cast("long").alias("n_shingles"),
    )
    sh = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    first = sh.groupBy("gram").agg(F.min(id_col).alias("__first"))
    novel = first.groupBy("__first").agg(
        F.count("*").cast("long").alias("n_novel")
    ).withColumnRenamed("__first", id_col)
    return (
        counts.join(novel, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
                / F.col("n_shingles"),
                4,
            ).alias("novelty"),
        )
    )


def host_quality_rollup(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-host reputation rollup — the host-level signal a frontier
    scheduler uses to up/down-prioritize WHOLE hosts (a spam farm is
    cheaper to kill at the host than per URL): doc count, mean
    composite quality score, distinct languages, and language entropy
    in nats (mirrors/parked domains show near-zero entropy; scraped
    mixed-content farms show implausibly high).

    Output: (host, n_docs, mean_quality, n_langs, lang_entropy).

    Scale: two map-side-combinable hash aggs — (host, lang) counts,
    then per-host — and one host-keyed join of two already-aggregated
    tables; a hot host collapses to one row per partition in the
    partial agg, so host skew never concentrates raw rows. Entropy
    uses the exact H = ln(n) - sum(c*ln(c))/n rearrangement so both
    aggs stay single-pass."""
    q = quality_score(docs, text_col)
    roll = q.groupBy(host_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("quality_score"), 4).alias("mean_quality"),
    )
    hl = docs.groupBy(host_col, lang_col).agg(
        F.count("*").cast("long").alias("__c")
    )
    ent = hl.groupBy(host_col).agg(
        F.count("*").cast("long").alias("n_langs"),
        F.round(
            F.log(F.sum("__c").cast("double"))
            - F.sum(F.col("__c") * F.log(F.col("__c").cast("double")))
            / F.sum("__c"),
            4,
        ).alias("lang_entropy"),
    )
    return roll.join(ent, host_col).select(
        host_col, "n_docs", "mean_quality", "n_langs", "lang_entropy"
    )


def vocab_coverage(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str = "token",
) -> DataFrame:
    """Per-document tokenizer-vocabulary coverage / OOV report: what
    fraction of a doc's (lowercased, whitespace) tokens appear in the
    given vocabulary table. The acceptance gate for a trained
    tokenizer (bpe_train's frequency pass, token_frequencies top-k,
    or any external vocab) against a new crawl epoch: coverage
    dropping across epochs means the vocab no longer fits the corpus.

    Output: (id, n_tokens, n_in_vocab, coverage), one row per input
    doc; empty/whitespace docs keep a row with n_tokens=0 and
    coverage=1.0 (an empty doc is fully covered by any vocab).
    coverage rounds to 4 decimals.

    Scale: tokens explode once; the vocab side is a distinct token
    list (vocab-sized, broadcastable) left-joined to flag membership;
    the per-doc agg is map-side combinable. A 10^5-entry vocab vs a
    10^9-doc corpus is one broadcast-hash-join on the exploded stream
    — no corpus-sized shuffle key, no skew (membership is a flag, hot
    tokens collapse in the partial agg)."""
    v = F.broadcast(
        vocab.select(F.lower(F.col(token_col)).alias("__tok")).distinct()
    )
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__tok"),
    ).where(F.col("__tok") != "")
    per_doc = (
        toks.join(v.withColumn("__in", F.lit(1)), "__tok", "left")
        .groupBy("__id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("__in"), F.lit(0)))
            .cast("long")
            .alias("n_in_vocab"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias(
                "n_tokens"
            ),
            F.coalesce(F.col("n_in_vocab"), F.lit(0).cast("long")).alias(
                "n_in_vocab"
            ),
            F.round(
                F.when(
                    F.coalesce(F.col("n_tokens"), F.lit(0)) == 0, F.lit(1.0)
                ).otherwise(F.col("n_in_vocab") / F.col("n_tokens")),
                4,
            ).alias("coverage"),
        )
    )


def kneser_ney_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean trigram negative log-probability under an
    interpolated Kneser-Ney model trained on the corpus itself — the
    strongest member of the CCNet-style fluency family here
    (unigram_logprob -> bigram_logprob -> this). Interpolated KN with
    a fixed absolute discount D (Kneser & Ney 1995; Chen & Goodman
    1998 eq. 4.25-4.27 is THE public reference):

      P(w3|w1w2) = max(c(w1w2w3)-D,0)/c(w1w2.)
                   + D*N1+(w1w2.)/c(w1w2.) * Pc(w3|w2)
      Pc(w3|w2)  = max(N1+(.w2w3)-D,0)/N1+(.w2.)
                   + D*N1+(w2.)/N1+(.w2.) * Pc(w3)
      Pc(w3)     = N1+(.w3) / N1+(..)

    where N1+ counts DISTINCT extensions (the continuation counts
    that make KN rank "Francisco" low outside "San _"). Documents are
    padded with two \\x02 start sentinels and one \\x03 end sentinel,
    so every token plus the end event is predicted by exactly one
    trigram and all lower-order counts derive consistently from the
    trigram table. (A corpus whose whitespace tokens literally
    contain \\x02/\\x03 would pollute the sentinel rows — binary junk
    should be gated upstream, e.g. gopher_gate.) Self-scored, so
    every event has count >= 1 in its own context and no probability
    is ever 0; scoring a foreign corpus needs an OOV contract this
    operator deliberately does not invent.

    Empty/whitespace-only docs keep a row: their one event is the
    (\\x02,\\x02,\\x03) trigram.

    Plan (the bigram_logprob discipline, one order up): ONE corpus
    explode to trigram events, immediately pre-aggregated per
    (doc, w1, w2, w3) — every later join is bounded by
    distinct-trigrams-per-doc, not occurrences, so stopword-skewed
    keys carry one row per doc. ALL five model tables (trigram
    counts, trigram-context totals, bigram continuation counts,
    bigram-context totals, unigram continuation counts) derive from
    that single aggregate — the corpus is scanned once, and each
    derivation is a map-side-combinable shrink of the previous
    table. The continuation total N1+(..) is a 1-row broadcast. The
    per-doc mean is the exact weighted mean sum(c*neglp)/sum(c).
    Counts stay exact integers until the final float; round-4 output
    for oracle comparison (ORACLES.md #5)."""
    D = float(discount)
    if not 0.0 < D < 1.0:
        raise ValueError("discount must be in (0, 1)")
    tk = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    padded = F.concat(
        F.array(F.lit("\x02"), F.lit("\x02")), tk, F.array(F.lit("\x03"))
    )
    z = F.arrays_zip(
        F.slice(padded, 1, F.size(padded) - 2),
        F.slice(padded, 2, F.size(padded) - 2),
        F.slice(padded, 3, F.size(padded) - 2),
    )
    tgc = (
        docs.select(F.col(id_col), F.explode(z).alias("z"))
        .select(
            id_col,
            F.col("z.0").alias("w1"),
            F.col("z.1").alias("w2"),
            F.col("z.2").alias("w3"),
        )
        .groupBy(id_col, "w1", "w2", "w3")
        .agg(F.count("*").alias("__c"))
    )
    c3 = tgc.groupBy("w1", "w2", "w3").agg(F.sum("__c").alias("c3"))
    ctx3 = c3.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2ctx"), F.count("*").alias("f3")
    )
    m2 = c3.groupBy("w2", "w3").agg(F.count("*").alias("m2"))
    ctx2 = m2.groupBy("w2").agg(
        F.sum("m2").alias("m2ctx"), F.count("*").alias("f2")
    )
    m1 = m2.groupBy("w3").agg(F.count("*").alias("m1"))
    total = F.broadcast(m1.agg(F.sum("m1").cast("double").alias("__M")))

    p1 = F.col("m1") / F.col("__M")
    p2 = (
        F.greatest(F.col("m2") - D, F.lit(0.0)) / F.col("m2ctx")
        + D * F.col("f2") / F.col("m2ctx") * p1
    )
    p3 = (
        F.greatest(F.col("c3") - D, F.lit(0.0)) / F.col("c2ctx")
        + D * F.col("f3") / F.col("c2ctx") * p2
    )
    neg_lp = -F.log(p3)
    # NB (r6): a model-table-first reorder (join the five model tables
    # among themselves, then probe once) and a localCheckpoint of c3
    # were both tried and MEASURED SLOWER (5.1s vs 6.5/7.1s at sf1.0,
    # interleaved best-of-3): the model tables all broadcast, so the
    # probe already makes one pass over tgc, and runtime exchange
    # reuse dedupes the repeated c3/m2 subtrees — the extra
    # materialization/joins only added orchestration. Keeping the
    # direct chain.
    return (
        tgc.join(c3, ["w1", "w2", "w3"])
        .join(ctx3, ["w1", "w2"])
        .join(m2, ["w2", "w3"])
        .join(ctx2, "w2")
        .join(m1, "w3")
        .crossJoin(total)
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_trigrams"),
            F.round(
                F.sum(F.col("__c") * neg_lp) / F.sum("__c"), 4
            ).alias("mean_neg_logprob_kn"),
        )
    )


def anchor_text_profile(
    pairs: DataFrame,
    top_k: int = 5,
    link_col: str = "link",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-TARGET anchor-text profile — the classic off-page document
    signal (anchor-text indexing: Brin & Page 1998 §2.2 use the link
    text to describe the page it points AT; every production search
    stack since does the same): aggregate what the rest of the web
    calls a URL.

    Input: (link, anchor) pairs (anchor_text_pairs). Output, one row
    per distinct target link:

      link, n_anchors          total anchor occurrences
      n_unique_anchors         distinct normalized anchor strings
      top_anchors              array of the top_k (term, c) structs —
                               whitespace terms of the normalized
                               anchors, by (count desc, term asc)

    Normalization is lower + trim; empty anchors ("click-through
    images") are dropped from terms but still counted in n_anchors.

    Plan: one (link, term) explode + hash agg, then a per-link
    rowsBetween-free top-k via sort_array over collected (c, term)
    structs — the collect is bounded per link by distinct terms of
    its anchors, and a mega-target (everyone links the homepage)
    still pre-aggregates (link, term) map-side before the wire. A
    pathological target with unbounded distinct anchor vocabulary is
    capped by the agg key cardinality, not by row fan-in."""
    norm = F.lower(F.trim(F.col(anchor_col)))
    base = pairs.select(F.col(link_col).alias("link"), norm.alias("__a"))
    counts = base.groupBy("link").agg(
        F.count("*").cast("long").alias("n_anchors"),
        F.count_distinct(F.col("__a")).cast("long").alias(
            "n_unique_anchors"
        ),
    )
    terms = (
        base.where(F.col("__a") != "")
        .select("link", F.explode(F.split(F.col("__a"), r"\s+")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("link", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = (
        terms.groupBy("link")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("c")).alias("nc"),
                            F.col("t").alias("term"),
                            F.col("c").alias("c"),
                        )
                    )
                ),
                1,
                top_k,
            ).alias("__top")
        )
        .select(
            "link",
            F.transform(
                F.col("__top"),
                lambda s: F.struct(s["term"].alias("term"), s["c"].alias("c")),
            ).alias("top_anchors"),
        )
    )
    return counts.join(top, "link", "left").select(
        "link",
        "n_anchors",
        "n_unique_anchors",
        F.coalesce(
            F.col("top_anchors"),
            F.array().cast("array<struct<term:string,c:bigint>>"),
        ).alias("top_anchors"),
    )
