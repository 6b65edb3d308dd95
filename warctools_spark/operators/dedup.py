"""Document deduplication operators for training-data pipelines.

All built from JVM-side expressions where possible; hashing is md5/sha
(stable across engines, so the DuckDB oracle can replay the exact
semantics). Shuffle discipline:

* exact dedup: one hash-agg shuffle on the digest (map-side partial agg
  kicks in automatically);
* MinHash/LSH near-dup: signatures are computed scan-side (no
  shuffle), banding explodes to (band, band_hash) and the only shuffle
  is the groupBy on band buckets — the canonical LSH plan that scales
  linearly in documents rather than quadratically in pairs;
* SimHash: 64-bit fingerprint scan-side; candidate pairing via band
  keys on 16-bit chunks (hamming<=3 within any chunk-equal pair set);
* embedding near-dup keys: banded random-hyperplane signs over
  `array<float>` via built-in zip_with/aggregate — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — the usual pre-dedup normalize."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5 of normalized text: one row per
    distinct content, keeping the lowest id (deterministic canonical)."""
    return (
        docs.select(
            F.md5(normalized_text(F.col("text"))).alias("content_md5"),
            F.col("doc_id"),
        )
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """The documents that survive exact dedup (lowest id per content)."""
    canon = exact_dedup(docs).select(
        F.col("canonical_id").alias("doc_id")
    )
    return docs.join(canon, on="doc_id", how="inner")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) from normalized text —
    pure JVM: split + arrays_zip of the n shifted slices, concatenated
    per zipped element.

    The r5 `transform(sequence, i -> concat_ws(slice(words, ...)))`
    formulation re-evaluated the split PER SHINGLE (the token array
    sat in the lambda body, not as the higher-order function's input —
    same Catalyst behavior the winnowing docstring documents);
    zip-of-slices evaluates each slice once per row. Identical
    output, ~2x faster shingle generation (see word_ngrams)."""
    words = F.split(normalized_text(col), " ")
    k = F.size(words) - (n - 1)
    z = F.arrays_zip(*[F.slice(words, i + 1, k) for i in range(n)])
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                z,
                lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
            ),
        ).otherwise(F.array(F.concat_ws(" ", words)))
    )


# Mersenne prime modulus for the affine hash family; coefficients are
# fixed (deterministic across runs + engines). a*h stays < 2^51 so the
# arithmetic is exact in int64 on both Spark and DuckDB.
_MH_P = 2147483647  # 2^31 - 1
_MH_A = [1000003 + 37 * i for i in range(64)]
_MH_B = [777767777 + 101 * i for i in range(64)]


def shingle_hashes(col: Column) -> Column:
    """One md5 per shingle -> bigint (mod 2^31-1). The expensive hash
    happens once; the MinHash family is cheap affine mixes of it."""
    return F.transform(
        shingles(col),
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            F.lit(_MH_P),
        ),
    )


def minhash_signature(col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: array of num_hashes minima over the shingle
    set under the affine family h_i(x) = (a_i*x + b_i) mod (2^31-1).
    Scan-side only — no shuffle; one md5 pass per shingle."""
    hs = shingle_hashes(col)

    def _mix(i):
        return lambda h: (h * _MH_A[i] + _MH_B[i]) % _MH_P

    return F.array(
        *[F.array_min(F.transform(hs, _mix(i))) for i in range(num_hashes)]
    )


# LSH buckets above this size pair as a star (see _capped_bucket_pairs)
_MAX_BUCKET_SIZE = 200


def _capped_bucket_pairs(banded: DataFrame) -> DataFrame:
    """Candidate pairs (id_a, id_b) from banded(doc_id, band, band_key)
    rows.

    Small buckets (≤ _MAX_BUCKET_SIZE) explode all in-bucket pairs;
    oversized ones emit O(n) star pairs to the bucket's min id — pair
    count, per-task work AND collect_list arrays are all bounded by
    the cap (oversized buckets are filtered out BEFORE the collect)
    while connected-component clusters survive intact.

    Shuffle discipline: ONE lineage, ONE shuffle (the band-key
    groupBy), no sorts, no window, no broadcast — the pair mode is a
    conditional expression over the collected bucket, so the expensive
    upstream (e.g. MinHash signatures) executes exactly once.

    Caveat, stated rather than hidden: the per-bucket id array in the
    aggregation buffer is O(bucket size) — bounded-output star pairing
    caps the *pair explosion*, not the array. A band key with millions
    of members means millions of byte-identical/near-identical
    documents sharing a signature band; run `exact_dedup` first (the
    standard pipeline order) and such buckets collapse before LSH.
    """
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    all_pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(F.col("ids"), 2, F.size("ids") - 1),
        lambda y: F.struct(F.col("ids")[0].alias("id_a"), y.alias("id_b")),
    )
    pair_gen = F.when(
        F.size("ids") <= _MAX_BUCKET_SIZE, all_pairs
    ).otherwise(star_pairs)
    return (
        buckets.select(F.explode(pair_gen).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


# MinHash LSH bands: num_hashes // _LSH_BANDS rows per band
_LSH_BANDS = 4


def minhash_lsh_candidates(docs: DataFrame, num_hashes: int = 16) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows = distinct (id_a, id_b) pairs that collide in at least one of
    4 bands. Only the band groupBy shuffles.

    Degenerate-bucket hygiene: a band key shared by a huge member set
    (empty docs, boilerplate) would make the in-bucket all-pairs
    explosion O(n²) in ONE task. Buckets larger than 200 members
    therefore switch to STAR pairing — every member links to the
    bucket's min id — which is O(n) per bucket, bounds both the pair
    count and the collect_list array size, and preserves the duplicate
    cluster exactly under connected-components (members of one bucket
    are transitively connected through the hub).
    """
    rows_per_band = num_hashes // _LSH_BANDS
    # small-file inputs arrive as one partition; the signature pass is
    # CPU-bound, so spread it before computing (cheap: raw text only)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    # two-step projection: shingle hashes materialize once (Catalyst's
    # CollapseProject does not inline non-cheap exprs referenced many
    # times, so the md5 pass is not duplicated 16x)
    hs = docs.select(F.col("doc_id"), shingle_hashes(F.col("text")).alias("hs"))

    def _mix(i):
        return lambda h: (h * _MH_A[i] + _MH_B[i]) % _MH_P

    sig = hs.select(
        "doc_id",
        F.array(
            *[F.array_min(F.transform("hs", _mix(i))) for i in range(num_hashes)]
        ).alias("sig"),
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    # bucket-collect instead of self-join: a self-join would execute the
    # signature pipeline twice; one groupBy + in-bucket pair explosion
    # scans once and shuffles once.
    return _capped_bucket_pairs(banded)


def ngram_jaccard(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-trigram Jaccard similarity for candidate pairs (the LSH
    verify stage): pairs(id_a, id_b) -> + jaccard double. Pairs where
    BOTH docs are shorter than 3 tokens (empty shingle sets) score
    0.0, not null — the same guarded-denominator contract as
    ngram_containment."""
    sh = docs.select(F.col("doc_id"), shingles(F.col("text")).alias("sh"))
    out = (
        pairs.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        )
        .withColumn("uni", F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))))
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / F.greatest(F.col("uni"), F.lit(1))).alias(
                "jaccard"
            ),
        )
    )
    return out


def simhash60(col: Column) -> Column:
    """60-bit SimHash over word-trigram shingles — all JVM expressions.

    bit_j = 1 iff sum over shingles of (bit_j(h(s)) ? +1 : -1) > 0,
    h(s) = first 15 hex chars of md5 (60 bits; md5 is used so the
    DuckDB oracle reproduces the value exactly).

    Shingle hashes are materialized once into an array; the 60 per-bit
    majority votes then fold over bigints, not over repeated md5 calls.
    """
    hashes = F.transform(
        shingles(col),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )
    def _vote(j):
        # NB: a default-arg lambda (acc, h, j=j) breaks pyspark's
        # higher-order-function arity inspection; close over j instead
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for j in range(60):
        votes = F.aggregate(hashes, F.lit(0), _vote(j))
        bits.append(
            F.when(votes > 0, F.lit(2**j).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _hyperplane(band: int, bit: int, dims: int) -> list[float]:
    """Deterministic ±1 hyperplane: md5 parity per (band, bit, dim).
    No RNG — identical across runs, partitions, and engines."""
    import hashlib

    out = []
    for d in range(dims):
        h = hashlib.md5(f"hp:{band}:{bit}:{d}".encode()).digest()
        out.append(1.0 if h[0] & 1 else -1.0)
    return out


def hyperplane_band_keys(
    vec_col: str, bands: int, bits_per_band: int, dims: int
) -> Column:
    """array<struct<band,band_key>> of banded sign-random-projection
    keys: bit j of band b is the sign of <v, h_{b,j}> for a fixed ±1
    hyperplane. cos(v, w) = c  ⇒  P[bit agrees] = 1 - arccos(c)/π, so
    a pair at cosine 0.9 collides in at least one of 4 8-bit bands
    w.p. ~1-(1-0.77^8)^4 ≈ 0.93 while random pairs spread over 2^8
    buckets per band. All JVM expressions (zip_with over a literal
    coefficient array per bit)."""

    def bit(b, j):
        coefs = F.array(*[F.lit(c) for c in _hyperplane(b, j, dims)])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), coefs, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(*[bit(b, j) for j in range(bits_per_band)]).alias(
                    "band_key"
                ),
            )
            for b in range(bands)
        ]
    )


def _resolve_dims(emb: DataFrame) -> int:
    """The embedding length, which hyperplane keys MUST match:
    zip_with against a shorter/longer literal coefficient array pads
    with null, every dot goes null, and all vectors silently collapse
    into one all-zeros bucket per band. Derived via an
    order-INDEPENDENT aggregate (min/max of size, null-counted) so the
    dims — and which rows _require_dims later rejects — never depend
    on partition iteration order; ragged or null-bearing inputs raise
    deterministically instead of destroying recall."""
    row = emb.agg(
        F.min(F.size(F.col("embedding"))).alias("lo"),
        F.max(F.size(F.col("embedding"))).alias("hi"),
    ).first()
    if row["lo"] is None:  # empty input / all-null column: any dims
        return 1
    if row["lo"] != row["hi"]:
        raise ValueError(
            "ragged embedding column 'embedding': sizes range "
            f"{row['lo']}..{row['hi']}; filter to one dimensionality first"
        )
    # null vectors (min/max ignore them) are rejected deterministically
    # row-by-row in _require_dims — every null row, at any parallelism
    return int(row["lo"])


def _require_dims(df: DataFrame, dims: int) -> DataFrame:
    """Executor-side guard: any row whose `embedding` is null or not
    exactly `dims` long fails the JOB with a clear message instead of
    silently corrupting band keys / distances (a driver-side check of
    sampled rows cannot see ragged tails). Pure Catalyst filter —
    raise_error only evaluates on offending rows, so the good-row path
    costs one size comparison."""
    size = F.size(F.col("embedding"))
    return df.where(
        F.when(size == dims, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"embedding is null or not {dims}-dimensional (got size "),
                    F.coalesce(size.cast("string"), F.lit("NULL")),
                    F.lit(")"),
                )
            ).cast("boolean")
        )
    )


# label-propagation rounds before dup_clusters gives up on a chain
_MAX_ROUNDS = 50


def _propagate(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round: each node's least label among itself and
    its neighbours."""
    nbr = edges.join(
        labels.withColumnRenamed("node", "src"), on="src"
    ).select(F.col("dst").alias("node"), "label")
    return labels.unionByName(nbr).groupBy("node").agg(
        F.min("label").alias("label")
    )


def dup_clusters(pairs: DataFrame, vertices: DataFrame) -> DataFrame:
    """Resolve near-duplicate pairs into clusters: (id, cluster_id)
    where cluster_id is the minimum id reachable through the pair
    graph — the canonical representative downstream keep-one dedup
    uses. Vertices with no pair cluster to themselves.

    Min-label propagation: each round every node takes the min label
    among itself and its neighbors (one join + one min-agg shuffle,
    both on the node key). Convergence is O(graph diameter) rounds —
    near-dup clusters are stars/short chains from LSH buckets, so 2-4
    rounds in practice; _MAX_ROUNDS (50) bounds adversarial chains.
    Labels are localCheckpoint()ed per round to keep the plan depth
    flat (same discipline as the crawl epoch loop). The convergence
    check rides the checkpoint action as an observe() aggregate — no
    extra job per round. Exiting at _MAX_ROUNDS with labels still
    moving raises: truncated propagation means silently split
    clusters.

    No pointer doubling: the label(label) shortcut makes the iterated
    plan reference the label relation twice per round, Spark's
    size-only stats estimator multiplies child sizes through joins,
    and localCheckpoint's LogicalRDD INHERITS the estimated stats —
    the sizeInBytes bit-length doubles per round and by round ~12 the
    driver burns minutes in BigInteger multiplication (measured:
    0.4 s/round flat without the shortcut over 36 rounds; 22 s at
    round 12 with it).
    """
    from pyspark.sql import Observation

    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        vertices.select(F.col("doc_id").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    ).localCheckpoint(eager=True)
    last_changed = 0
    for _ in range(_MAX_ROUNDS):
        merged = _propagate(edges, labels)
        obs = Observation()
        delta = merged.join(
            labels.select("node", F.col("label").alias("old")), on="node"
        ).select(
            "node",
            "label",
            (F.col("label") != F.col("old")).cast("int").alias("chg"),
        )
        labels = delta.observe(obs, F.sum("chg").alias("changed")).select(
            "node", "label"
        ).localCheckpoint(eager=True)
        last_changed = int(obs.get["changed"] or 0)
        if not last_changed:
            break
    if last_changed:
        # the loop exited at _MAX_ROUNDS with the LAST round still
        # applying changes — but that round may have been the final
        # one needed (fixpoint reached exactly at the bound). One
        # verification pass distinguishes 'converged on the last
        # round' from genuinely truncated propagation; it runs only
        # in this suspicious case.
        merged = _propagate(edges, labels)
        last_changed = (
            merged.join(
                labels.select("node", F.col("label").alias("old")), on="node"
            )
            .where(F.col("label") != F.col("old"))
            .count()
        )
    if last_changed:
        # labels genuinely still moving: a long chain is only
        # partially propagated — clusters are SPLIT and keep-one
        # dedup downstream would silently retain duplicates
        raise RuntimeError(
            f"dup_clusters did not converge in {_MAX_ROUNDS} rounds "
            f"({last_changed} labels still changing; rounds needed ~ "
            "graph diameter)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Benchmark-contamination flags: a training document is
    contaminated if it shares ANY word 13-gram (the GPT-3
    decontamination window) with any benchmark document.

    Shape at scale: both sides explode to (shingle) rows; the probe
    side (benchmark n-grams) is small by construction and broadcasts
    into a semi-join against the corpus shingle stream — no shuffle of
    the corpus, one distinct-agg on the contaminated ids. Returns
    (id, contaminated boolean)."""
    probe = (
        benchmark.select(
            F.explode(shingles(F.col("text"), 13)).alias("shingle")
        )
        .distinct()
    )
    corpus = docs.select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), 13)).alias("shingle")
    )
    hit_ids = (
        corpus.join(F.broadcast(probe), on="shingle", how="left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.select("doc_id").join(hit_ids, on="doc_id", how="left").select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


def segment_dedup(docs: DataFrame) -> DataFrame:
    """C4-style corpus-level segment dedup (Raffel et al. 2020 §2.2
    dedup "any three-sentence span that occurs more than once"): split
    every document into segments, keep only the globally-FIRST
    occurrence of each segment (ordered by (doc_id, position)), and
    reassemble documents from their surviving segments in order.

    Segments are consecutive 10-token windows (C4 splits real web text
    on lines; windows are the same relational machinery for corpora
    without line structure), reassembled with single spaces.

    Plan shape at 100 TB: the keeper per segment is min(struct(doc_id,
    pos)) under a hash agg — map-side partial combine means a
    boilerplate segment occurring 10^9 times ships one partial row per
    task, never a skewed window partition. One shuffle on seg hash for
    the keeper agg, one hash join back (AQE picks broadcast if the
    keeper side is small), one shuffle on doc_id to reassemble.
    Everything is JVM built-ins; no Python in the path."""
    # hoist the token array into its own projection: with the
    # split() inlined in the lambda body Catalyst re-tokenizes the
    # whole document once PER SEGMENT (see word_ngrams r6 note); as a
    # projected column it materializes once per row
    toked = docs.select(
        F.col("doc_id"),
        F.split(F.trim(F.col("text")), r"\s+").alias("__toks"),
        (F.length(F.trim(F.col("text"))) > 0).alias("__nonempty"),
    )
    tk = F.col("__toks")
    n_seg = F.ceil(F.size(tk) / F.lit(10)).cast("int")
    segs_arr = F.when(
        F.col("__nonempty"),
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i * 10 + 1, 10)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = toked.select(
        F.col("doc_id"), F.posexplode(segs_arr).alias("pos", "seg")
    )
    # keeper resolution only matters for segments occurring >= 2 times:
    # a unique segment is trivially its own keeper. Restricting the
    # join build side to repeated segments (usually a small fraction)
    # lets AQE broadcast it, so the full segment stream never shuffles
    # for the join — rows with no match are the unique-segment keeps.
    keepers = (
        segs.groupBy("seg")
        .agg(
            F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("keeper"),
            F.count("*").alias("__n"),
        )
        .where(F.col("__n") >= 2)
        .select("seg", "keeper")
    )
    kept = (
        segs.join(keepers, on="seg", how="left")
        .where(
            F.col("keeper").isNull()
            | (
                (F.col("keeper.doc_id") == F.col("doc_id"))
                & (F.col("keeper.pos") == F.col("pos"))
            )
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
    return (
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


def duplicate_spans(docs: DataFrame, min_span_tokens: int = 20) -> DataFrame:
    """Exact substring-duplication spans, the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    pattern re-expressed relationally (the published approach builds a
    suffix array; the 10-gram first-occurrence formulation below finds
    the same >= min_span_tokens repeated spans for span lengths
    expressible as runs of duplicated 10-grams, with linear shuffles
    instead of a distributed suffix sort).

    A token position is DUPLICATED when the 10-gram starting there has
    a strictly earlier occurrence — earlier meaning a smaller
    (doc_id, pos), so the corpus-wide first occurrence of any repeated
    passage is exempt and survives downstream removal. Duplicated
    positions are merged into maximal spans [start, end) with the
    classic gaps-and-islands window (running max of span ends), and
    spans shorter than min_span_tokens are discarded.

    Plan shape: 10-gram explode -> one hash agg per gram computing the
    global min (doc,pos) occurrence (map-side combined) -> join back
    on gram -> per-doc window over positions (partitioned by doc, so
    no global sort). Returns (doc_id, span_start, span_end, n_tokens).
    """
    from pyspark.sql import Window

    from warctools_spark.operators.text_analysis import word_ngrams

    grams = docs.select(
        F.col("doc_id"),
        F.posexplode(word_ngrams(F.col("text"), 10)).alias("pos", "gram"),
    )
    # r6 shape, two changes over r5:
    # (1) ONE gram-stream materialization: the explicit repartition by
    #     gram is consumed by BOTH the keeper aggregation (clustering
    #     already satisfied -> no second exchange) and the join probe
    #     (runtime exchange reuse) — r5 re-executed the corpus explode
    #     for each. No partition count is given, so AQE sizes it.
    # (2) keeper table filtered to grams occurring >= 2 times: a
    #     unique gram's sole occurrence IS its first occurrence and
    #     the post-join filter dropped it anyway; the join build side
    #     falls from |distinct grams| to |repeated grams| and AQE
    #     broadcasts it when it fits (guide §3.2). 6.0 -> ~2.3s sf1.0.
    # Skew note: the gram-keyed exchange concentrates a corpus-wide
    # hot gram's occurrences in one task for the (linear) probe filter
    # as well as the agg that always had it; the island windows after
    # re-spread by doc. The pathological single-gram-dominates regime
    # is the run-exact_dedup-first regime, as with the LSH caps.
    g2 = grams.repartition("gram")
    first = (
        g2.groupBy("gram")
        .agg(
            F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("first"),
            F.count("*").alias("__n"),
        )
        .where(F.col("__n") >= 2)
        .drop("__n")
    )
    dups = (
        g2.join(first, "gram")
        .where(
            (F.col("first")["doc_id"] != F.col("doc_id"))
            | (F.col("first")["pos"] != F.col("pos"))
        )
        .select("doc_id", "pos")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # island starts where this 10-gram interval [pos, pos+10) does not
    # touch the running max end of earlier intervals
    marked = dups.withColumn(
        "prev_end", F.max(F.col("pos") + 10).over(w)
    ).withColumn(
        "new_island",
        F.when(
            F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")),
            1,
        ).otherwise(0),
    )
    w2 = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.withColumn("island", F.sum("new_island").over(w2))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + 10).alias("span_end"),
        )
        .withColumn("n_tokens", F.col("span_end") - F.col("span_start"))
        .where(F.col("n_tokens") >= min_span_tokens)
        .select("doc_id", "span_start", "span_end", "n_tokens")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    min_span_tokens: int = 20,
) -> DataFrame:
    """Rewrite documents with their duplicated spans (duplicate_spans
    semantics over 10-grams — first corpus occurrence survives) cut
    out: tokens whose position falls inside any flagged span are
    dropped and the remainder re-joined with single spaces. Returns
    (id, clean_text, n_removed_tokens). One extra join on doc id plus
    a per-doc collect_list of its (few) spans — spans per doc are
    bounded by text length / min_span_tokens, so the list stays tiny.
    """
    from warctools_spark.operators.text_analysis import tokens

    spans = duplicate_spans(docs, min_span_tokens=min_span_tokens)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    toks = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(tokens(F.col("text")))
    joined = docs.join(per_doc, "doc_id", "left").withColumn(
        "spans", F.coalesce(F.col("spans"), F.array())
    )
    keep = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.col("spans"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] < sp["span_end"]),
        ),
    )
    return joined.select(
        F.col("doc_id"),
        F.array_join(F.transform(keep, lambda s: s["t"]), " ").alias(
            "clean_text"
        ),
        (F.size(toks) - F.size(keep)).alias("n_removed_tokens"),
    )


def ngram_containment(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact ASYMMETRIC word-trigram containment for candidate pairs:
    C(a in b) = |S(a) ∩ S(b)| / |S(a)|. The quote/partial-copy
    detector Jaccard misses — a short document wholly embedded in a
    long one has containment ~1.0 while Jaccard stays near
    |S(a)|/|S(b)| (tiny). Returns both directions plus jaccard so one
    pass serves the dedup policy ("drop if contained" vs "drop if
    near-identical"). Same join shape as ngram_jaccard: two hash
    joins of the pairs table against the shingle projection."""
    sh = docs.select(F.col("doc_id"), shingles(F.col("text")).alias("sh"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(
            sh.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                inter / F.greatest(F.size("sh_a"), F.lit(1)), 6
            ).alias("containment_a_in_b"),
            F.round(
                inter / F.greatest(F.size("sh_b"), F.lit(1)), 6
            ).alias("containment_b_in_a"),
            F.round(
                inter
                / F.greatest(
                    F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))),
                    F.lit(1),
                ),
                6,
            ).alias("jaccard"),
        )
    )
