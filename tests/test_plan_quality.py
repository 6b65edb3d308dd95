"""Physical-plan regression tests: the properties that make the
engine scale must stay visible in explain() output.

These are the checks SURVEY §4 calls out: column pruning down to the
needed columns (never read the html binary unless the operator needs
it), filter pushdown reaching the parquet scan, broadcast for the
small join side, map-side top-k (WindowGroupLimit) for politeness
windows, and partial aggregation for counts.
"""

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from warctools_spark.operators.frontier import (
    dedup_against_seen,
    dedup_within_epoch,
    harvest_canonicalized,
    politeness_schedule,
)
from warctools_spark.sources.pages import synthesize_pages


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan_pages"))
    synthesize_pages(spark, SF_DIR).write.mode("overwrite").parquet(d)
    return d


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_never_reads_html_for_url_ops(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    plan = _plan(pages.where(F.col("url").rlike("^http://hot")).select("url"))
    assert "ReadSchema: struct<url:string>" in plan  # html binary pruned
    assert "PushedFilters: [IsNotNull(url)]" in plan


def test_harvest_scan_reads_only_url_and_html(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    plan = _plan(harvest_canonicalized(pages))
    assert "struct<url:string,html:binary>" in plan  # not text/lang/warc_ts
    # r6: flat mapInPandas kernel — still vectorized Arrow transfer,
    # never row-at-a-time BatchEvalPython
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_no_rowwise_python_udfs_anywhere(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    sched = politeness_schedule(dedup_within_epoch(links), 5)
    plan = _plan(sched)
    assert "BatchEvalPython" not in plan  # row-at-a-time Python = forbidden


def test_anti_join_broadcasts_small_seen(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    cand = dedup_within_epoch(links)
    seen = spark.range(100).select(F.md5(F.col("id").cast("string")).alias("url_sha1"))
    plan = _plan(dedup_against_seen(cand, seen))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def _epoch_dedup_lines(spark, pages_parquet) -> list[str]:
    """The simple physical plan of dedup_against_seen(dedup_within_epoch
    (harvest)), root first, against a 100-key seen set."""
    pages = spark.read.parquet(pages_parquet)
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    seen = spark.range(100).select(F.md5(F.col("id").cast("string")).alias("url_sha1"))
    fresh = dedup_against_seen(dedup_within_epoch(links), seen)
    return fresh._sc._jvm.PythonSQLUtils.explainString(
        fresh._jdf.queryExecution(), "simple"
    ).splitlines()


def _first(lines, *needles) -> int:
    return next(i for i, ln in enumerate(lines) if all(n in ln for n in needles))


def test_broadcast_seen_probe_runs_below_within_epoch_dedup(spark, pages_parquet):
    """A broadcastable seen set is probed in the harvest's map stage:
    the LeftAnti BroadcastHashJoin sits between MapInPandas and
    dedup_within_epoch's partial aggregate, so only fresh links are
    sorted, aggregated and shuffled on url_sha1."""
    lines = _epoch_dedup_lines(spark, pages_parquet)
    order = [
        _first(lines, "Exchange hashpartitioning(url_sha1"),
        _first(lines, "partial_min(struct("),
        _first(lines, "BroadcastHashJoin", "LeftAnti"),
        _first(lines, "MapInPandas"),
    ]
    assert order == sorted(order), "\n".join(lines)


def test_sort_merge_seen_probe_stays_above_within_epoch_dedup(spark, pages_parquet):
    """With broadcast off (a seen set too large to broadcast), the
    anti-join is not pushed: the SortMergeJoin LeftAnti stays above the
    final aggregate, and the partial aggregate stays below the url_sha1
    Exchange, so raw links never cross the wire."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lines = _epoch_dedup_lines(spark, pages_parquet)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not any("BroadcastHashJoin" in ln for ln in lines), "\n".join(lines)
    order = [
        _first(lines, "SortMergeJoin", "LeftAnti"),
        _first(lines, "functions=[min(struct("),
        _first(lines, "Exchange hashpartitioning(url_sha1"),
        _first(lines, "partial_min(struct("),
        _first(lines, "MapInPandas"),
    ]
    assert order == sorted(order), "\n".join(lines)


def test_politeness_window_uses_group_limit(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    plan = _plan(politeness_schedule(dedup_within_epoch(links), 5))
    # Spark 4 WindowGroupLimit: top-k filtered map-side before the
    # shuffle — the property that keeps hot hosts from flooding the wire
    assert "WindowGroupLimit" in plan
    assert plan.count("Partial") >= 1


def test_budgeted_politeness_keeps_group_limit(spark, pages_parquet):
    """With a per-host crawl_delay_ms joined in (not a constant), the
    budget filter must not cost the map-side top-k: the literal
    rn <= k conjunct still plans WindowGroupLimit."""
    pages = spark.read.parquet(pages_parquet)
    links = harvest_canonicalized(pages).withColumn("depth", F.lit(1))
    cand = dedup_within_epoch(links)
    md5_byte = F.conv(F.substring(F.md5("host"), 1, 2), 16, 10).cast("int")
    delays = cand.select("host").distinct().withColumn(
        "crawl_delay_ms", 100 * (1 + F.pmod(md5_byte, F.lit(40)))
    )
    plan = _plan(
        politeness_schedule(cand.join(delays, "host"), 8, epoch_ms=3000)
    )
    assert "WindowGroupLimit" in plan


def test_politeness_skewed_host_topk_below_exchange(spark):
    """One host holding far more than k x (map tasks) candidates: the
    schedule equals a pure-Python per-host top-k, and the partial
    WindowGroupLimit sits below the host Exchange, so at most k rows
    per map task of the hot host cross the shuffle."""
    k, map_tasks = 5, 8
    rows = [
        (
            "hot.example" if i % 10 else f"h{i % 37}.example",
            i % 3,
            f"http://u/{i:05d}",
        )
        for i in range(3000)
    ]
    assert sum(r[0] == "hot.example" for r in rows) > k * map_tasks
    frontier = spark.createDataFrame(
        rows, "host string, depth int, canon_url string"
    ).repartition(map_tasks)
    sched = politeness_schedule(frontier, k)

    by_host = {}
    for host, depth, canon in rows:
        by_host.setdefault(host, []).append((depth, canon))
    want = sorted(
        (host, canon)
        for host, items in by_host.items()
        for _, canon in sorted(items)[:k]
    )
    got = sorted((r["host"], r["canon_url"]) for r in sched.collect())
    assert got == want

    lines = sched._sc._jvm.PythonSQLUtils.explainString(
        sched._jdf.queryExecution(), "simple"
    ).splitlines()
    ex = next(
        i for i, ln in enumerate(lines) if "Exchange hashpartitioning(host" in ln
    )
    assert any(
        "WindowGroupLimit" in ln and "Partial" in ln for ln in lines[ex + 1:]
    ), "\n".join(lines)


def test_host_agg_partial_aggregation(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    links = harvest_canonicalized(pages)
    plan = _plan(links.groupBy("host").agg(F.count("*").alias("n")))
    assert "partial_count" in plan  # map-side combine before shuffle


def test_capped_lsh_single_shuffle_no_window(spark):
    """The capped LSH pair generation must stay single-lineage: one
    band-key exchange between the signature scan and the pair agg, no
    Window/Sort (the conditional pair expression replaces them), and
    no second execution branch over the signature pipeline."""
    from warctools_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_lsh_candidates(docs, num_hashes=16))
    assert "Window" not in plan
    assert "(1) Scan parquet" in plan and "(2) Scan parquet" not in plan
    # exchanges: repartition + band groupBy + final distinct only
    n_exchanges = plan.count("+- Exchange") + plan.count(": Exchange")
    assert n_exchanges <= 3, plan[:2000]


def test_bucketed_probe_plan_is_cogroup(spark):
    """The default Bloom probe is a co-partitioned cogroup — the plan
    shows FlatMapCoGroupsInPandas and never a row-wise Python eval."""
    from warctools_spark.operators import seen as SEEN

    cand = spark.range(100).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    keys = spark.range(50).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )
    bloom = SEEN.build_bloom(keys, n_buckets=4, m_bits=1 << 12, k_hashes=3)
    plan = _plan(SEEN.probe_bucketed(cand, bloom, 4))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_repetition_and_segment_dedup_stay_jvm_side(spark):
    """The Gopher repetition gates and C4 segment dedup are pure
    Catalyst plans: no Python eval nodes, partial hash aggregation
    before every shuffle."""
    from warctools_spark.operators.dedup import segment_dedup
    from warctools_spark.operators.text_analysis import repetition_features

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (repetition_features(docs), segment_dedup(docs)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "HashAggregate" in plan  # map-side combine path


def test_stratified_sample_is_zero_exchange_scan_filter(spark):
    """Hash-gated sampling compiles to scan+filter: no shuffle, no
    Python, membership independent of partition layout."""
    from warctools_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(stratified_sample(docs, {"src0": 1.0, "src1": 0.5}))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_fixed_n_sample_uses_window_group_limit(spark):
    from warctools_spark.operators.sampling import fixed_n_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(fixed_n_sample(docs, 5))
    assert "WindowGroupLimit" in plan  # top-N pushed below the shuffle


def test_training_corpus_v2_is_all_catalyst(spark):
    """The composed v2 chain (gate -> exact dedup -> segment dedup ->
    PII scrub) is pure JVM: no Python eval nodes anywhere in the
    plan."""
    from warctools_spark.plans.corpus import prepare_training_corpus_v2

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(prepare_training_corpus_v2(docs))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_segment_and_revisit_keepers_are_hash_aggs_not_windows(spark):
    """First-occurrence keepers (segment_dedup, revisit_records) must
    be min-over-struct hash aggs — a window formulation would put a
    corpus-wide hot segment/digest into one task."""
    from warctools_spark.operators.dedup import segment_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(segment_dedup(docs))
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_lsh_band_key_storage_prunes_partitions(spark, tmp_path):
    """The ANN scale path: embeddings stored partitionBy(band-0 key)
    let the lsh probe skip every non-matching partition at the scan —
    PartitionFilters visible in the plan, so a 2^bits-way layout cuts
    the probe I/O by ~2^bits at corpus scale."""
    from warctools_spark.operators.dedup import hyperplane_band_keys

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .limit(50)
        .withColumn(
            "band0",
            F.element_at(
                hyperplane_band_keys("embedding", 1, 4, 64), 1
            )["band_key"],
        )
    )
    path = str(tmp_path / "emb_by_band")
    emb.write.partitionBy("band0").mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    key = stored.limit(1).collect()[0]["band0"]
    plan = _plan(stored.where(F.col("band0") == key))
    assert "PartitionFilters" in plan and "band0" in plan.split(
        "PartitionFilters"
    )[1][:200]


def test_round4_ops_stay_jvm_side(spark):
    """The round-4 operators must stay in whole-stage codegen: no
    BatchEvalPython (row-wise Python) anywhere, partial aggregation
    before the shuffle for the counting ops, TakeOrderedAndProject
    (not a global Sort) for the top-n."""
    from warctools_spark.operators.sampling import split_assign
    from warctools_spark.operators.text_analysis import (
        bpe_pair_counts,
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    p = _plan(split_assign(docs).select("doc_id", "split"))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # pure map-side: no exchange at all
    assert "Exchange" not in p

    p = _plan(bpe_pair_counts(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "partial_count" in p  # map-side combine before the shuffle
    assert "TakeOrderedAndProject" in p  # top-n without a global sort

    p = _plan(winnow_fingerprints(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # per-doc window partitioning: the only sort is within doc_id
    # partitions, never a global ordering
    assert "hashpartitioning(doc_id" in p


def _python_nodes(df) -> list[tuple[str, str]]:
    """(node name, plan line) of each Python-evaluating node in df's
    executed plan."""
    tree = df._jdf.queryExecution().executedPlan().toString()
    rx = re.compile(r"(ArrowEvalPython|BatchEvalPython|MapInPandas) ")
    return [(m.group(1), line) for line in tree.splitlines() if (m := rx.search(line))]


def test_warc2warc_decode_is_one_arrow_pass(spark, tmp_path):
    """Decode and re-serialise share one Python node, so the stage
    holds one Python worker per task for them (the read's MapInPandas
    is the other)."""
    from tests.test_archive_ops import WARC_FILE
    from warctools_spark.operators.archive_ops import warc2warc_decode
    from warctools_spark.sources.warc import read_warc

    (tmp_path / "plan.warc").write_bytes(WARC_FILE)
    records = read_warc(spark, str(tmp_path / "plan.warc"))
    nodes = _python_nodes(warc2warc_decode(records, gzip_output=True))
    assert [name for name, _ in nodes] == ["ArrowEvalPython", "MapInPandas"]


def test_cdx_index_is_one_python_udf(spark, pages_parquet):
    """Every cdx_index column (status, mime, digest and length) comes
    from one decode per page: one Python node evaluating one UDF."""
    from warctools_spark.operators.archive_ops import cdx_index

    ((name, line),) = _python_nodes(cdx_index(spark.read.parquet(pages_parquet)))
    assert name == "ArrowEvalPython"
    assert len(set(re.findall(r"pythonUDF\d+", line))) == 1
