"""Crawl ordering + URL-seen-set parity: the Spark engine vs the
single-node reference simulator (north_rule gate), plus snapshot
checkpoint/resume exactness."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from warctools_spark.operators import seen as SEEN
from warctools_spark.plans.catalog import Catalog
from warctools_spark.plans.epoch import (
    init_state,
    restore_bloom,
    resume_state,
    run_crawl,
    run_epoch,
)
from warctools_spark.plans.simulator import simulate_crawl
from warctools_spark.sources.pages import synthesize_pages, url_for

EPOCHS = 3
K = 4


@pytest.fixture(scope="module")
def pages(spark):
    df = synthesize_pages(spark, SF_DIR).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def seeds(spark):
    urls = [url_for(i) for i in range(0, 50, 7)]
    return spark.createDataFrame([(u,) for u in urls], "url string"), urls


def _spark_crawl(pages, seed_df, use_bloom=False):
    queue, seen = init_state(seed_df)
    schedules = []
    for e in range(EPOCHS):
        res = run_epoch(
            pages,
            queue,
            seen,
            epoch=e,
            k_per_host=K,
            bloom=SEEN.build_bloom(seen, n_buckets=32) if use_bloom else None,
        )
        schedules.append(
            sorted(r["canon_url"] for r in res.schedule.select("canon_url").collect())
        )
        queue, seen = res.queue, res.seen
    final_seen = sorted(r["url_sha1"] for r in seen.distinct().collect())
    return schedules, final_seen


def test_engine_matches_simulator(spark, pages, seeds):
    seed_df, urls = seeds
    page_map = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    sim_schedules, sim_seen = simulate_crawl(page_map, urls, EPOCHS, k_per_host=K)
    eng_schedules, eng_seen = _spark_crawl(pages, seed_df)
    assert eng_schedules == sim_schedules  # identical crawl ordering
    assert eng_seen == sorted(sim_seen)  # identical URL-seen set


def test_engine_bloom_and_salting_same_crawl(spark, pages, seeds):
    """The scale path (Bloom two-tier dedup) must not change crawl
    semantics."""
    seed_df, _ = seeds
    plain = _spark_crawl(pages, seed_df)
    scaled = _spark_crawl(pages, seed_df, use_bloom=True)
    assert plain == scaled


def test_checkpoint_resume_exact(spark, pages, seeds, tmp_path):
    seed_df, _ = seeds
    cat = Catalog(str(tmp_path / "cat"), n_buckets=8)
    metrics = run_crawl(
        spark, pages, seed_df, epochs=2, k_per_host=K, catalog=cat
    )
    assert len(metrics) == 2
    assert cat.latest_epoch() == 1
    # append-only seen storage: epoch 1 carries two delta parts
    assert len(cat.seen_parts(1)) == 2
    resumed = resume_state(spark, cat)
    assert resumed is not None
    e, queue, seen = resumed
    assert e == 1
    m = cat.read_manifest(1)
    assert m["metrics"]["queue_size"] == queue.count()
    assert m["metrics"]["seen_size"] == seen.count()
    assert m["metrics"]["lineage"]  # per-partition lineage present

    # continuing from the checkpoint == continuing in-memory
    res_a = run_epoch(pages, queue, seen, epoch=2, k_per_host=K)
    sched_resumed = sorted(
        r["canon_url"] for r in res_a.schedule.select("canon_url").collect()
    )

    queue2, seen2 = init_state(seed_df)
    for e2 in range(2):
        r = run_epoch(pages, queue2, seen2, epoch=e2, k_per_host=K)
        queue2, seen2 = r.queue, r.seen
    res_b = run_epoch(pages, queue2, seen2, epoch=2, k_per_host=K)
    sched_mem = sorted(
        r["canon_url"] for r in res_b.schedule.select("canon_url").collect()
    )
    assert sched_resumed == sched_mem


def test_seen_delta_compaction(spark, pages, seeds, tmp_path):
    """compact_every folds deltas into one base; crawl continues
    identically from either representation."""
    seed_df, _ = seeds
    cat_a = Catalog(str(tmp_path / "a"), n_buckets=8)
    cat_b = Catalog(str(tmp_path / "b"), n_buckets=8)
    m_a = run_crawl(
        spark, pages, seed_df, epochs=3, k_per_host=K, catalog=cat_a,
        compact_every=2,
    )
    m_b = run_crawl(
        spark, pages, seed_df, epochs=3, k_per_host=K, catalog=cat_b,
        compact_every=100,
    )
    # compaction after epoch 1: base + epoch-2 delta = 2 parts
    assert len(cat_a.seen_parts(2)) == 2
    assert len(cat_b.seen_parts(2)) == 3  # never compacted
    sa = resume_state(spark, cat_a)[2]
    sb = resume_state(spark, cat_b)[2]
    assert sorted(r["url_sha1"] for r in sa.collect()) == sorted(
        r["url_sha1"] for r in sb.collect()
    )
    assert [m["seen_size"] for m in m_a] == [m["seen_size"] for m in m_b]


@pytest.mark.parametrize("use_bloom", [False, True])
def test_crash_before_commit_resumes_exactly(
    spark, pages, seeds, tmp_path, monkeypatch, use_bloom
):
    """run_epoch writes the epoch's schedule and queue tables (and
    run_crawl the bloom table) before the manifest commits. A crash in
    between leaves them as orphans the previous manifest does not
    reference: resume starts from the last committed epoch and the
    crawl ends exactly where an uninterrupted one does."""
    seed_df, urls = seeds
    cat = Catalog(str(tmp_path / "cat"), n_buckets=8)
    commit = Catalog.commit

    def crash_at_epoch_1(self, epoch, tables, metrics):
        if epoch == 1:
            raise RuntimeError("driver lost before commit")
        commit(self, epoch, tables, metrics)

    with monkeypatch.context() as m:
        m.setattr(Catalog, "commit", crash_at_epoch_1)
        with pytest.raises(RuntimeError, match="before commit"):
            run_crawl(
                spark, pages, seed_df, epochs=3, k_per_host=K,
                catalog=cat, use_bloom=use_bloom,
            )
    assert cat.latest_epoch() == 0
    # the epoch-1 tables were written, but no manifest references them
    assert os.path.exists(cat.table_path("queue", 1))
    if use_bloom:
        assert os.path.exists(cat.table_path("bloom", 1))
        m_bits, k_hashes = SEEN.optimal_params(1 << 16, 0.01)
        restored = restore_bloom(spark, cat, m_bits, k_hashes, 32)
        assert restored.inputFiles()
        assert all("/bloom/epoch=00000/" in f for f in restored.inputFiles())

    e, queue, seen = resume_state(spark, cat)
    # no manifest expires, but the orphan sweep reclaims exactly the
    # uncommitted epoch-1 dirs and keeps every referenced one
    swept = cat.expire_snapshots()
    orphans = ["bloom"] * use_bloom + ["queue", "schedule", "seen_delta"]
    assert swept["expired_epochs"] == []
    assert sorted(swept["deleted_dirs"]) == [f"{t}/epoch=00001" for t in orphans]
    assert all(
        os.path.exists(os.path.join(cat.root, p)) for p in cat.referenced_paths([0])
    )
    run_crawl(
        spark, pages, seed_df, epochs=2, k_per_host=K, catalog=cat,
        use_bloom=use_bloom, start_epoch=e + 1, initial_state=(queue, seen),
    )
    assert cat.latest_epoch() == 2

    page_map = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    sim_schedules, sim_seen = simulate_crawl(page_map, urls, 3, k_per_host=K)
    schedules = [
        sorted(
            r["canon_url"]
            for r in cat.read_table(spark, "schedule", ep)
            .select("canon_url").collect()
        )
        for ep in range(3)
    ]
    assert schedules == sim_schedules
    seen_final = resume_state(spark, cat)[2]
    assert sorted(r["url_sha1"] for r in seen_final.collect()) == sorted(
        sim_seen
    )


def test_engine_matches_simulator_with_robots(spark, pages, seeds):
    """Crawl parity incl. robots disallow rules + crawl-delay fetch
    budgets (engine: broadcast join + budgeted host window;
    simulator: explicit dict) — schedules and seen sets must agree."""
    from warctools_spark.kernels.robots import parse_robots
    from warctools_spark.operators.robots import parse_robots_table

    seed_df, urls = seeds
    robots_txt = {
        "hot.example.com": b"User-agent: *\nCrawl-delay: 30\nDisallow: /doc/13\n",
        "src3.example.com": b"User-agent: *\nDisallow: /\n",
    }
    raw = spark.createDataFrame(
        [(h, bytearray(t)) for h, t in robots_txt.items()],
        "host string, robots_txt binary",
    )
    robots_df = parse_robots_table(raw)
    robots_dict = {h: parse_robots(t) for h, t in robots_txt.items()}

    page_map = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    sim_schedules, sim_seen = simulate_crawl(
        page_map, urls, EPOCHS, k_per_host=K, robots=robots_dict
    )

    queue, seen = init_state(seed_df)
    eng_schedules = []
    for e in range(EPOCHS):
        res = run_epoch(
            pages, queue, seen, epoch=e, k_per_host=K, robots=robots_df
        )
        eng_schedules.append(
            sorted(r["canon_url"] for r in res.schedule.select("canon_url").collect())
        )
        queue, seen = res.queue, res.seen
    eng_seen = sorted(r["url_sha1"] for r in seen.distinct().collect())

    assert eng_schedules == sim_schedules
    assert eng_seen == sorted(sim_seen)
    # the crawl-delay budget bit: hot host capped at 60000/30000 = 2
    for sched in eng_schedules:
        hot = [u for u in sched if "hot.example.com" in u]
        assert len(hot) <= 2


def test_crawl_deterministic_across_partitioning(spark, pages, seeds):
    """The schedule must be a pure function of the data — identical
    under different shuffle partitioning (SURVEY §7 'hard' #2)."""
    seed_df, _ = seeds
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _spark_crawl(pages, seed_df)
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        b = _spark_crawl(pages, seed_df)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_long_crawl_with_bloom_and_compaction(spark, pages, seeds, tmp_path):
    """10 epochs end-to-end with Bloom dedup and seen-delta
    compaction: the crawl reaches the full reachable set and matches
    the simulator's final seen set."""
    seed_df, urls = seeds
    cat = Catalog(str(tmp_path / "long"), n_buckets=8)
    metrics = run_crawl(
        spark,
        pages,
        seed_df,
        epochs=10,
        k_per_host=K,
        catalog=cat,
        use_bloom=True,
        compact_every=4,
    )
    assert len(metrics) >= 3
    # seen grows monotonically; queue eventually stabilizes or drains
    seen_sizes = [m["seen_size"] for m in metrics]
    assert seen_sizes == sorted(seen_sizes)
    page_map = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    _, sim_seen = simulate_crawl(page_map, urls, len(metrics), k_per_host=K)
    # seen_size is counted once and advanced by each epoch's fresh
    # count: still exact across Bloom dedup and compaction
    assert seen_sizes[-1] == len(sim_seen)
    e, _, seen = resume_state(spark, cat)
    assert sorted(r["url_sha1"] for r in seen.distinct().collect()) == sorted(
        sim_seen
    )


def test_queue_drains_scheduled(spark, pages, seeds):
    seed_df, _ = seeds
    queue, seen = init_state(seed_df)
    res = run_epoch(pages, queue, seen, epoch=0, k_per_host=1000)
    # every seed was scheduled, so the next queue contains only new urls
    overlap = res.queue.join(
        queue.select("url_sha1"), on="url_sha1", how="inner"
    ).count()
    assert overlap == 0
    assert res.metrics["scheduled"] == queue.count()


def test_link_rank_properties(spark):
    """PageRank sanity on a known graph: ranks sum to ~1 minus the
    dangling leak, a sink pointed at by everything outranks sources,
    and results are parallelism-invariant."""
    from pyspark.sql import functions as F

    from warctools_spark.operators.frontier import link_rank

    # star: 0..8 all point to 9; 9 points back to 0
    edges = spark.createDataFrame(
        [(i, 9) for i in range(9)] + [(9, 0)], "src long, dst long"
    )
    verts = spark.range(10).select(F.col("id").alias("node"))
    ranks = {r["node"]: r["rank"] for r in link_rank(edges, verts).collect()}
    assert ranks[9] == max(ranks.values())
    assert ranks[0] > ranks[1]  # 9's backlink boosts 0
    assert abs(ranks[1] - ranks[8]) < 1e-12  # symmetric sources

    r1 = sorted(
        (r["node"], round(r["rank"], 12))
        for r in link_rank(edges.repartition(1), verts).collect()
    )
    r16 = sorted(
        (r["node"], round(r["rank"], 12))
        for r in link_rank(edges.repartition(16), verts).collect()
    )
    assert r1 == r16
