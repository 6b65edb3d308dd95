"""Link-graph analytics over the host graph: TrustRank and HITS.

A crawl scheduler needs a global host-importance signal — which hosts
deserve budget, which spam farms to starve. Rank propagation over the
host-level link graph (host_graph: ~5 orders of magnitude smaller
than the URL graph at Common-Crawl scale) is the classic answer
(Page et al. 1999; also the original motivation for the crawl-order
literature). No reference counterpart — warctools has no graph
analytics; the algorithms are cited from the public papers only.

Determinism contract (the same discipline as every operator here):
each iteration's ranks are rounded to `round_iter` decimals, so the
fixed-point trajectory is bit-identical across partitionings,
engines, and run orders — double-precision sum-order noise is
~1e-16 relative and dies at the 1e-12 rounding boundary
(ORACLES.md #5). The DuckDB replay in the tests runs the identical
iteration SQL and must hash-match exactly.

Scale: per iteration, ONE shuffle — contributions aggregated by dst
with map-side partial agg (a mega-host's in-links combine per task
before the wire). The dangling-mass term is a 1-row DataFrame
crossJoined (never a driver collect inside the loop), and each
iteration is localCheckpoint'ed so lineage depth stays O(1) over
arbitrarily many iterations. Node and
normalized-edge tables are computed once outside the loop. At 10^8
hosts the rank table is two columns — megabytes per executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def trustrank(
    edges: DataFrame,
    seeds,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = None,
    round_iter: int = 12,
    round_final: int = 6,
) -> DataFrame:
    """Seed-biased PageRank ("TrustRank", Gyöngyi, Garcia-Molina &
    Pedersen, VLDB 2004): teleportation goes ONLY to a hand-vetted
    seed set of trusted hosts, so trust decays with link distance from
    the seeds and spam farms that PageRank rewards (dense mutual
    linking far from any reputable host) score ~0. The crawl scheduler
    uses it as an anti-spam signal: budget by trustrank, starve hosts
    whose untrusted rank far exceeds their trust.

        TR_{t+1}(v) = (1-d)*t(v) + d*( sum_{u->v} TR_t(u)*share(u,v)
                                      + dangling_t * t(v) )

    where t(v) = 1/|S| for seed nodes, 0 otherwise (dangling mass is
    redistributed by the SAME teleport vector — the standard
    personalized-PageRank convention, which keeps total mass at 1.0).
    TR_0 = t. Nodes unreachable from every seed converge to exactly 0.

    `seeds` is a list of node names or a single-column DataFrame; seeds
    that never appear in `edges` are ignored (trust is normalized over
    the seeds actually in the graph). Raises if none remain.

    Determinism contract as in the module docstring: fixed n_iter,
    one shuffle per iteration (map-side-combined sum by dst), 1-row
    broadcast dangling term, O(1) lineage via localCheckpoint, ranks
    rounded to `round_iter` decimals each step so the trajectory is
    partitioning/engine-exact. The teleport table is node-sized (two
    columns), built once outside the loop. No reference counterpart —
    warctools has no graph analytics; cited from the public paper.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    # materialized once — nodes/share/sinks/seed join all read it
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if isinstance(seeds, DataFrame):
        seed_df = seeds.select(F.col(seeds.columns[0]).alias("node"))
    else:
        seed_df = edges.sparkSession.createDataFrame(
            [(str(s),) for s in seeds], "node string"
        )
    seed_nodes = nodes.join(
        seed_df.distinct(), "node", "left_semi"
    ).localCheckpoint(eager=False)
    ns = seed_nodes.count()
    if ns == 0:
        raise ValueError("no seed appears in the edge table")
    teleport = (
        nodes.join(
            seed_nodes.select("node", F.lit(1.0 / ns).alias("t")), "node", "left"
        )
        .select("node", F.coalesce(F.col("t"), F.lit(0.0)).alias("t"))
        .localCheckpoint(eager=False)
    )
    wout = e.groupBy("src").agg(F.sum("w").alias("wout"))
    share = (
        e.groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .join(wout, "src")
        .select("src", "dst", (F.col("w") / F.col("wout")).alias("share"))
        .localCheckpoint(eager=False)
    )
    sinks = nodes.join(
        wout.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=False)
    # no sinks -> dangling mass is exactly 0.0 every iteration (and
    # 0.0 * t == 0.0 for the non-negative teleport vector): skip the
    # per-iteration dangling join+broadcast (one count on the
    # materialized sinks table buys n_iter fewer jobs)
    has_sinks = sinks.count() > 0

    ranks = teleport.select("node", F.round(F.col("t"), round_iter).alias("pr"))
    for _ in range(n_iter):
        contrib = (
            share.join(ranks, share.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("share")).alias("c"))
        )
        new_ranks = teleport.join(contrib, teleport.node == contrib.dst, "left")
        if has_sinks:
            dangling = sinks.join(ranks, "node").agg(
                F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang")
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(dangling))
            dang_term = F.col("dang") * F.col("t")
        else:
            dang_term = F.lit(0.0)
        ranks = new_ranks.select(
            "node",
            F.round(
                F.lit(1.0 - damping) * F.col("t")
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + dang_term),
                round_iter,
            ).alias("pr"),
            # eager=False (r6): the checkpoint truncates the plan to
            # a LogicalRDD at once either way (O(1) lineage), but
            # deferring materialization turns n_iter blocking driver
            # jobs into one cascaded action at the first consumer
        ).localCheckpoint(eager=False)
    return ranks.select("node", F.round(F.col("pr"), round_final).alias("trustrank"))


def hits(
    edges: DataFrame,
    n_iter: int = 10,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = None,
    round_iter: int = 12,
    round_final: int = 6,
) -> DataFrame:
    """Hubs and authorities (Kleinberg, JACM 1999 — HITS): the
    mutually recursive pair

        auth_{t+1}(v) = sum_{u->v} w(u,v) * hub_t(u)
        hub_{t+1}(u)  = sum_{u->v} w(u,v) * auth_{t+1}(v)

    each L1-normalized (sum = 1) after its update. For a crawl
    scheduler the two scores split a single link-rank signal: good
    HUBS (directories, feeds, sitemaps-of-links) are where frontier
    expansion pays off; good AUTHORITIES are what deserves content
    budget. Output: (node, hub, authority), one row per node;
    sourceless nodes have authority 0, sinkless nodes hub 0 — both
    exactly, never NULL.

    Same determinism contract as `trustrank`: fixed iteration count, per-iteration ROUND(round_iter) so the
    trajectory is partitioning/engine-exact, localCheckpoint per step
    for O(1) lineage. Each iteration is TWO map-side-combined
    shuffles (one per direction) and two 1-row broadcast
    normalizers. No reference counterpart; cited from the public
    paper only."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            w.alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        # checkpoint the RAW scores (the edge join + agg — the
        # expensive part) so they compute exactly once; r5 aggregated
        # the same un-checkpointed plan twice per call (once under the
        # total broadcast, once under the checkpoint). eager=False
        # (r6): the plan is truncated to a LogicalRDD immediately —
        # both consumers (normalizer agg + join) share the cached RDD
        # — but materialization defers to the first action, removing
        # 2*n_iter blocking driver jobs per call.
        raw = scores.localCheckpoint(eager=False)
        total = F.broadcast(
            raw.agg(F.sum(col).cast("double").alias("__S"))
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(total)
            .select(
                "node",
                F.round(
                    F.coalesce(F.col(col), F.lit(0.0)) / F.col("__S"),
                    round_iter,
                ).alias(col),
            )
        )

    hub = nodes.select("node", F.lit(round(1.0 / n, round_iter)).alias("hub"))
    auth = None
    for _ in range(n_iter):
        auth = _norm(
            e.join(hub, e.src == hub.node)
            .groupBy("dst")
            .agg(F.sum(F.col("hub") * F.col("w")).alias("authority"))
            .withColumnRenamed("dst", "node"),
            "authority",
        )
        hub = _norm(
            e.join(auth, e.dst == auth.node)
            .groupBy("src")
            .agg(F.sum(F.col("authority") * F.col("w")).alias("hub"))
            .withColumnRenamed("src", "node"),
            "hub",
        )
    return (
        hub.join(auth, "node")
        .select(
            "node",
            F.round(F.col("hub"), round_final).alias("hub"),
            F.round(F.col("authority"), round_final).alias("authority"),
        )
    )
