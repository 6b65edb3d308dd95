"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k: exact baseline, one pass over the table,
  JVM-side zip_with/aggregate arithmetic, top-k via orderBy+limit
  (Spark's TakeOrderedAndProject — no full sort materialization).
* banded hyperplane-LSH ANN: candidates share the query's band key
  in any band, reranked by exact cosine.
* k-means IVF ANN: deterministic Lloyd centroids as the coarse
  quantizer; queries probe their 2 nearest cells only.
* k-means clustering and SemDeDup-style survivors on top of it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_to_query(
    emb: DataFrame, query_vec: list[float], vec_col: str = "embedding"
) -> DataFrame:
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    qn = sum(v * v for v in query_vec) ** 0.5
    return emb.withColumn(
        "cosine",
        _dot(F.col(vec_col).cast("array<double>"), q) / (F.lit(qn) * _norm(F.col(vec_col).cast("array<double>"))),
    )


def brute_force_topk(
    emb: DataFrame, query_vec: list[float], vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-10 with a deterministic id tiebreak."""
    return (
        cosine_to_query(emb, query_vec, vec_col)
        .select(F.col("vec_id"), F.round(F.col("cosine"), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def lsh_topk(emb: DataFrame, query_vec: list[float]) -> DataFrame:
    """ANN top-10 via banded hyperplane LSH probe + exact rerank — the
    scale path beyond brute force: candidates are rows sharing
    the query's band key in ANY of 4 bands of 8 bits (expected corpus
    fraction ~4/2^8), reranked by exact cosine.

    Plan shape: the probe is a literal isin() filter on precomputed
    band keys — pushdown-able to the scan, and partition-pruning if
    the corpus is stored bucketed by (band, band_key); the rerank is
    TakeOrderedAndProject over the small candidate set. Shares the
    deterministic md5-parity hyperplanes with the dedup family
    (dedup._hyperplane), so one stored key table serves both."""
    from warctools_spark.operators.dedup import (
        _hyperplane,
        _require_dims,
        _resolve_dims,
        hyperplane_band_keys,
    )

    # dims must match BOTH sides: a mismatch makes the corpus-side
    # zip_with null out (all-zeros keys) while the driver-side query
    # keys stay real — candidates go near-empty with no error
    dims = _resolve_dims(emb)
    emb = _require_dims(emb, dims)
    if len(query_vec) != dims:
        raise ValueError(
            f"query_vec has {len(query_vec)} dims but corpus embeddings "
            f"have {dims}"
        )

    # query-side keys computed driver-side with the same hyperplanes
    probe_keys = []
    for b in range(4):
        bits = []
        for j in range(8):
            h = _hyperplane(b, j, dims)
            dot = sum(x * y for x, y in zip(query_vec, h))
            bits.append("1" if dot >= 0 else "0")
        probe_keys.append(f"{b}:{''.join(bits)}")

    keyed = emb.withColumn(
        "__v", F.col("embedding").cast("array<double>")
    ).withColumn(
        "__bk",
        F.transform(
            hyperplane_band_keys("__v", 4, 8, dims),
            lambda s: F.concat(
                s["band"].cast("string"), F.lit(":"), s["band_key"]
            ),
        ),
    )
    cands = keyed.where(
        F.arrays_overlap(
            "__bk", F.array(*[F.lit(p) for p in probe_keys])
        )
    ).drop("__bk", "__v")
    return brute_force_topk(cands, query_vec)


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    """Squared euclidean distance to a literal centroid, summed as a
    left fold in index order — the same fold order DuckDB's list
    functions use, so oracle values match bit-for-bit pre-rounding."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kmeans_assign(emb: DataFrame) -> DataFrame:
    """Deterministic two-iteration Lloyd 8-means over an embedding
    column — the clustering stage of SemDeDup-style semantic dedup
    (cluster first, then run exact near-dup only within clusters) and
    of IVF index training.

    Determinism: centroids initialize to the vectors of the 8 lowest
    ids (no RNG); assignment argmin breaks ties on cluster id; updated
    centroids round to 6 decimals so the ~1e-13
    summation-order noise of a distributed avg cannot flip later
    assignments between runs or engines.

    Scale shape: assignment has two interchangeable physical modes,
    picked by size. Below 8*dims = 1024 (the oracle-parity regime),
    "expr": a JVM-only expression over a literal centroid array (no
    join, no shuffle, and the exact left-fold arithmetic the DuckDB
    oracle replays bit-for-bit). From 1024 on (real 384-dim
    embeddings), "pandas": one Arrow-batched numpy GEMM per batch
    (||x-c||² = ||x||² - 2x·Cᵀ + ||c||²), which beats the
    8×dims-literal codegen once centroids get large but sums in
    pairwise (not left-fold) order, so argmin can differ from "expr"
    only on sub-ulp distance ties. The update is one posexplode +
    (cluster, dim) hash agg with map-side combine, and only 8 x dims
    averaged values return to the driver (the same O(small) driver
    traffic as Lloyd on any cluster). Returns (id, cluster, dist)
    with dist rounded to 6.
    """
    assigned, _ = _lloyd(emb, "auto")
    return assigned.select(
        "vec_id",
        "cluster",
        F.round(F.sqrt(F.col("__d2")), 6).alias("dist"),
    )


def _assign_to_centroids(
    df: DataFrame, centroids: dict, assign_mode: str
) -> DataFrame:
    """Assign rows (with a `__v` array<double> column) to the nearest
    of a literal centroid dict — the single assignment implementation
    shared by the Lloyd loop and the IVF query path, so their cluster
    semantics cannot drift apart.
    Returns df + (cluster, __d2)."""
    from pyspark.sql.functions import pandas_udf

    if assign_mode == "expr":
        cells = F.array(
            *[
                F.struct(
                    _sq_dist(F.col("__v"), c).alias("d2"),
                    F.lit(cid).alias("cluster"),
                )
                for cid, c in sorted(centroids.items())
            ]
        )
        best = F.array_min(cells)
        return df.withColumn("cluster", best["cluster"]).withColumn(
            "__d2", best["d2"]
        )
    cids = np.array(sorted(centroids))
    cmat = np.array([centroids[c] for c in sorted(centroids)])
    cnorm = (cmat * cmat).sum(axis=1)

    @pandas_udf("struct<cluster:int,d2:double>")
    def _assign(vs: pd.Series) -> pd.DataFrame:
        x = np.array(vs.tolist(), dtype=np.float64)
        if x.size == 0:
            return pd.DataFrame({"cluster": [], "d2": []})
        d2 = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ cmat.T)
            + cnorm[None, :]
        )
        best = d2.argmin(axis=1)  # first index wins = lowest cid
        return pd.DataFrame(
            {
                "cluster": cids[best].astype("int32"),
                # clamp: the expanded form can go slightly negative
                "d2": np.maximum(d2[np.arange(len(best)), best], 0.0),
            }
        )

    a = _assign(F.col("__v"))
    return df.withColumn("cluster", a["cluster"]).withColumn(
        "__d2", a["d2"]
    )


def _lloyd(emb: DataFrame, assign_mode: str) -> tuple[DataFrame, dict]:
    """Shared two-iteration Lloyd 8-means behind kmeans_assign and
    ivf_kmeans_topk over (vec_id, embedding): assign to the 8 lowest-id
    vectors, move each centroid to its cluster's mean, assign again.
    `assign_mode` is "expr", or "auto" to pick by 8*dims. Returns
    (assigned(vec_id, __v, cluster, __d2), final centroids, rounded
    to 6 decimals)."""
    from warctools_spark.operators.dedup import _require_dims

    # dims derives from the init collect (which Lloyd needs anyway)
    # instead of a dedicated min/max-size aggregate over the whole
    # table — one full input pass fewer per call (r6). Ragged vectors
    # beyond the sampled init rows still FAIL the job via the
    # executor-side _require_dims guard on every later pass.
    init_rows = (
        emb.select(
            F.col("vec_id"), F.col("embedding").cast("array<double>").alias("__v")
        )
        .orderBy("vec_id")
        .limit(8)
        .collect()
    )
    if not init_rows:
        raise ValueError(
            "cannot initialize k-means: input has no vectors"
        )
    if any(r["__v"] is None for r in init_rows):
        raise ValueError(
            "null embedding among the 8 lowest-id init vectors; drop "
            "null vectors before clustering"
        )
    dims = len(init_rows[0]["__v"])
    if any(len(r["__v"]) != dims for r in init_rows):
        raise ValueError(
            "ragged embedding column 'embedding' among the 8 lowest-id "
            "init vectors; filter to one dimensionality first"
        )
    keyed = _require_dims(emb, dims).select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("__v")
    )
    centroids = {i: list(r["__v"]) for i, r in enumerate(init_rows)}
    if assign_mode == "auto":
        assign_mode = "pandas" if 8 * dims >= 1024 else "expr"
    assigned = _assign_to_centroids(keyed, centroids, assign_mode)
    upd = (
        assigned.select("cluster", F.posexplode("__v").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.round(F.avg("val"), 6).alias("val"))
        .collect()
    )
    new_c: dict = {}
    for r in upd:
        new_c.setdefault(int(r["cluster"]), [0.0] * dims)[int(r["dim"])] = (
            float(r["val"])
        )
    # empty clusters keep their previous centroid
    centroids = {cid: new_c.get(cid, c) for cid, c in centroids.items()}
    return _assign_to_centroids(keyed, centroids, assign_mode), centroids


def ivf_kmeans_topk(emb: DataFrame, query_vec: list[float]) -> DataFrame:
    """ANN top-10 over a kmeans-trained IVF index (the classic
    inverted-file ANN: Lloyd centroids as the coarse quantizer).
    Train 8 deterministic Lloyd centroids in 2 iterations, pick the
    2 cells whose centroids are nearest the query
    (driver-side — 8 distances), and exact-rerank only the vectors
    assigned to those cells.

    Scale shape: training is the kmeans_assign plan (map-side combined
    centroid update, 8*dims rows to the driver); the
    probe is a literal IN filter on the cluster column — if the corpus
    is stored partitioned by cluster (the IVF layout), that prunes
    ~3/4 of the scan before it starts; the rerank is
    TakeOrderedAndProject over the probed fraction. Expected recall
    rises with the cells probed; exact when all 8 are. In production
    the trained index (cluster column + centroid table) is written
    once and reused across queries — this entry trains per call only
    so the whole path stays one oracle-checkable expression."""
    assigned, centroids = _lloyd(emb, "expr")
    probe = _select_probe_cells(centroids, query_vec)
    cands = assigned.where(F.col("cluster").isin(probe))
    return brute_force_topk(cands, query_vec, vec_col="__v")


def _select_probe_cells(centroids: dict, query_vec: list[float]) -> list[int]:
    """The 2 cluster ids nearest the query — driver-side left-fold
    float64 arithmetic (the same order as the SQL oracle's list_sum
    fold), ties broken on cluster id."""
    if not centroids:
        raise ValueError("empty centroid set: no vectors to index")
    dims = len(next(iter(centroids.values())))
    if len(query_vec) != dims:
        raise ValueError(
            f"query_vec has {len(query_vec)} dims but centroids have "
            f"{dims}"
        )
    ranked = sorted(
        (
            sum((x - y) * (x - y) for x, y in zip(query_vec, c)),
            cid,
        )
        for cid, c in centroids.items()
    )
    return [cid for _, cid in ranked[:2]]


def semdedup_survivors(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 pattern, public): cluster the
    embeddings (8-means, 2 Lloyd iterations), then drop any vector whose cluster contains a
    LOWER-id vector with cosine >= threshold. Returns survivors
    (id, cluster).

    This is the scale story for semantic dedup: the O(n²) cosine
    comparison is confined within k-means cells, so the self-join
    shuffles on the cluster key and each task does at most
    (n/8)² work on an even split. Keeper
    choice (lowest id) is deterministic; the cosine is rounded to 6
    before thresholding so engine fp noise cannot flip membership."""
    assigned = kmeans_assign(emb).select(
        F.col("vec_id"), "cluster"
    )
    keyed = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("__v")
    ).join(assigned, "vec_id")
    a = keyed.select(
        F.col("vec_id").alias("id_a"), "cluster", F.col("__v").alias("__va")
    )
    b = keyed.select(
        F.col("vec_id").alias("id_b"), "cluster", F.col("__v").alias("__vb")
    )
    cos = _dot(F.col("__va"), F.col("__vb")) / (
        _norm(F.col("__va")) * _norm(F.col("__vb"))
    )
    dropped = (
        a.join(b, "cluster")
        .where(F.col("id_b") < F.col("id_a"))
        .where(F.round(cos, 6) >= threshold)
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
    )
    return keyed.join(dropped, "vec_id", "left_anti").select(
        F.col("vec_id"), "cluster"
    )
