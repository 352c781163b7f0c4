"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline (pure JVM-side
`aggregate`/`zip_with` — no Python in the hot path), plus an LSH
(random-hyperplane) bucketed variant as the 100 TB scale path: buckets
shrink the candidate set from all-pairs to per-bucket, the rerank is
the same JVM cosine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn(
        "_norm",
        F.sqrt(
            F.aggregate(
                vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        ),
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries, JVM-side dot
    products, ranking window with deterministic (score desc, id asc)
    tie-break. Self-matches excluded."""
    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("item_vec"),
        F.col("_norm").alias("item_norm"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
    )
    scored = base.crossJoin(F.broadcast(q)).filter(
        F.col("item_id") != F.col("query_id")
    ).withColumn(
        "cosine",
        F.round(
            _dot(F.col("q_vec"), F.col("item_vec")) / (F.col("q_norm") * F.col("item_norm")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("item_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cosine")
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (sign bits packed to int).
    Deterministic planes from a seeded RNG, broadcast in the closure."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim)).astype(np.float64)

    def kernel(batches):
        for pdf in batches:
            mat = np.stack([np.asarray(v, np.float64) for v in pdf[vec_col]])
            bits = (mat @ planes.T) > 0
            bucket = np.zeros(len(pdf), np.int64)
            for i in range(n_planes):
                bucket |= bits[:, i].astype(np.int64) << i
            yield pd.DataFrame({id_col: pdf[id_col], "bucket": bucket})

    return embeddings.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, bucket long"
    )


def hyperplane_signatures_multi(
    embeddings: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed_base: int = 300,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All tables' hyperplane buckets in ONE Arrow pass: a single
    (n, dim) x (dim, tables*planes) matmul per batch, long-form output
    (id, table, bucket). Per-table planes are identical to calling
    hyperplane_signatures with seed_base+t — the fused form exists so
    multi-table LSH costs one Python stage, not n_tables stages."""
    planes = np.concatenate(
        [
            np.random.default_rng(seed_base + t).standard_normal((n_planes, dim))
            for t in range(n_tables)
        ]
    ).astype(np.float64)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack([np.asarray(v, np.float64) for v in pdf[vec_col]])
            bits = (mat @ planes.T) > 0  # (n, tables*planes)
            buckets = (
                bits.reshape(len(pdf), n_tables, n_planes) @ weights
            )  # (n, tables)
            ids = np.repeat(pdf[id_col].to_numpy(), n_tables)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "table": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, table int, bucket long"
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 10,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: multi-table hyperplane LSH candidate union + exact
    cosine rerank. Recall < 1 by design; the scale path when a
    broadcast cross join is no longer feasible.

    All tables' signatures come from ONE fused pass per side
    (hyperplane_signatures_multi) and the candidate union is ONE
    equi-join on (table, bucket) — constant stage count in n_tables."""
    sig_e = hyperplane_signatures_multi(
        embeddings, dim, n_planes, n_tables, seed_base=100,
        id_col=id_col, vec_col=vec_col,
    )
    sig_q = hyperplane_signatures_multi(
        queries, dim, n_planes, n_tables, seed_base=100,
        id_col=id_col, vec_col=vec_col,
    )
    cands = (
        sig_e.withColumnRenamed(id_col, "item_id")
        .join(
            F.broadcast(sig_q.withColumnRenamed(id_col, "query_id")),
            ["table", "bucket"],
        )
        .select("query_id", "item_id")
        .filter(F.col("query_id") != F.col("item_id"))
        .distinct()
    )

    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("item_vec"),
        F.col("_norm").alias("item_norm"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
    )
    scored = cands.join(base, "item_id").join(F.broadcast(q), "query_id").withColumn(
        "cosine",
        F.round(
            _dot(F.col("q_vec"), F.col("item_vec")) / (F.col("q_norm") * F.col("item_norm")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("item_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cosine")
    )


def _cosine_verify_pairs(
    embeddings: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Join candidate (id_a, id_b) pairs back to vectors and keep those
    with exact cosine >= threshold (JVM-side dot products)."""
    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col("_norm").alias("_n"),
    )
    return (
        cand.join(
            base.select(F.col("_vid").alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na")),
            "id_a",
        )
        .join(
            base.select(F.col("_vid").alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")),
            "id_b",
        )
        .withColumn(
            "cosine",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs (cosine >= threshold) — the DEFAULT,
    scale-safe path: candidates from multi-table random-hyperplane
    buckets (an equi-join per table, unioned), exact cosine verify on
    candidates only. Precision is 1.0; recall follows the hyperplane
    S-curve (1-(1-(1-theta/pi)^n_planes)^n_tables) EXCEPT for
    exactly-parallel vectors (exact or positively-scaled duplicates),
    which share every bucket in every table, so duplicate recall is
    provably 1. Never an all-pairs or nested-loop join.

    n_planes is the bucket-granularity dial: buckets ~ 2^n_planes, and
    within-bucket pairing is quadratic, so size it to keep the expected
    bucket occupancy O(1) at the corpus size (16 planes -> 65k buckets;
    add tables, not fewer planes, to buy recall back).

    Plan shape: ONE signature pass (all tables fused into a single
    matmul, hyperplane_signatures_multi), ONE self equi-join on
    (table, bucket), dedup, verify — constant stage count in
    n_tables."""
    sig = hyperplane_signatures_multi(
        embeddings, dim, n_planes, n_tables, seed_base=300,
        id_col=id_col, vec_col=vec_col,
    )
    cands = (
        sig.select(F.col(id_col).alias("id_a"), "table", "bucket")
        .join(
            sig.select(F.col(id_col).alias("id_b"), "table", "bucket"),
            ["table", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _cosine_verify_pairs(embeddings, cands, threshold, id_col, vec_col)


def embedding_neardup_pairs_exact(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold via a full self theta-join —
    EXACT but quadratic: the recall oracle for tests and small batches,
    never the production path (use embedding_neardup_pairs)."""
    cand = (
        embeddings.select(F.col(id_col).alias("id_a"))
        .join(embeddings.select(F.col(id_col).alias("id_b")), F.col("id_a") < F.col("id_b"))
    )
    return _cosine_verify_pairs(embeddings, cand, threshold, id_col, vec_col)


def train_ivf_centroids(
    embeddings: DataFrame,
    n_clusters: int = 16,
    n_iter: int = 10,
    sample_rows: int = 20_000,
    seed: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """k-means coarse quantizer trained driver-side on a bounded sample
    (the standard IVF recipe: the quantizer is tiny and global, the
    assignment is distributed). Deterministic: the sample is the
    sample_rows lowest ids (TakeOrdered, not a partition-order limit),
    seeded init, fixed iteration count."""
    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_rows)
        .toPandas()
    )
    x = np.stack([np.asarray(v, np.float64) for v in pdf[vec_col]])
    return kmeans_fit(x, n_clusters, n_iter, seed)


def kmeans_fit(
    x: np.ndarray, n_clusters: int, n_iter: int = 10, seed: int = 0
) -> np.ndarray:
    """Spherical k-means on a local sample (shared by the Spark
    trainer above and the driver-query oracle, which refits the same
    centroids from the same deterministic sample)."""
    x = np.asarray(x, np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=n_clusters, replace=False)]
    for _ in range(n_iter):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(n_clusters):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def _assign_clusters(df, centroids, nprobe, id_col, vec_col, out_id):
    """(id, vec) -> exploded (id, cluster) rows for the nprobe nearest
    centroids (nprobe=1 for the indexed side, >1 for queries)."""
    cent = centroids  # captured

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, np.float64) for v in pdf[vec_col]])
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = x @ cent.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    out_id: np.repeat(pdf[id_col].to_numpy(), nprobe),
                    "cluster": top.ravel().astype(np.int32),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{out_id} long, cluster int"
    )


def _assign_with_sim(df, centroids, id_col, vec_col):
    """(id, vec) -> (id, cluster, c_sim): nearest-centroid assignment
    plus the (unrounded) cosine to that centroid, one Arrow pass.
    Centroids are unit vectors (kmeans_fit normalizes), so the dot of
    the normalized row against the centroid IS the cosine. argmax ties
    break to the lowest cluster index — the same rule the DuckDB
    oracles use (ROW_NUMBER ... ORDER BY sim DESC, cluster)."""
    cent = centroids  # captured

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, np.float64) for v in pdf[vec_col]])
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = x @ cent.T
            top = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": top.astype(np.int32),
                    "c_sim": sims[np.arange(len(pdf)), top],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, cluster int, c_sim double"
    )


def semdedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the deterministic
    spherical k-means quantizer, then inside each cluster drop every
    item whose cosine to a KEPT-RANKED-BEFORE member is >= eps. Keep
    priority follows the paper: the member FARTHER from the centroid
    (lower c_sim) survives — semantic prototypes are dropped, outliers
    kept — with ascending-id tie-break on equal (rounded) c_sim, so
    exact copies resolve to the lowest id. The drop test for item a is
    "exists b in a's cluster ranked before a with cos(a,b) >= eps",
    independent of whether b itself survives — deterministic and
    order-free (no greedy scan), hence oracle-checkable.

    Returns one row per input vector:
      (id, cluster, c_sim, dup_cos, kept) where dup_cos is the max
    duplicate cosine that caused the drop (-1.0 when kept).

    Scale shape: ONE Arrow assignment pass materialized once
    (localCheckpoint — three consumers: both self-join sides and the
    output), a self equi-join on cluster (never all-pairs — candidate
    volume is sum of cluster sizes squared, bounded by sizing
    n_clusters ~ n/target_cluster rows), one grouped max, one left
    join back. Within-cluster
    pairing is the algorithm's own O((n/k)^2) per cluster — k is the
    dial, exactly as in the paper (they use k = 50k on LAION)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_clusters, vec_col=vec_col, id_col=id_col
        )
    assign = _assign_with_sim(embeddings, centroids, id_col, vec_col).withColumn(
        "c_sim", F.round("c_sim", 6)
    )
    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col("_norm").alias("_n"),
    )
    # materialize (assignment + vectors) ONCE: m feeds three branches
    # (both sides of the cluster self-join and the final output), and
    # without the checkpoint each branch re-runs the Arrow assignment
    # pass and re-scans the source (15 scans / 3 Python stages at the
    # plan level; 5 scans / 1 Python stage with it)
    m = (
        assign.join(base, assign[id_col] == base["_vid"])
        .select(id_col, "cluster", "c_sim", "_v", "_n")
        .localCheckpoint(eager=False)
    )
    left = m.select(
        F.col(id_col).alias("id_a"), "cluster",
        F.col("c_sim").alias("sim_a"), F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    right = m.select(
        F.col(id_col).alias("id_b"), "cluster",
        F.col("c_sim").alias("sim_b"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    # the within-cluster pair join is CPU-bound (per-pair dot product
    # over full vectors) on tiny shuffled bytes — pin full width on the
    # join key or AQE coalesces the stage to a handful of tasks and the
    # densest cluster straggles (same trap as the PPJoin prefix join)
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    dup = (
        left.repartition(par, "cluster")
        .join(right.repartition(par, "cluster"), "cluster")
        .filter(
            (F.col("sim_b") < F.col("sim_a"))
            | ((F.col("sim_b") == F.col("sim_a")) & (F.col("id_b") < F.col("id_a")))
        )
        .withColumn(
            "cosine",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= eps)
        .groupBy("id_a")
        .agg(F.max("cosine").alias("dup_cos"))
    )
    return (
        m.select(id_col, "cluster", "c_sim")
        .join(dup, F.col(id_col) == dup["id_a"], "left")
        .select(
            id_col, "cluster", "c_sim",
            F.coalesce(F.col("dup_cos"), F.lit(-1.0)).alias("dup_cos"),
            F.col("dup_cos").isNull().cast("int").alias("kept"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN top-k (the third scale path next to brute force and LSH):
    items live in their nearest coarse cluster; each query probes its
    `nprobe` nearest clusters; exact cosine rerank inside the probed
    cells. Candidate volume ~ nprobe/n_clusters of brute force."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_clusters, vec_col=vec_col, id_col=id_col
        )
    items = _assign_clusters(embeddings, centroids, 1, id_col, vec_col, "item_id")
    probes = _assign_clusters(queries, centroids, nprobe, id_col, vec_col, "query_id")
    cands = (
        probes.join(items, "cluster")
        .filter(F.col("query_id") != F.col("item_id"))
        .select("query_id", "item_id")
        .distinct()
    )
    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("item_vec"),
        F.col("_norm").alias("item_norm"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
    )
    scored = cands.join(base, "item_id").join(F.broadcast(q), "query_id").withColumn(
        "cosine",
        F.round(
            _dot(F.col("q_vec"), F.col("item_vec")) / (F.col("q_norm") * F.col("item_norm")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("item_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cosine")
    )
