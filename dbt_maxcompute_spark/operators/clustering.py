"""Distributed k-means (Lloyd's algorithm) over embedding columns.

No counterpart in the reference (extension per BASELINE.json) — the
iterative-algorithm pattern a training pipeline needs for corpus
clustering (topic balancing, dedup-by-cluster, IVF coarse quantizers).

Spark-first iteration shape — each Lloyd step is:

1. centroids live on the DRIVER as plain lists (K x dim doubles —
   metadata-sized; 1024 x 768 floats is ~3 MB);
2. assignment is ONE Arrow stage (``vecmath.argmin_dists_udf``): the
   centroid matrix ships as a Spark broadcast (the plan never carries
   K x dim literals, so re-planning each iteration with fresh values
   stays cheap) and the squared-L2 argmin runs vectorized over rows.
   No shuffle;
3. the update is posexplode(vector) -> groupBy(cluster, dim) — ONE
   map-side-combinable aggregate with a 2-column key yielding K x dim
   rows, collected to the driver. Works at any dimensionality without
   widening the aggregate schema.

Total per iteration: one corpus scan, one K*dim-row shuffle. Nothing
materializes on the driver except the K x dim centroid matrix itself.
Deterministic throughout: init picks the first K vectors in id order,
ties in argmin break toward the lower cluster index (the kernel
takes the FIRST minimum), and the update sums accumulate in
decimal(28,12) so the fit is identical under any partition layout
(double sums are addition-order dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_maxcompute_spark.operators import vecmath


def assign_clusters(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Attach `cluster` = argmin_k ||vec - centroid_k||^2 (ties to the
    lower index — array_position finds the first minimum). No shuffle —
    the only extra input is the broadcast centroid matrix — so it is
    safe to chain into a partitioned-by-cluster write at scale.

    Round-13: the K x dim math per row runs behind one Arrow stage
    (vecmath.argmin_dists_udf — the squared-L2 fold's IEEE sequence
    and first-min tiebreak, pinned bit-exact against a scalar replay
    in tests/test_vecmath.py)."""
    am = vecmath.argmin_dists_udf(df.sparkSession, centroids)
    return (
        df.withColumn("__am", am(F.col(vec_col)))
        .withColumn("cluster", F.col("__am.cluster"))
        .drop("__am")
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
    inertia_out: list[float] | None = None,
    init_centroids: list[list[float]] | None = None,
) -> tuple[list[list[float]], int]:
    """Lloyd iterations; returns (centroids, iterations_run). Converges
    when no centroid moves more than sqrt(tol) in L2.

    ``init_centroids`` skips the default id-order init collect when the
    caller already holds the matrix (saves one driver job per fit).

    If `inertia_out` is passed, appends the within-cluster sum of
    squared distances (w.r.t. the centroids each iteration ASSIGNED
    against) per iteration. Derived algebraically from the sums the
    update step already aggregates — Σ||x-c||² = Σ||x||² - 2c·Σx +
    n||c||² per cluster — so tracking it costs one extra aggregate
    column, not a second corpus scan. Lloyd guarantees this sequence
    is non-increasing; suites pin that as a driver-checkable boolean."""
    if init_centroids is not None:
        if len(init_centroids) != k:
            raise ValueError(f"init_centroids has {len(init_centroids)} rows, k={k}")
        centroids = [[float(x) for x in c] for c in init_centroids]
    else:
        init_rows = (
            df.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(k)
            .collect()
        )
        if len(init_rows) < k:
            raise ValueError(f"k={k} exceeds corpus size {len(init_rows)}")
        centroids = [[float(x) for x in r[vec_col]] for r in init_rows]

    # persisted across iterations: Lloyd re-scans the vectors every
    # step; at fixture scale this skips repeated parquet decode, on a
    # cluster it is the standard cache-the-training-set posture
    src = df.select(F.col(vec_col).alias("__v")).persist()
    try:
        return _lloyd_loop(src, centroids, max_iter, tol, inertia_out)
    finally:
        src.unpersist()


def _lloyd_loop(
    src: DataFrame,
    centroids: list[list[float]],
    max_iter: int,
    tol: float,
    inertia_out: list[float] | None,
) -> tuple[list[list[float]], int]:
    for it in range(1, max_iter + 1):
        assigned = assign_clusters(src, "__v", centroids)
        # K x dim sums via posexplode + 2-key hash agg (map-side
        # combinable); decimal accumulation keeps the fit layout-
        # independent
        sums = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double").alias("s"),
                F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
                .cast("double")
                .alias("ss"),
            )
            .collect()
        )
        if inertia_out is not None:
            inertia = 0.0
            for r in sums:
                c_kj = centroids[int(r["cluster"])][int(r["pos"])]
                inertia += r["ss"] - 2.0 * c_kj * r["s"] + r["n"] * c_kj * c_kj
            inertia_out.append(inertia)
        new_centroids = [list(c) for c in centroids]  # empty clusters keep position
        for r in sums:
            new_centroids[int(r["cluster"])][int(r["pos"])] = r["s"] / r["n"]
        shift = max(
            sum((a - b) ** 2 for a, b in zip(old, new))
            for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if shift <= tol:
            return centroids, it
    return centroids, max_iter


def kmeans_cluster_profile(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8, max_iter: int = 10
) -> DataFrame:
    """Fit + assign + per-cluster profile (size, mean within-cluster
    squared distance). The driver-visible shape of the operator."""
    centroids, _ = kmeans_fit(df, id_col, vec_col, k=k, max_iter=max_iter)
    am = vecmath.argmin_dists_udf(df.sparkSession, centroids)
    return (
        df.withColumn("__am", am(F.col(vec_col)))
        .withColumn("__d2", F.col("__am.d2"))
        .withColumn("cluster", F.col("__am.cluster"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("__d2"), 6).alias("mean_sq_dist"),
        )
        .orderBy("cluster")
    )
