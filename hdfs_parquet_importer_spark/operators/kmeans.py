"""Deterministic mini-batch-free k-means over an embedding column.

The canonical Spark iterative algorithm, shaped for scale:

* centroids live in a ~k x dim driver-side list — genuinely tiny state,
  the ONE place driver-side data is acceptable (k centroids, not data);
* assignment is a broadcast of the centroids into a per-row argmin
  projection (zero shuffle over the vectors);
* the update step is one partial-aggregated groupBy per iteration
  (long form (cluster, dim) like embedding_centroids, so dimension
  never limits the reducer);
* initialization is the first-k-by-id rule — deterministic, so
  cross-run results and tests are stable (k-means++ would add RNG for
  quality; at 100 TB use a deterministic hash-sample for seeding).

Distance is squared-Euclidean; convergence by centroid movement or
``max_iter``. Everything but the k-row centroid collect is a Catalyst
plan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _assign_exprs(
    centroids: list[list[float]], vec: F.Column | None = None
) -> tuple[F.Column, F.Column]:
    """(argmin cluster, min squared distance) as pure column
    expressions over ``vec`` (default: the ``embedding`` column)."""
    vec = F.col("embedding") if vec is None else vec
    best_d, best_c = None, None
    for ci, cent in enumerate(centroids):
        cent_col = F.array(*[F.lit(float(v)) for v in cent])
        d = F.aggregate(
            F.zip_with(
                vec, cent_col,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        if best_d is None:
            best_d, best_c = d, F.lit(0)
        else:
            best_c = F.when(d < best_d, F.lit(ci)).otherwise(best_c)
            best_d = F.least(d, best_d)
    return best_c.alias("cluster"), best_d.alias("dist2")


def _assign_expr(centroids: list[list[float]]) -> F.Column:
    """argmin_c ||vec - centroid_c||^2 as a pure column expression."""
    return _assign_exprs(centroids)[0]


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]], list[float]]:
    """Lloyd iterations with deterministic init.

    Returns ``(assignments, centroids, inertia_history)`` where
    ``assignments`` is a (id, cluster) DataFrame against the FINAL
    centroids, and ``inertia_history[t]`` is the total min squared
    distance under the centroids at the START of iteration t — by
    Lloyd's argument (each assignment step and each update step can
    only lower the objective) the history is non-increasing, which the
    ``embedding_kmeans`` driver query asserts as its oracle bound.

    ``vectors[vec_col]`` must be a fixed-dimension float array.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    vecs = vectors.select(
        F.col(id_col), F.col(vec_col).alias("embedding")
    ).cache()
    init = vecs.orderBy(id_col).limit(k).collect()
    if not init:
        # Empty input would otherwise surface as an opaque
        # NoneType-has-no-alias crash deep inside _assign_exprs.
        vecs.unpersist()
        raise ValueError("kmeans_fit: input has no vectors")
    centroids = [[float(v) for v in r.embedding] for r in init]
    history: list[float] = []

    for _ in range(max_iter):
        cluster_col, dist2_col = _assign_exprs(centroids)
        assigned = vecs.select(id_col, "embedding", cluster_col, dist2_col)
        # One pass computes the update AND the objective: inertia is
        # the sum of dist2 under the current centroids, folded into
        # the same (cluster, dim) partial-agg shuffle via grouping on
        # the exploded rows (dist2 is constant per row, so summing
        # dist2/dim over dims reconstitutes it exactly once per row).
        new_rows = (
            assigned.select(
                "cluster", "dist2", F.posexplode("embedding").alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(
                F.avg(F.col("val").cast("double")).alias("mean"),
                F.sum("dist2").alias("dist2_sum"),
            )
            .collect()
        )
        # Every (cluster, dim) group saw each member row once, so any
        # single dim's dist2_sum per cluster is that cluster's inertia.
        history.append(sum(r.dist2_sum for r in new_rows if r.dim == 0))
        new_centroids = [list(c) for c in centroids]
        by_cluster: dict[int, dict[int, float]] = {}
        for r in new_rows:
            by_cluster.setdefault(r.cluster, {})[r.dim] = r.mean
        for ci, dims in by_cluster.items():
            for d, m in dims.items():
                new_centroids[ci][d] = m
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(old, new)))
            for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if shift < tol:
            break

    # Materialize the final assignment, then release the cached
    # vectors: the handle is function-local, so without this every
    # kmeans_fit call (e.g. a k sweep, or PQ's m sub-trainings) pins
    # another copy of the vector table in executor memory for the
    # session.
    out = (
        vecs.select(id_col, "embedding", _assign_expr(centroids))
        .select(id_col, "cluster")
        .localCheckpoint(eager=True)  # EAGER: must land before the
        # unpersist below frees the vector cache it reads
    )
    vecs.unpersist()
    return out, centroids, history


def kmeans_assign(
    vectors: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster) after Lloyd iterations with deterministic init."""
    return kmeans_fit(vectors, k, max_iter, tol, id_col, vec_col)[0]
