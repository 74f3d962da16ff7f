"""Distributed PCA building blocks: long-form covariance and a
power-iteration top eigenvector, all DataFrame ops.

The covariance (Gram) computation is the scale-critical half: the
d x d matrix reduces through ONE partial-aggregable groupBy over the
double-posexploded outer products — shuffle volume is bounded by d^2
cells per partition regardless of row count, the standard distributed
Gram-matrix shape (each executor reduces its slice of vectors to a
d x d partial before the exchange). Eigen-iteration then works on the
CELL table: each power step is one broadcast matvec (cells join a
d-row vector, groupBy row-index sum) + one normalization scalar — no
vector data ever concentrates on the driver beyond d-sized results,
mirroring kmeans.py's only-k*dim-floats contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def covariance_long(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """(i, j, cov) population covariance of an array<float> column.

    Elements are cast to double BEFORE multiplying so the fp32->fp64
    promotion point is engine-stable (fp32 products then fp64 sums
    round differently from fp64-first in the last ulp).
    """
    e1 = emb.select(F.posexplode(col).alias("i", "vi"), F.col(col))
    e2 = e1.select(
        "i",
        F.col("vi").cast("double").alias("vi"),
        F.posexplode(col).alias("j", "vj"),
    )
    cells = (
        e2.groupBy("i", "j")
        .agg(
            F.sum(F.col("vi") * F.col("vj").cast("double")).alias("sp"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    means = (
        emb.select(F.posexplode(col).alias("i", "v"))
        .groupBy("i")
        .agg(
            (F.sum(F.col("v").cast("double")) / F.count(F.lit(1))).alias(
                "mu"
            )
        )
    )
    mi = means.select(F.col("i").alias("_i"), F.col("mu").alias("mu_i"))
    mj = means.select(F.col("i").alias("_j"), F.col("mu").alias("mu_j"))
    return (
        cells.join(F.broadcast(mi), cells.i == mi._i)
        .join(F.broadcast(mj), cells.j == mj._j)
        .select(
            "i",
            "j",
            (F.col("sp") / F.col("n") - F.col("mu_i") * F.col("mu_j")).alias(
                "cov"
            ),
        )
    )


def top_eigenvector(
    cells: DataFrame, dim: int, n_iter: int = 25
) -> DataFrame:
    """Dominant eigenvector of a symmetric matrix given as (i, j, cov)
    rows, by power iteration run as DataFrame ops.

    Each step: matvec (cells equi-join the d-row vector on j, groupBy
    i, sum cov*v) then L2-normalize via a broadcast 1-row scalar. The
    vector is localCheckpoint-ed per step — it is d rows, and the
    checkpoint keeps the loop's lineage flat (the pagerank lesson:
    a twice-referenced lazy iterate re-executes 2^n subplans).
    Deterministic start: v0 = e_0 (first basis vector). Returns
    (i, v, eigenvalue) with the Rayleigh quotient replicated per row;
    sign convention: largest-|component| coordinate is positive.
    """
    spark = cells.sparkSession
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("j"),
        F.when(F.col("id") == 0, F.lit(1.0)).otherwise(0.0).alias("v"),
    )
    for _ in range(n_iter):
        av = (
            cells.join(F.broadcast(v), cells.j == v.j)
            .groupBy("i")
            .agg(F.sum(F.col("cov") * F.col("v")).alias("av"))
        )
        norm = av.agg(
            F.sqrt(F.sum(F.col("av") * F.col("av"))).alias("nrm")
        )
        v = (
            av.crossJoin(F.broadcast(norm))
            .select(
                F.col("i").cast("int").alias("j"),
                (F.col("av") / F.col("nrm")).alias("v"),
            )
        )
        # EAGER: v is a normalized double-sum vector read by the
        # next iteration AND the Rayleigh quotient — a recompute
        # race could hand consumers ulp-different vectors.
        v = v.localCheckpoint(eager=True)
    # Rayleigh quotient lambda = v' A v.
    av = (
        cells.join(F.broadcast(v), cells.j == v.j)
        .groupBy("i")
        .agg(F.sum(F.col("cov") * F.col("v")).alias("av"))
    )
    lam = (
        av.join(
            F.broadcast(v.select(F.col("j").alias("i"), "v")), "i"
        )
        .agg(F.sum(F.col("av") * F.col("v")).alias("eigenvalue"))
    )
    # Deterministic sign: flip so the max-|v| coordinate is positive.
    pivot = v.select(
        F.max(F.struct(F.abs("v").alias("a"), F.col("v").alias("s"))).alias(
            "m"
        )
    ).select(F.signum("m.s").alias("sgn"))
    return (
        v.crossJoin(F.broadcast(pivot))
        .crossJoin(F.broadcast(lam))
        .select(
            F.col("j").alias("i"),
            (F.col("v") * F.col("sgn")).alias("v"),
            "eigenvalue",
        )
    )
