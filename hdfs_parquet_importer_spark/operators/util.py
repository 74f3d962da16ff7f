"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the input is narrower than the cluster.

    CPU-heavy per-row operators (fingerprinting, minhashing, byte
    decoding) are compute-bound, not IO-bound. On a large cluster the
    parquet scan already yields thousands of input splits, so this is a
    no-op (no shuffle added); but a small input — one file, one row
    group — arrives as a single partition and would pin the entire
    projection to one core. One cheap shuffle of the small input
    unlocks every core for the expensive downstream projection.

    Narrowness is judged by ``df.inputFiles()`` — file-listing
    metadata the driver already holds, no job, no ``df.rdd`` (an RDD
    conversion materializes the plan's RDD lineage per call and is
    unavailable under Spark Connect). Files is a conservative proxy
    for scan splits: large files split further, so if anything this
    over-repartitions small inputs — exactly the cheap direction.
    Non-file-backed frames (in-memory test data, post-shuffle stages)
    report zero files and get the repartition, which is a no-op-cost
    shuffle at test sizes and unreachable at scale (real inputs are
    file scans).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df
