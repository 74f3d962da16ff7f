"""Shared operator utilities."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Loop-leg plan capture.
#
# Iterative operators (pagerank, connected components, LPA, k-core,
# k-means, PCA power iteration, the BPE trainer) execute their joins
# at PLAN-CONSTRUCTION time behind eager localCheckpoints, so the
# final DataFrame's plan — the only thing tools/plan_audit.py and the
# tests/test_plans.py cartesian/window gates used to see — covers
# only the last leg. Loop bodies call ``record_loop_leg`` on the
# per-iteration frame BEFORE it is checkpointed; outside a
# ``capture_loop_legs()`` context this is a None-check no-op, so
# production paths pay nothing.
# ---------------------------------------------------------------------------

_LOOP_LEGS: dict[str, list[str]] | None = None
_MAX_LEGS_PER_LABEL = 2  # iteration 1 + one steady-state leg


def record_loop_leg(label: str, df: DataFrame) -> None:
    """Record ``df``'s formatted plan under ``label`` if capture is on."""
    global _LOOP_LEGS
    if _LOOP_LEGS is None:
        return
    legs = _LOOP_LEGS.setdefault(label, [])
    if len(legs) >= _MAX_LEGS_PER_LABEL:
        return
    jvm = df.sparkSession._jvm
    legs.append(
        df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )


def loop_leg_capture_active() -> bool:
    """True inside a :func:`capture_loop_legs` context — operators
    with a size-gated local strategy (connected_components) force
    their distributed loop under capture so the plan-audit gates keep
    seeing the iterated joins."""
    return _LOOP_LEGS is not None


@contextmanager
def capture_loop_legs():
    """Enable loop-leg capture; yields {label: [formatted plans]}."""
    global _LOOP_LEGS
    saved = _LOOP_LEGS
    _LOOP_LEGS = {}
    try:
        yield _LOOP_LEGS
    finally:
        _LOOP_LEGS = saved


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
