"""Skew-mitigation primitives for hot-key joins and aggregations.

Two layers of defense at 100 TB:

1. **AQE skew-join splitting** (on by default in the session factory,
   ``spark.sql.adaptive.skewJoin.enabled``): splits oversized shuffle
   partitions at runtime. Handles moderate skew with zero code.
2. **Explicit salting** (this module): for pathological hot keys that
   a single reducer could never hold even after AQE splitting. The
   big side spreads each key over ``n_salts`` sub-keys; the small
   side replicates each row ``n_salts`` times (explode of a literal
   range — map-side only, no shuffle to build). The join key becomes
   (key, salt), so a hot key's rows land on ``n_salts`` reducers
   instead of one. Cost: small side grows n_salts-fold — keep
   ``n_salts`` modest (8-64) and the small side genuinely small.

Two-phase aggregation (``salted_agg``) is the same idea for
``groupBy``: partial aggregate on (key, salt), final aggregate on key
— the classic combiner pattern made explicit when the aggregate is
algebraic (sum/count/min/max) but the default partial aggregation is
defeated (e.g. after an explode that re-expands rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"

# Join types for which replicating the small side is semantics-preserving.
# right/full (and right_semi/right_anti-style variants) are NOT: every
# small-side row that matches nothing on the big side would be emitted
# once per salt replica — n_salts silent duplicates.
_SAFE_SALTED_HOWS = frozenset({
    "inner", "cross", "left", "leftouter", "left_outer",
    "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti",
})


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated.

    Deterministic salt: hash of the full row spread via pmod — no
    rand(), so retried tasks (speculative execution, stage retry)
    produce identical output; nondeterministic salting breaks
    exactly-once file commit at scale.

    Only join types where small-side replication preserves semantics
    are accepted (``_SAFE_SALTED_HOWS``). ``right``/``full`` would
    duplicate each unmatched small-side row n_salts times; for those,
    salt the other side or rely on AQE skew-join splitting.
    """
    normalized = how.lower().replace("_", "")
    if normalized not in {h.replace("_", "") for h in _SAFE_SALTED_HOWS}:
        raise ValueError(
            f"salted_join does not support how={how!r}: replicating the "
            "small side duplicates its unmatched rows under right/full "
            "joins. Use inner/left/semi/anti, swap the sides, or rely on "
            "AQE skew-join splitting."
        )
    # Salt from a per-row counter, NOT a hash of the row's columns: a
    # hot key whose rows are IDENTICAL (duplicate log/CDC records —
    # the common skew case) hashes every copy to the same salt, which
    # re-serializes the hot key through one reducer while still paying
    # the n_salts-fold small-side replication. The counter spreads
    # duplicates round-robin; routing nondeterminism across retries is
    # harmless (join output is salt-independent). Also avoids
    # xxhash64's MapType restriction.
    big_salted = big.withColumn(
        _SALT,
        F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int"),
    )
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).alias(_SALT)
    small_replicated = small.select("*", salts)
    joined = big_salted.join(
        small_replicated,
        (big_salted[big_key] == small_replicated[small_key])
        & (big_salted[_SALT] == small_replicated[_SALT]),
        how,
    )
    return joined.drop(_SALT)


# Merge function per top-level partial aggregate: how phase 2 combines
# the n_salts partials of one key. Only these are merge-associative
# under arbitrary (even retry-nondeterministic) salt routing.
_MERGE_BY_FN = {
    "sum": F.sum,
    "count": F.sum,  # counts merge by summing
    "min": F.min,
    "max": F.max,
}


def _merge_fn(name: str, expr: Column):
    """Resolve — and ENFORCE — the phase-2 merge for a partial expr.

    The mergeable-aggregate contract: a caller
    passing ``avg``/``count(DISTINCT)``-style partials used to get
    silently wrong results (the old merge summed whatever came out of
    phase 1). Validation happens here, at the merge-resolution step:
    the partial's top-level function must be sum/count/min/max and
    non-DISTINCT. avg = sum/count composed at the call site;
    distinct counts need the dedicated two-phase distinct machinery.
    """
    # The Column's top-level node: for F.sum/F.count/... this is an
    # UnresolvedFunction carrying the name and the isDistinct flag
    # (the Column repr HIDES DISTINCT — count_distinct(x) prints as
    # 'count(x)' — so string parsing would wave bad partials through).
    # Introspection FAILURE (no _jc/node in this environment, e.g.
    # Spark Connect) must stay distinct from a non-mergeable verdict:
    # silently rejecting F.sum there would break every salted_agg
    # caller with a misleading message.
    if not hasattr(expr, "_jc"):
        raise TypeError(
            f"salted_agg cannot validate partial {name!r} in this "
            "environment: Column.node introspection (classic PySpark "
            ">= 4) is required to enforce the mergeable-aggregate "
            "contract, and Spark Connect columns do not expose it."
        )
    fn, distinct = None, False
    try:
        node = expr._jc.node()
        fn = node.functionName().lower()
        distinct = bool(node.isDistinct())
    except Exception:
        pass  # a real node, but not a plain function call (arithmetic,
        # literal, ...) — correctly rejected below as non-mergeable
    if fn not in _MERGE_BY_FN or distinct:
        raise ValueError(
            f"salted_agg partial {name!r} = {expr} is not "
            "merge-associative: the top-level aggregate must be one of "
            f"{sorted(_MERGE_BY_FN)} without DISTINCT. Express avg as "
            "separate sum and count partials and divide after the "
            "merge; DISTINCT aggregates cannot be salted this way."
        )
    return _MERGE_BY_FN[fn]


def salted_agg(
    df: DataFrame,
    group_col: str,
    agg_cols: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation via explicit salting.

    ``agg_cols`` maps output name -> merge-associative partial
    expression (sum/count/min/max; express avg as sum/count at the
    call site — enforced by ``_merge_fn``). Phase 1 aggregates on
    (key, salt) — a hot key's input spreads over ``n_salts`` reducers;
    phase 2 merges the n_salts partials per key (sum for sums/counts,
    min/max for min/max), touching only |keys| x n_salts rows.
    """
    merges = {name: _merge_fn(name, expr) for name, expr in agg_cols.items()}
    partial = (
        # Counter salt, not row-hash: see salted_join — duplicate rows
        # of a hot key must spread. Routing nondeterminism across task
        # retries is PROVABLY harmless here because every partial is
        # validated merge-associative above: any routing of rows to
        # salts merges to the same final value.
        df.withColumn(
            _SALT,
            F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast(
                "int"
            ),
        )
        .groupBy(group_col, _SALT)
        .agg(*[expr.alias(name) for name, expr in agg_cols.items()])
    )
    return partial.groupBy(group_col).agg(
        *[merges[name](name).alias(name) for name in agg_cols]
    )
