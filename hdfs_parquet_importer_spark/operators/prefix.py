"""Distributed prefix sums — the building block for sequence packing.

LLM pretraining packs documents into fixed-size token windows by
concatenating the token stream and chunking at ``budget`` boundaries
("concat-then-chunk"). The stream offset of every document is a
prefix sum of token counts in stream order — which naively is a
global-order window (``Window.orderBy(...)`` with no partition), i.e.
every row through ONE reducer. Death at 100 TB, and our own plan gate
flags it.

``prefix_sum`` is the classic two-phase scalable form:

1. bucket rows by contiguous ranges of the order key; a per-bucket
   cumulative sum is a PARTITIONED window (parallel, bounded state);
2. bucket totals (one row per bucket) get their own exclusive prefix
   sum — a single-partition window over only ``n_buckets`` rows —
   and are broadcast back.

offset(row) = bucket_base + local_cumsum - value: exclusive prefix.
The only serialized work is over bucket count, not row count; at
1000 executors pick buckets >> executors and << rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKET = "__psbucket"
_LOCAL = "__pslocal"
_BASE = "__psbase"
_ONE = "__psone"
# Long.MIN sentinel for NULL order keys: sorts before every real
# bucket/cell id, exactly where the naive window's NULLS FIRST puts a
# NULL (shared by prefix_sums and banded_range_agg).
_NULL_SENTINEL = -(2**63)


def prefix_sums(
    df: DataFrame,
    order_col: str | Sequence[str],
    value_cols: Sequence[str],
    bucket: Column,
    out_cols: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Append the EXCLUSIVE prefix sum of EACH ``value_cols[i]`` in
    ``order_col`` order as ``out_cols[i]`` — all value columns ride
    ONE bucketed pass (one partitioned window, one bucket-total
    aggregate, one broadcast join), so rank + running-sum combos cost
    the same machinery as a single prefix.

    ``order_col`` is a column name or list of names (composite orders
    break ties, e.g. ``["n_chars", "doc_id"]``). ``bucket`` must be a
    monotone function of the PRIMARY order column (bucket ids ascend
    with the order key and group contiguous ranges) — e.g.
    ``F.floor(F.col("n_chars") / K)``. Rows tied on the primary
    column share its bucket, so a composite order stays consistent
    with bucketing. Monotonicity is what lets per-bucket sums compose
    into a global prefix.

    ``group_cols`` makes the prefix PER GROUP —
    the running sum restarts for each distinct group-key value, i.e.
    ``SUM(v) OVER (PARTITION BY group ORDER BY order)`` without a hot
    group ever serializing through one task: the local phase
    partitions by (group, bucket), and the base phase is a window
    partitioned by GROUP over that group's ``n_buckets`` 1-row bucket
    totals — parallel across groups, bounded within one. The base
    table is n_groups x n_buckets rows; it is broadcast here (fine
    for quota/domain workloads where groups are a dimension), and at
    an unbounded group count the broadcast would become a shuffled
    equi-join on (group, bucket) — same plan shape, no new machinery.

    NULL handling: a NULL bucket (NULL order key) maps to a sentinel
    that sorts FIRST, and the group-key join is null-safe — so NULL
    keys behave exactly like the naive window's default ASC
    NULLS-FIRST ordering instead of silently dropping rows while
    still inflating later offsets.

    INPUT MUST BE DETERMINISTIC: ``df``'s lineage is evaluated through
    TWO independent branches (the local window and the bucket-total
    aggregate) that the final equi-join pairs back up. A
    nondeterministic input (sample(), rand(), a float aggregate whose
    partial-sum order varies) can evaluate differently per branch,
    yielding wrong offsets or dropped rows — ``localCheckpoint`` such
    inputs first (see queries/stats.py and queries/relational.py call
    sites).
    """
    if not value_cols or len(value_cols) != len(out_cols):
        raise ValueError(
            f"value_cols/out_cols must be equal-length and non-empty: "
            f"{list(value_cols)!r} vs {list(out_cols)!r}"
        )
    # out_cols may shadow THEIR OWN value column (in-place prefix) but
    # not a DIFFERENT one: out_cols[0] == value_cols[1] would make the
    # i=1 offset read the i=0 result instead of the original values —
    # silently wrong. Duplicate out_cols likewise overwrite.
    if len(set(out_cols)) != len(out_cols):
        raise ValueError(f"duplicate out_cols: {list(out_cols)!r}")
    for i, oc in enumerate(out_cols):
        for j, v in enumerate(value_cols):
            if i != j and oc == v:
                raise ValueError(
                    f"out_cols[{i}] {oc!r} collides with value_cols[{j}]"
                    " — it would overwrite that value column before its"
                    " own prefix is computed"
                )
    # _ONE is exempt: dist_rank injects it by design just before
    # calling through here.
    reserved = [
        c
        for c in df.columns
        if c.startswith(("__ps", "__br")) and c != _ONE
    ]
    if reserved:
        raise ValueError(
            f"input already carries reserved internal columns "
            f"{reserved!r} (__ps*/__br* are prefix-machinery names; "
            "rename them first — they would be clobbered and dropped)"
        )
    gcols = list(group_cols)
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    # Long.MIN sentinel: sorts before every real bucket id, exactly
    # where the naive window's NULLS FIRST puts a NULL order key.
    b = df.withColumn(
        _BUCKET, F.coalesce(bucket.cast("long"), F.lit(_NULL_SENTINEL))
    )
    local_w = (
        Window.partitionBy(*gcols, _BUCKET)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    locals_ = [f"{_LOCAL}{i}" for i in range(len(value_cols))]
    for v, lc in zip(value_cols, locals_):
        b = b.withColumn(lc, F.sum(v).over(local_w))

    totals = b.groupBy(*gcols, _BUCKET).agg(
        *[F.sum(v).alias(f"_tot{i}") for i, v in enumerate(value_cols)]
    )
    # Exclusive running total over bucket ids: n_buckets rows per
    # group. Ungrouped, this is the ONLY single-partition window in
    # the plan; grouped, it partitions by the group key and stays
    # parallel.
    tot_w = (
        Window.partitionBy(*gcols)
        .orderBy(_BUCKET)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bases = []
    for i in range(len(value_cols)):
        totals = totals.withColumn(
            f"{_BASE}{i}", F.sum(f"_tot{i}").over(tot_w) - F.col(f"_tot{i}")
        )
        bases.append(f"{_BASE}{i}")
    base_df = totals.select(*gcols, _BUCKET, *bases)

    if gcols:
        # Null-safe on the group keys (a NULL group is a real group,
        # matching groupBy semantics); the bucket key is sentinel-
        # coalesced above so plain equality is total for it.
        right = base_df.select(
            *[F.col(g).alias(f"__psr_{g}") for g in gcols],
            F.col(_BUCKET).alias("__psr_bucket"),
            *bases,
        )
        cond = F.col(_BUCKET) == F.col("__psr_bucket")
        for g in gcols:
            cond = cond & F.col(g).eqNullSafe(F.col(f"__psr_{g}"))
        out = b.join(F.broadcast(right), cond).drop(
            "__psr_bucket", *[f"__psr_{g}" for g in gcols]
        )
    else:
        out = b.join(F.broadcast(base_df), [_BUCKET])
    for i, (v, oc) in enumerate(zip(value_cols, out_cols)):
        out = out.withColumn(
            oc, F.col(f"{_BASE}{i}") + F.col(locals_[i]) - F.col(v)
        )
    return out.drop(_BUCKET, *locals_, *bases)


def prefix_sum(
    df: DataFrame,
    order_col: str | Sequence[str],
    value_col: str,
    bucket: Column,
    out_col: str = "offset",
) -> DataFrame:
    """Single-value convenience wrapper over :func:`prefix_sums`."""
    return prefix_sums(df, order_col, [value_col], bucket, [out_col])


def adaptive_bucket_count(
    n_rows: int, target_rows: int = 2048, max_buckets: int = 256
) -> int:
    """Scale-aware bucket count for :func:`prefix_sums`: a constant
    256-way bucketing makes tiny inputs pay the full two-phase
    machinery (5 exchanges at sf0.1 for mix_domain_quota, doubling
    its bench cell), while
    ``n_rows // target_rows`` keeps per-bucket work ~``target_rows``
    rows and collapses to 1 bucket — i.e. the plain partitioned
    window — when the input is small. Output VALUES are independent
    of the bucket count (monotone bucketing composes to the same
    prefix), so this is purely a physical-plan knob. The
    ``max_buckets`` cap matches a leading-byte bucket key's domain;
    at 100 TB raise it together with more key bytes.
    """
    if target_rows < 1 or max_buckets < 1:
        raise ValueError(
            f"target_rows and max_buckets must be >= 1, got "
            f"{target_rows}/{max_buckets}"
        )
    return max(1, min(max_buckets, n_rows // target_rows))


def md5_byte_bucket(key: Column, n_buckets: int) -> Column:
    """Bucket id in [0, n_buckets) from the leading md5-hex byte of
    ``key`` — monotone in the hex-sorted key (the prefix_sums
    contract), contiguous, evenly sized. n_buckets=256 is the
    identity over the byte."""
    if not 1 <= n_buckets <= 256:
        raise ValueError(f"n_buckets must be in [1, 256], got {n_buckets}")
    byte = F.conv(F.substring(key, 1, 2), 16, 10).cast("long")
    return F.floor(byte * n_buckets / 256).cast("long")


def dist_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    bucket: Column,
    out_col: str = "rank",
) -> DataFrame:
    """Distributed ``row_number() OVER (ORDER BY order_cols)``.

    A global rank is the exclusive prefix sum of 1s plus one — so the
    naive single-reducer ``Window.orderBy`` becomes the same two-phase
    bucketed machinery as :func:`prefix_sum`: per-bucket partitioned
    count windows in parallel, one tiny bucket-total pass, broadcast
    bases. ``order_cols`` must totally order the rows (add a unique
    tiebreak column) for the rank to be deterministic; ``bucket``
    follows the same monotone-in-primary-column contract.
    """
    if _ONE in df.columns:
        raise ValueError(
            f"input already carries the reserved column {_ONE!r}; "
            "rename it first"
        )
    ranked = prefix_sum(
        df.withColumn(_ONE, F.lit(1).cast("long")),
        order_cols,
        _ONE,
        bucket,
        out_col=out_col,
    )
    return ranked.withColumn(out_col, F.col(out_col) + F.lit(1)).drop(_ONE)


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """Exact ``ntile(k)`` bucket from a 1-based dense row rank and the
    total row count — SQL-standard ntile semantics: the first
    ``n mod k`` buckets hold ``ceil(n/k)`` rows, the rest ``floor``.

    This is how a quantile score survives scale: compute the rank with
    :func:`dist_rank` (bucketed two-phase, no global window), broadcast
    the single-row count, and assign buckets arithmetically — versus
    ``ntile(k) OVER (ORDER BY ...)`` which serializes every row
    through one task. Bit-identical to the window function for any
    (rank, n), including n < k and tie-broken orders.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k} (ntile(0) is an error)")
    q = F.floor(n / k)
    rem = n % k
    big = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    return F.when(rank <= big, F.ceil(rank / (q + 1))).otherwise(
        rem + F.ceil((rank - big) / q)
    ).cast("int")


def banded_range_agg(
    df: DataFrame,
    order_col: str,
    width: float,
    aggs,
) -> DataFrame:
    """Trailing RANGE-frame window aggregates (frame = [v - width, v])
    without a global-order window.

    The naive form — ``Window.orderBy(v).rangeBetween(-width, 0)`` with
    no partition — serializes the whole table through one task. But a
    trailing frame of width ``w`` only ever reaches one ``w``-sized
    cell back: bucket rows into cells ``floor(v / w)``, mirror every
    row into its own and the NEXT cell, and the frame of any home row
    in cell ``c`` (values in ``[v - w, v]``, all ``>= c*w - w``) lies
    entirely inside cell ``c``'s partition. So a cell-PARTITIONED
    range window computes the exact same aggregate, each cell in
    parallel, each value present exactly once per partition. Output
    keeps home rows only.

    Cost: 2x row duplication through one hash shuffle on the cell id —
    versus 1x rows through ONE reducer. ``aggs`` is a callable
    ``window_spec -> [aliased Column, ...]`` so any window aggregate
    (count/sum/avg/min/max) rides the same machinery. ``width`` must
    be a whole number (PySpark ``rangeBetween`` boundaries are longs);
    scale fractional units into integers upstream. Rows with a NULL
    order value are kept (sentinel cell, frame = the other NULL rows),
    matching the naive window's NULL-group semantics.
    """
    if not float(width).is_integer() or width <= 0:
        # width=0 would send EVERY row to the NULL sentinel cell (x/0
        # is NULL in non-ANSI Spark) — the exact single-reducer
        # collapse this operator exists to avoid — and a negative
        # width inverts the frame and the mirroring direction; both
        # would otherwise fail silently.
        raise ValueError(
            f"width must be a positive whole number (rangeBetween takes "
            f"long boundaries); scale the order column instead: {width!r}"
        )
    # NULL order values: the naive unpartitioned RANGE window keeps
    # them (their frame is the group of NULL-ordered rows), so they
    # must not be silently dropped here. They get their own sentinel
    # cell, unmirrored (no real frame can reach a NULL value, and a
    # NULL row's frame contains exactly the other NULL rows — which is
    # what a range window over an all-NULL-ordered partition yields).
    home = F.coalesce(
        F.floor(F.col(order_col) / F.lit(float(width))).cast("long"),
        F.lit(_NULL_SENTINEL),
    )
    dup = df.withColumn("__brhome", home).withColumn(
        "__brcell",
        F.explode(
            F.when(
                F.col(order_col).isNull(), F.array(F.col("__brhome"))
            ).otherwise(
                F.array(F.col("__brhome"), F.col("__brhome") + 1)
            )
        ),
    )
    w = (
        Window.partitionBy("__brcell")
        .orderBy(order_col)
        .rangeBetween(-int(width), Window.currentRow)
    )
    return (
        dup.select("*", *aggs(w))
        .filter(F.col("__brcell") == F.col("__brhome"))
        .drop("__brhome", "__brcell")
    )


def pack_sequences(
    df: DataFrame,
    order_col: str,
    tokens_col: str,
    budget: int,
    bucket: Column,
) -> DataFrame:
    """Concat-then-chunk sequence packing: assign each document its
    stream ``offset`` and the ``bin_id`` of the ``budget``-token chunk
    its first token lands in (documents may straddle chunk borders —
    exactly how pretraining packing treats the token stream).
    """
    if int(budget) < 1:
        # budget=0 would make every bin_id NULL (non-ANSI div-by-zero)
        # and a downstream groupBy would collapse the corpus into one
        # bogus bin with no error.
        raise ValueError(f"budget must be >= 1 token, got {budget}")
    with_off = prefix_sum(df, order_col, tokens_col, bucket, out_col="offset")
    return with_off.withColumn(
        "bin_id", F.expr(f"offset div {int(budget)}")
    )
