"""Z-order (Morton-curve) data layout for multi-dimensional scan pruning.

A 100 TB table is pruned, not scanned: parquet keeps per-row-group
min/max statistics, and Spark's scan skips row groups (and whole
files, via partition/file-level stats) whose ranges can't satisfy the
predicate. A plain sort makes ONE column's ranges tight and leaves
every other column's ranges spanning the full domain, so only
predicates on the sort key prune. Interleaving the bits of several
columns' quantized values (the Morton / Z-order curve) makes rows
that are close in the multi-dimensional space close on the 1-D curve,
so a range-partitioned write produces files whose min/max boxes are
tight in EVERY indexed dimension — predicates on any of them prune.

This is the same layout technique Delta Lake's OPTIMIZE ZORDER BY and
ClickHouse's mortonEncode use; here it is expressed as pure Catalyst
column expressions (unrolled shift/mask terms — whole-stage codegen,
no UDF) plus ``repartitionByRange`` on the curve value, so the write
itself is one ordinary ranged shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) rank space (clipped).

    Bounds are explicit: the caller either knows the domain or
    computes min/max in one cheap agg (see :func:`zorder_by`).
    Clipping (not erroring) on out-of-bounds keeps late-arriving
    outliers writable — they land in the edge cells.

    Degenerate bounds (``hi <= lo``, e.g. a constant column flowing
    through ``zorder_by``'s auto min/max) are an error: the division
    by span would yield NaN, and NaN-is-largest ordering would
    silently clip EVERY row to the top cell — garbage curve bits with
    no signal that the dimension is dead. A constant
    column carries no layout information; drop it from ``cols``.
    """
    import math

    # NaN must be checked explicitly: `NaN <= NaN` is False, so a NaN
    # bound would sail past the hi<=lo guard, make span NaN, and the
    # least(greatest(NaN,0),1) clip would send EVERY row to the top
    # cell — the exact silent dead dimension this guard exists for.
    if math.isnan(float(hi)) or math.isnan(float(lo)):
        raise ValueError(
            f"NaN quantize bound: lo={lo!r} hi={hi!r}; filter NaNs from "
            "the indexed column (Spark's max() returns NaN when any "
            "row is NaN)"
        )
    if float(hi) <= float(lo):
        raise ValueError(
            f"degenerate quantize bounds: hi ({hi!r}) <= lo ({lo!r}); "
            "constant columns carry no Z-order information"
        )
    span = float(hi) - float(lo)
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(span)
    clipped = F.least(F.greatest(scaled, F.lit(0.0)), F.lit(1.0))
    return F.floor(clipped * F.lit((1 << bits) - 1)).cast("long")


def z_value(quantized: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of each quantized column.

    Bit i of column c lands at curve bit ``i * n_cols + c`` — the
    classic Morton interleave, unrolled into ``bits * n_cols``
    shift/mask/add terms (all JVM-side integer ops inside one codegen
    stage; bits*n_cols <= 63 so the curve fits a signed long).
    """
    n = len(quantized)
    if bits * n > 63:
        raise ValueError(f"bits*n_cols = {bits * n} exceeds signed-long range")
    z = None
    for i in range(bits):
        for c, q in enumerate(quantized):
            term = F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + c
            )
            z = term if z is None else z + term
    return z


def zorder_by(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Return ``df`` with a ``_z`` curve column over ``cols``.

    Missing bounds are computed in one tiny min/max agg (2*n_cols
    scalars to the driver — at scale, production systems amortize
    this into table statistics; one extra columnar scan of just the
    indexed columns is the worst case here).
    """
    if "_z" in df.columns:
        # withColumn would silently overwrite it and zorder_write's
        # drop("_z") would then delete the USER's column from the
        # written output.
        raise ValueError(
            "input already has a column named '_z' (reserved for the "
            "curve value); rename it first"
        )
    bounds = dict(bounds or {})
    missing = [c for c in cols if c not in bounds]
    if missing:
        aggs = []
        for c in missing:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        row = df.agg(*aggs).first()
        for c in missing:
            lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
            if lo is None or hi is None:
                raise ValueError(
                    f"cannot auto-bound {c!r}: column is all-null or "
                    "the input is empty"
                )
            bounds[c] = (float(lo), float(hi))
    qs = [quantize(F.col(c), *bounds[c], bits) for c in cols]
    return df.withColumn("_z", z_value(qs, bits))


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 8,
    bits: int = 16,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> None:
    """Write ``df`` as parquet laid out along the Z-curve of ``cols``.

    ``repartitionByRange`` on the curve value gives each output file a
    contiguous curve segment (one ranged shuffle; AQE still coalesces
    small segments), and the within-file sort keeps row-group min/max
    stats tight inside each file too.
    """
    zdf = zorder_by(df, cols, bits=bits, bounds=bounds)
    (
        zdf.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
