"""Corrupt-row cleanse (reference O3, package.scala:80-93).

The reference validates ``tweet_time`` against
``^(\\d{4})-(\\d{2})-(\\d{2}) (\\d{2}):(\\d{2})$``, collects offending
``tweetid`` values to the driver, and filters with a SQL ``NOT IN``
string — a degenerate broadcast anti-join that scans the input twice
and is unbounded driver memory at scale (SURVEY §3.1 ACTION #1).

``cleanse_suspect_rows`` is the scalable single-pass form: one
predicate evaluated executor-side, no collect, no second scan — the
plan a 100 TB input needs. ``cleanse_suspect_rows_not_in`` preserves
the reference's exact two-pass NOT-IN shape (with a bounded-size
guard) for semantics comparison.

Null handling: a null/malformed time column marks the row bad
(package.scala:84-87); rows with a null id are also dropped, matching
SQL ``NOT IN`` three-valued logic which never returns true for a null
id (asserted by reference ImportTest.scala:58-60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Reference regex, package.scala:82 (capture groups dropped: rlike only
# tests the match). Anchored with \A/\z, not ^/$: the reference's
# `case regex(...)` is Matcher.matches() (whole string), while rlike is
# find-based where $ also matches BEFORE a trailing newline — so
# '2020-01-01 10:10\n' must stay corrupt (reachable via
# multiLine CSV or direct DataFrame callers).
TIME_REGEX = r"\A\d{4}-\d{2}-\d{2} \d{2}:\d{2}\z"

# Hard-coded in the reference (package.scala:83, warning at :75).
DEFAULT_ID_COL = "tweetid"
DEFAULT_TIME_COL = "tweet_time"


def cleanse_suspect_rows(
    df: DataFrame,
    id_col: str = DEFAULT_ID_COL,
    time_col: str = DEFAULT_TIME_COL,
) -> DataFrame:
    """Single-pass cleanse: keep rows with a valid time and non-null id.

    SEMANTIC DIVERGENCE from the reference, by design: when the same
    id appears on BOTH a valid-time row and a corrupt row, this keeps
    the valid row, while the reference's collect+NOT-IN (and
    :func:`cleanse_suspect_rows_not_in`) drops EVERY row carrying a
    corrupt id. Identical only when ids are unique per row — use the
    strict variant when reference-exact output on duplicated ids
    matters (tests/test_etl_units.py pins both behaviors).
    """
    return df.filter(
        F.col(time_col).isNotNull()
        & F.col(time_col).rlike(TIME_REGEX)
        & F.col(id_col).isNotNull()
    )


def cleanse_suspect_rows_not_in(
    df: DataFrame,
    id_col: str = DEFAULT_ID_COL,
    time_col: str = DEFAULT_TIME_COL,
    max_bad_ids: int = 1_000_000,
) -> DataFrame:
    """Reference-shaped two-pass cleanse (collect bad ids -> anti-filter).

    Kept for parity demonstration only: it materializes the bad-id set
    on the driver exactly like package.scala:83-90. ``max_bad_ids``
    bounds driver memory — the reference has no such guard. Uses a
    left_anti join instead of string-spliced SQL, which Catalyst turns
    into the same broadcast anti-join NOT IN would become.
    """
    bad = (
        df.select(id_col, time_col)
        .filter(
            F.col(time_col).isNull() | ~F.col(time_col).rlike(TIME_REGEX)
        )
        .select(id_col)
        # DISTINCT before the guard: the broadcast build
        # side is the distinct id set, so 2M corrupt rows sharing 1k
        # ids must pass the memory guard, not spuriously abort.
        .distinct()
        .limit(max_bad_ids + 1)
        # localCheckpoint, not cache: materializes once
        # for the guard count + anti-join build without pinning a
        # cached frame in executor storage for the session's lifetime
        # — the checkpoint RDD is GC-reclaimed once unreferenced.
        .localCheckpoint(eager=False)
    )
    bad_count = bad.count()
    if bad_count > max_bad_ids:
        raise ValueError(
            f"more than {max_bad_ids} distinct corrupt ids; use "
            "cleanse_suspect_rows (single-pass) instead of the "
            "collect-based parity variant"
        )
    # NOT IN over a null-free id list == left_anti join; also drop null
    # ids (NOT IN never evaluates true when the probe side is null).
    return df.filter(F.col(id_col).isNotNull()).join(
        F.broadcast(bad.filter(F.col(id_col).isNotNull())),
        on=id_col,
        how="left_anti",
    )
