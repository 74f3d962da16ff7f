"""Date-enrich projection (reference O4, package.scala:46-70).

Adds string columns ``date``/``year``/``month`` parsed from a
``yyyy-MM-dd HH:mm`` *string* column. The reference uses three scalar
Scala UDFs (opaque to Catalyst); here each is a native expression, so
the projection stays inside whole-stage codegen and costs no Python.

Exact semantics preserved (SURVEY §2.1 O4):

* ``date``  — everything before the first space; **no validation**
  (reference ``extract_date`` just splits, package.scala:48-52 —
  asymmetric with year/month);
* ``year``/``month`` — regex capture groups 1/2 of the full-match
  pattern; empty string (not null) on miss;
* null input -> empty string for all three.

These columns exist to become Hive partition keys
(``partitionBy("year", "month")``) — the whole point of the enrichment
is prunable ``year=YYYY/month=MM/`` layout (package.scala:40-41).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reference pattern, package.scala:47 — anchored \A/\z because the
# reference extractors are whole-string matches (Matcher.matches) while
# regexp_extract is find-based, where $ also matches before a trailing
# newline: '2020-01-01 10:10\n' must yield '' (and the empty Hive
# partition), not year=2020/month=01.
DATE_TIME_REGEX = r"\A(\d{4})-(\d{2})-(\d{2}) (\d{2}):(\d{2})\z"


def extract_date(col: Column) -> Column:
    """First space-separated token; '' on null (package.scala:48-52)."""
    return F.coalesce(F.split(col, " ").getItem(0), F.lit(""))


def extract_year(col: Column) -> Column:
    """Capture group 1; '' on miss or null (package.scala:54-58)."""
    return F.coalesce(F.regexp_extract(col, DATE_TIME_REGEX, 1), F.lit(""))


def extract_month(col: Column) -> Column:
    """Capture group 2; '' on miss or null (package.scala:60-66)."""
    return F.coalesce(F.regexp_extract(col, DATE_TIME_REGEX, 2), F.lit(""))


def date_enrich(df: DataFrame, src_col: str) -> DataFrame:
    """Append date/year/month derived from ``src_col`` (package.scala:67-69)."""
    c = F.col(src_col)
    return (
        df.withColumn("date", extract_date(c))
        .withColumn("year", extract_year(c))
        .withColumn("month", extract_month(c))
    )
