"""String-encoded-array parse (reference O5, package.scala:97-106).

Turns ``"[a, b, c]"`` into ``array<string>`` ``["a","b","c"]`` as a
new ``<src>_array`` column. Native ``split``/``transform`` expressions
replace the reference's ``expand_array`` UDF — pure Catalyst, no
Python, vectorizable.

Edge semantics preserved bit-for-bit (SURVEY §2.1 O5):

* null or ``""``  -> ``[]`` (empty array);
* ``"[]"``        -> ``[""]`` — one empty string! (strip first+last
  char of ``"[]"`` gives ``""``; Scala ``"".split(",")`` yields
  ``Array("")``);
* ``"[a, b]"``    -> ``["a", "b"]`` (elements trimmed).

The reference's ``removeSrc`` parameter is accepted **but ignored**
there (the source column is never dropped); here it works, defaulting
to the reference's effective behavior (False).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parse_string_array(col: Column) -> Column:
    """``"[a, b]"`` -> trimmed string array, with the edge rules above.

    Positional strip of first+last character, not bracket matching —
    exactly what the reference does (package.scala:104), with one
    DOCUMENTED divergence: a length-1 input (e.g. ``"x"``) clamps to
    an empty inner string and yields ``[""]`` where the reference's
    ``s.substring(1, s.length - 1)`` throws
    StringIndexOutOfBoundsException and kills the job — the clamp is
    a deliberate robustness improvement.

    Element trim matches Java ``String.trim`` — strips every char
    <= U+0020 (tabs, CR, NUL), not just ASCII space, which is what
    ``F.trim`` strips (``"[a,\tb]"`` must yield
    ``["a", "b"]`` like the reference, not ``["a", "\tb"]``).
    """
    inner = F.substring(col, 2, F.greatest(F.length(col) - 2, F.lit(0)))
    # limit=0 — NOT the PySpark default of -1 — reproduces Scala/Java
    # String.split semantics: trailing empty strings are dropped
    # ("a,," -> ["a"]), an all-empty split collapses to [] (","), and
    # a zero-length input still yields [""] ("[]" -> [""]). The -1
    # default would keep trailing empties and silently diverge from
    # the reference (caught by hypothesis in tests/test_properties.py).
    return F.when(
        col.isNull() | (F.length(col) == 0), F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.split(inner, ",", 0),
            lambda x: F.regexp_replace(
                x, r"\A[\x00-\x20]+|[\x00-\x20]+\z", ""
            ),
        )
    )


def parse_array_col(df: DataFrame, src_col: str, remove_src: bool = False) -> DataFrame:
    """Append ``<src>_array`` parsed from ``src_col`` (package.scala:103-106)."""
    out = df.withColumn(f"{src_col}_array", parse_string_array(F.col(src_col)))
    return out.drop(src_col) if remove_src else out
