"""Full-registry oracle gate (ADVICE r2, item 1).

The external driver records authoritative correctness rows for only
the first 50 registrations (`queries._DRIVER_WINDOW`), so driver
coverage is cumulative across rounds. This gate closes the hole the
rotation opens: EVERY oracle-backed query is compared against its
DuckDB twin (row count, column set, order-insensitive value digest)
every test run, so an edit to a query outside the current driver
window can never ship on a stale green.

Runs at sf0.01 — the same scale the driver uses, so a failure here
predicts a CORRECTNESS_r{N} failure exactly. One shared Spark session
+ one DuckDB connection; wall cost ~11.5 min on a 4-core host (573
tests in 688 s), by far the highest-value minutes in the suite.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

from hdfs_parquet_importer_spark.queries import registry
from hdfs_parquet_importer_spark.tables import TABLE_NAMES, table_path

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load_checker():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(_TOOLS, "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SF_DIR = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
_REG = registry()
_ORACLED = [n for n in _REG if _REG[n].oracle is not None]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def checker():
    return _load_checker()


def test_every_query_is_oracle_backed_or_documented():
    """0 rows-only queries since round 3; keep it that way. If a new
    query genuinely can't have an oracle, document why in its doc and
    extend this allowlist deliberately."""
    allowed_rows_only: set[str] = set()
    missing = [n for n in _REG if _REG[n].oracle is None and n not in allowed_rows_only]
    assert not missing, f"queries without oracle: {missing}"


@pytest.mark.parametrize("name", _ORACLED)
def test_oracle_never_emits_hugeint(name, duck):
    """Registry lint (VERDICT r5 item 2): no oracle may type an output
    column HUGEINT/UHUGEINT. DuckDB types an uncast integer SUM() as
    HUGEINT; the driver's pandas fetch decays HUGEINT to float64 while
    Spark emits int64, so such a column hash-mismatches under the
    driver even when every value is identical. The fix at the source:
    CAST(SUM(...) AS BIGINT) in the oracle SQL."""
    rows = duck.execute("DESCRIBE " + _REG[name].oracle).fetchall()
    bad = [(r[0], r[1]) for r in rows if "HUGEINT" in str(r[1]).upper()]
    assert not bad, (
        f"oracle output columns typed HUGEINT (driver pandas fetch "
        f"decays these to float64): {bad} — CAST(... AS BIGINT) them"
    )


@pytest.mark.parametrize("name", _ORACLED)
def test_oracle_parity(name, spark, duck, checker):
    q = _REG[name]
    sdf = q.fn(spark, SF_DIR)
    # Driver-parity fetch: BOTH sides through pandas (toPandas /
    # .df()), NOT collect/fetchall — HUGEINT decays to float64 and
    # NULL ints/doubles decay identically on this path, exactly as
    # under the driver (VERDICT r5 "What's wrong" 1-3).
    scols, srows = checker.fetch_spark(sdf)
    ocols, orows = checker.fetch_oracle(duck, q.oracle)
    assert len(srows) == len(orows), f"rowcount spark={len(srows)} duckdb={len(orows)}"
    assert sorted(scols) == sorted(ocols), f"columns spark={sorted(scols)} duckdb={sorted(ocols)}"
    assert checker.digest(srows, scols) == checker.digest(orows, ocols), (
        "value digest mismatch — run: python tools/check_oracle.py "
        f"--sf-dir {SF_DIR} {name}"
    )
