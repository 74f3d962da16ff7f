"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle twin over
the same parquet tables, then compares row count, column-name set, and
an order-insensitive value digest (columns sorted by name, rows sorted,
values canonicalized). A mismatch here predicts a CORRECTNESS_r{N}
failure, so keep this green.

Usage:
    python tools/check_oracle.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

import duckdb
import numpy as np

# Anchor on the repo root (this file's parent's parent) so the tool
# works from any cwd, not just the repo root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hdfs_parquet_importer_spark.queries import registry
from hdfs_parquet_importer_spark.session import build_session
from hdfs_parquet_importer_spark.tables import TABLE_NAMES, table_path


def _py(v):
    """Numpy/pandas scalar -> plain Python, arrays -> lists."""
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return v.tolist()
    return v


def _pandas_rows(pdf) -> list[tuple]:
    return [
        tuple(_py(v) for v in r)
        for r in pdf.itertuples(index=False, name=None)
    ]


def fetch_oracle(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Fetch a DuckDB result THE DRIVER'S WAY: through pandas.

    `con.execute(sql).df()` is the driver's fetch path, and it is
    lossier than `fetchall()`: DuckDB HUGEINT (the default type of an
    uncast integer SUM) decays to float64 in pandas while `fetchall`
    would hand back exact Python ints. A query can be green under a
    fetchall replica and red under the driver for exactly this
    reason, so the replica walks the same plank the driver does.
    """
    odf = con.execute(sql).df()
    return [str(c) for c in odf.columns], _pandas_rows(odf)


def fetch_spark(sdf) -> tuple[list[str], list[tuple]]:
    """Fetch a Spark result THE DRIVER'S WAY: through pandas.

    The fetch must be pandas on BOTH sides, not just DuckDB's: a
    NULL-bearing int64 column decays to float64 and NULL doubles
    become NaN in pandas — on both engines. Fetching Spark rows via
    collect() (exact ints, None) while DuckDB goes through .df()
    flags 6 driver-GREEN queries as local mismatches (rollup NULL
    group keys collected as int vs fetched as float, forward-fill
    NULLs as None vs NaN). Symmetric pandas decay reproduces the
    driver verdicts exactly — in both directions.
    """
    pdf = sdf.toPandas()
    return [str(c) for c in pdf.columns], _pandas_rows(pdf)


def canon(v) -> str:
    """Canonicalize one value for cross-engine comparison."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        # Dtype-STRICT: a float64 123.0 must NOT canonicalize like an
        # int64 123 — the driver's pandas-based hasher distinguishes
        # them, and collapsing here would hide a HUGEINT sum that
        # decays to float64 in pandas. Keep the
        # replica at least as strict as the driver.
        if math.isnan(v):
            return "<nan>"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    reg = registry()
    names = args.names or sorted(reg)
    unknown = [n for n in names if n not in reg]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = build_session("check-oracle", shuffle_partitions=32)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(args.sf_dir, t)}')"
        )

    failures = []
    for name in names:
        q = reg[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, args.sf_dir)
            scols, srows = fetch_spark(sdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_s = time.time() - t0
        if q.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{spark_s:.1f}s]")
            if len(srows) == 0:
                print(f"      WARNING {name}: 0 rows")
            continue
        try:
            ocols, orows = fetch_oracle(con, q.oracle)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(ocols)}")
        elif digest(srows, list(scols)) != digest(orows, ocols):
            problems.append("value digest mismatch")
            # print the first differing row pair for debugging
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
            lines_s = sorted("\x1f".join(canon(r[i]) for i in order_s) for r in srows)
            lines_o = sorted("\x1f".join(canon(r[i]) for i in order_o) for r in orows)
            for a, b in zip(lines_s, lines_o):
                if a != b:
                    problems.append(f"  spark : {a[:300]}")
                    problems.append(f"  duckdb: {b[:300]}")
                    break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(f"      {p}")
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(srows)} rows [{spark_s:.1f}s]")

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
