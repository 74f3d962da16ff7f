"""Cross-engine pandas-dtype parity audit.

The driver canonicalizes results through pandas DataFrames, where
value identity is dtype-sensitive — an int64 123 (Spark) and a float64
123.0 (DuckDB HUGEINT sums decay to float64 in `fetchdf`) hash
differently. `tools/check_oracle.py` fetches BOTH engines through pandas
(`fetch_spark` / `fetch_oracle`) with a dtype-strict `canon()`, so
the replica reproduces this class directly; this audit remains the
fast column-level lens (dtype kinds only, no value hashing) for
localizing WHICH column diverges.

This audit runs every oracle-backed query on BOTH engines and compares
the pandas dtype *kind* per column (int-family vs float vs object vs
bool vs datetime). Any `int vs float` or `bool vs int` divergence is a
latent driver hash-fail regardless of the local replica's verdict.

Usage:
    python tools/dtype_audit.py [--sf-dir /root/testdata/sf0.01] [names...]

Exit 1 if any query has a risky dtype divergence.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb

# Anchor on the repo root (this file's parent's parent) so the tool
# works from any cwd, not just the repo root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hdfs_parquet_importer_spark.queries import registry
from hdfs_parquet_importer_spark.session import build_session
from hdfs_parquet_importer_spark.tables import TABLE_NAMES, table_path

# pandas dtype "kind" codes collapsed into comparison families.
# i/u (signed/unsigned int) are one family: values hash identically.
_FAMILY = {
    "i": "int",
    "u": "int",
    "f": "float",
    "b": "bool",
    "O": "object",
    "M": "datetime",
    "m": "timedelta",
}


def _families(df) -> dict[str, str]:
    return {c: _FAMILY.get(df[c].dtype.kind, df[c].dtype.kind) for c in df.columns}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    reg = registry()
    unknown = [n for n in args.names if n not in reg]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    names = args.names or [n for n in reg if reg[n].oracle is not None]
    spark = build_session("dtype-audit", shuffle_partitions=32)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(args.sf_dir, t)}')"
        )

    bad: list[str] = []
    for name in names:
        q = reg[name]
        if q.oracle is None:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, args.sf_dir).toPandas()
            odf = con.execute(q.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: {e}")
            bad.append(name)
            continue
        sfam, ofam = _families(sdf), _families(odf)
        diffs = {
            c: (sfam.get(c, "<missing>"), ofam.get(c, "<missing>"))
            for c in sorted(set(sfam) | set(ofam))
            if sfam.get(c) != ofam.get(c)
        }
        # int vs float is the driver-hash killer; object vs anything is
        # suspect too (lists, decimals). Same-family always hashes alike.
        if diffs:
            print(f"DIFF  {name}: {diffs}  [{time.time() - t0:.1f}s]")
            bad.append(name)
        else:
            print(f"ok    {name}  [{time.time() - t0:.1f}s]")

    print(f"\n{len(bad)} risky queries: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
