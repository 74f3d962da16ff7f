"""Optimization-round harness: time query subsets under the bench.py
protocol (bench.protocol_session and bench.timed_runs: one untimed
warmup of each query, then the median of RUNS timed full
plan-build+execute+collect cycles) and optionally dump each query's
``explain("formatted")`` to ``plans/<dir>/<name>_<tag>.txt``, so the
plan claims in an ``OPTIMIZATION_<round>.md`` are checkable without
running Spark.

Usage:
    python tools/optbench.py [--plans TAG] [--plans-dir DIR] [--sf-dir DIR] name ...
    python tools/optbench.py --all            # every headline query
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hdfs_parquet_importer_spark.queries import registry  # noqa: E402


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--plans", default=None, help="dump plans with this tag")
    ap.add_argument("--plans-dir", default="r14", help="plans/<dir>/ to write into")
    ap.add_argument("--runs", type=int, default=max(3, bench.RUNS))
    ap.add_argument("--all", action="store_true", help="every headline query")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    reg = registry()
    names = args.names
    if args.all:
        names = [n for n in bench.HEADLINE if n in reg]
    unknown = [n for n in names if n not in reg]
    if unknown:
        raise SystemExit(f"not in registry: {unknown}")

    spark = bench.protocol_session("optbench")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.plans_dir,
    )
    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)

    def warmup(name: str) -> None:
        # The plan is dumped before its first execution: the same
        # not-yet-adaptive plan a fresh build shows.
        df = reg[name].fn(spark, args.sf_dir)
        if args.plans:
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as fh:
                fh.write(formatted_plan(df))
        df.collect()

    for name in names:
        bench.timed_runs(lambda: warmup(name), 1)

    out: dict[str, dict[str, float]] = {}
    for name in names:
        samples = bench.timed_runs(
            lambda: reg[name].fn(spark, args.sf_dir).collect(), args.runs
        )
        out[name] = {
            "median": round(statistics.median(samples), 3),
            "min": round(min(samples), 3),
            "stdev": round(statistics.stdev(samples), 3) if len(samples) > 1 else 0.0,
        }
        print(
            f"{name:42s} median={out[name]['median']:8.3f} "
            f"min={out[name]['min']:8.3f} stdev={out[name]['stdev']:.3f}",
            flush=True,
        )

    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
