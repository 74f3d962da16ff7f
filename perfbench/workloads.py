"""The workloads: what each runs, the inputs it needs, and how
each op's output is checked.

An op has two timed phases, called through the package's public entry
points only:

* ``plan``: ``queries.registry()[name].fn(spark, sf_dir)`` or
  ``etl.pipeline.build_pipeline`` (eager checkpoint jobs land here);
* ``exec``: ``.collect()`` or ``etl.pipeline.write_parquet``.

``check`` runs outside the timer and returns an error string or None.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracle():
    """``tools/check_oracle.py``, the repo's oracle fetch and digest."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    sf: float = 0.0  # table scale factor (query workloads)
    tweet_rows: int = 0  # CSV rows (ETL workload)


ETL_OP = "etl_tweets_to_parquet"

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_ingest",
            "the paper's own CSV-to-Parquet job and the only write path: "
            "CSV parse, shuffle and Parquet encode; queries and operators idle",
            (ETL_OP,),
            tweet_rows=100_000,
        ),
        Workload(
            "relational_scan",
            "Catalyst/JVM control: Parquet scan, joins, windows, no Python "
            "workers and little plan-time work; operator or loop changes "
            "must leave it unchanged",
            (
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier",
                "window_topk_per_group",
                "events_funnel",
                "asof_join_purchase_view",
            ),
            sf=0.1,
        ),
        Workload(
            "llm_curation",
            "the extension operators in their two regimes: a CPU-bound "
            "Python/Arrow codec and a plan-bound iterative graph loop; the "
            "ETL path idles",
            (
                "multimodal_jpeg_color_roundtrip",
                "graph_label_propagation",
            ),
            sf=0.1,
        ),
    )
}


# ------------------------------------------------------------- inputs

def input_dir(work: str, wl: Workload, seed: int) -> str:
    return os.path.join(work, "inputs", f"{wl.name}-{seed}")


def prepare(work: str, wl: Workload, seed: int) -> dict:
    """Generate the seeded inputs and the expected result of every op.

    Runs in a child process (this file run as a script): generation and
    the DuckDB oracle stay out of the benchmark process's memory peak and
    out of set-up."""
    out = input_dir(work, wl, seed)
    if wl.tweet_rows:
        return {ETL_OP: gen.make_tweets(out, seed, wl.tweet_rows)}
    import duckdb

    from hdfs_parquet_importer_spark.queries import registry
    from hdfs_parquet_importer_spark.tables import TABLE_NAMES, table_path

    gen.make_tables(out, seed, wl.sf)
    reg = registry()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(out, t)}')")
        expect = {}
        for name in wl.ops:
            sql = reg[name].oracle
            if sql is None:
                expect[name] = None
                continue
            co = _check_oracle()
            cols, rows = co.fetch_oracle(con, sql)
            expect[name] = {"cols": sorted(cols), "rows": len(rows),
                            "digest": co.digest(rows, cols)}
        return expect
    finally:
        con.close()


# --------------------------------------------------------------- ops

class QueryOp:
    """A registered query: ``fn`` builds the plan, ``collect`` runs it."""

    def __init__(self, name: str, sf_dir: str, expect: dict | None) -> None:
        from hdfs_parquet_importer_spark.queries import registry

        self.name = name
        self.fn = registry()[name].fn
        self.sf_dir = sf_dir
        self.expect = expect
        # (rows, digest) of the collected rows of the first execution,
        # the one checked against the oracle
        self.first: tuple[int, str] | None = None

    def plan(self, spark):
        return self.fn(spark, self.sf_dir)

    def execute(self, df):
        return df, df.collect()

    def rows_out(self, result) -> int:
        return len(result[1])

    def check(self, result) -> str | None:
        """The first execution is checked against the oracle; every later
        one must collect the same rows (or, with no oracle, as many)."""
        df, rows = result
        seen = (len(rows), _check_oracle().digest([tuple(r) for r in rows], df.columns))
        if self.first is None:
            error = self.check_oracle(df)
            if error is None:
                self.first = seen
            return error
        if self.expect is None:
            if seen[0] != self.first[0]:
                return f"{seen[0]} rows, first execution had {self.first[0]}"
        elif seen != self.first:
            return "collected rows differ from the first, oracle-checked execution"
        return None

    def check_oracle(self, df) -> str | None:
        """As ``tools/check_oracle.py`` checks: the Spark side fetched
        through pandas like the oracle side, digests compared dtype-strict."""
        co = _check_oracle()
        cols, rows = co.fetch_spark(df)
        if self.expect is None:  # no oracle: the result must not be empty
            return None if rows else "0 rows"
        if sorted(cols) != self.expect["cols"]:
            return f"columns {sorted(cols)} != oracle {self.expect['cols']}"
        if len(rows) != self.expect["rows"]:
            return f"{len(rows)} rows != oracle {self.expect['rows']}"
        if co.digest(rows, cols) != self.expect["digest"]:
            return "value digest differs from the DuckDB oracle"
        return None


class EtlOp:
    """Schema file -> Twitter cleanse -> date enrich ->
    partitionBy(year, month) with sort-within-partitions on tweetid."""

    name = ETL_OP

    def __init__(self, in_dir: str, out_dir: str, expect: dict) -> None:
        from hdfs_parquet_importer_spark.etl.pipeline import PipelineOptions

        self.expect = expect
        self.opts = PipelineOptions(
            src_file=os.path.join(in_dir, "tweets.csv"),
            dest_file=out_dir,
            schema_file=os.path.join(in_dir, "tweets.schema"),
            date_enrich="tweet_time",
            partition_cols=["year", "month"],
            sort_cols=["tweetid"],
            twitter_cleanse=True,
            sort_within_partitions=True,
        )

    def plan(self, spark):
        from hdfs_parquet_importer_spark.etl.pipeline import build_pipeline

        return build_pipeline(spark, self.opts)

    def execute(self, df):
        from hdfs_parquet_importer_spark.etl.pipeline import write_parquet

        write_parquet(df, self.opts.dest_file, self.opts.partition_cols)
        return None

    def rows_out(self, result) -> int:
        return self.expect["rows_out"]

    def output_files(self) -> list[str]:
        out = []
        for d, _, files in os.walk(self.opts.dest_file):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
        return out

    def check(self, result) -> str | None:
        import pyarrow.dataset as ds

        table = ds.dataset(self.opts.dest_file, format="parquet",
                           partitioning="hive").to_table(columns=["tweetid", "year", "month"])
        if table.num_rows != self.expect["rows_out"]:
            return f"{table.num_rows} rows out != {self.expect['rows_out']} valid rows in"
        parts = sorted({
            os.path.relpath(os.path.dirname(f), self.opts.dest_file)
            for f in self.output_files()
        })
        if parts != self.expect["partitions"]:
            return f"{len(parts)} partitions != expected {len(self.expect['partitions'])}"
        got = gen.tweets_digest(table["year"].to_numpy(), table["month"].to_numpy(),
                                table["tweetid"].to_numpy())
        if got != self.expect["digest"]:
            return "read-back digest differs from the generated rows"
        return None


def make_ops(work: str, wl: Workload, seed: int, expect: dict) -> list:
    in_dir = input_dir(work, wl, seed)
    if wl.tweet_rows:
        return [EtlOp(in_dir, os.path.join(work, "etl_out"), expect[ETL_OP])]
    return [QueryOp(n, in_dir, expect[n]) for n in wl.ops]


if __name__ == "__main__":
    # python3 perfbench/workloads.py <work dir> <workload> <seed> <expect.json>
    import json

    work_dir, name, seed_arg, expect_path = sys.argv[1:]
    result = prepare(work_dir, WORKLOADS[name], int(seed_arg))
    with open(expect_path, "w") as fh:
        json.dump(result, fh)
