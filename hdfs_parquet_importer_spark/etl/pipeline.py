"""Pipeline composition + parquet sinks (reference O6-O9 and the
fixed stage order of package.scala:108-164).

Stage order matches the reference: scan -> [cleanse] -> [date-enrich]
-> [sort] -> [repartition] -> write. Each stage is optional by flag.

Scale notes:

* **sort** (O6) is a global range sort — sample, range-partition,
  shuffle, per-partition sort. Fine at any scale, but the reference
  then *repartitions by hash* (O7), destroying the order it just paid
  for (SURVEY §2.1 O7). ``sort_within_partitions=True`` gives the
  plan you actually want at 100 TB: one hash shuffle, then a cheap
  in-partition sort — ordered files inside each Hive partition with
  no second exchange.
* **partitioned write** (O8) emits Hive-style ``k=v/`` directories,
  enabling partition pruning for every downstream reader — the whole
  reason the date-enrich stage exists.
* AQE (on by default in our session factory) coalesces the shuffle
  output so small partitions don't become small files.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.etl.arrays import parse_array_col
from hdfs_parquet_importer_spark.etl.cleanse import (
    cleanse_suspect_rows,
    cleanse_suspect_rows_not_in,
)
from hdfs_parquet_importer_spark.etl.csv_source import read_csv
from hdfs_parquet_importer_spark.etl.enrich import date_enrich
from hdfs_parquet_importer_spark.schema import parse_schema_file


@dataclass
class PipelineOptions:
    """Mirror of the reference CLI (Config.scala:11-21, README.md:49-62)."""

    src_file: str
    dest_file: str
    schema_file: str | None = None
    date_enrich: str | None = None  # source column name, e.g. "tweet_time"
    partition_cols: list[str] = field(default_factory=list)
    sort_cols: list[str] = field(default_factory=list)
    slash_escapes: bool = False
    delimiter: str = ","
    twitter_cleanse: bool = False
    array_parse_cols: list[str] = field(default_factory=list)  # extension (O5 is dead code in the reference)
    # Engine choices beyond the reference
    strict_not_in_cleanse: bool = False  # use the two-pass parity variant
    sort_within_partitions: bool = False  # idiomatic fix for the O6+O7 footgun
    infer_schema: bool = False


def build_pipeline(spark: SparkSession, opts: PipelineOptions) -> DataFrame:
    """Construct the lazy DataFrame for every stage before the write."""
    schema = parse_schema_file(opts.schema_file) if opts.schema_file else None
    df = read_csv(
        spark,
        opts.src_file,
        schema=schema,
        delimiter=opts.delimiter,
        slash_escapes=opts.slash_escapes,
        infer_schema=opts.infer_schema,
    )
    if opts.twitter_cleanse:  # package.scala:130-134
        cleanse = (
            cleanse_suspect_rows_not_in if opts.strict_not_in_cleanse else cleanse_suspect_rows
        )
        df = cleanse(df)
    if opts.date_enrich:  # package.scala:137-141
        df = date_enrich(df, opts.date_enrich)
    for col in opts.array_parse_cols:
        df = parse_array_col(df, col)
    if opts.sort_cols and opts.sort_within_partitions and not opts.partition_cols:
        # Without a repartition there is no hash shuffle to sort
        # within: the "sort" would apply per raw CSV input split and
        # the user silently gets effectively unsorted output.
        raise ValueError(
            "--sortWithinPartitions requires --partitionCols (it sorts "
            "inside the hash partitions); for a global sort drop the flag"
        )
    if opts.sort_cols and not opts.sort_within_partitions:  # package.scala:144-149
        df = df.orderBy(*[F.col(c) for c in opts.sort_cols])
    if opts.partition_cols:  # package.scala:155
        df = df.repartition(*[F.col(c) for c in opts.partition_cols])
    if opts.sort_cols and opts.sort_within_partitions:
        # The idiomatic order: shuffle once by partition cols, then
        # sort rows inside each partition — no order-destroying second
        # exchange, sorted parquet files per Hive dir.
        #
        # The partition columns MUST lead the sort (verified
        # empirically): the partitioned writer requires its
        # output ordered by the partition columns and, if the incoming
        # order doesn't already satisfy that, V1Writes injects its own
        # NON-STABLE Sort[partition_cols] above this one — silently
        # destroying the sort_cols order this flag exists to deliver.
        # Leading with the partition cols makes the required ordering
        # already-satisfied, so no sort is injected and files come out
        # ordered by sort_cols within each Hive directory.
        df = df.sortWithinPartitions(
            *[F.col(c) for c in opts.partition_cols],
            *[F.col(c) for c in opts.sort_cols],
        )
    return df


def write_parquet(df: DataFrame, dest: str, partition_cols: list[str] | None = None) -> None:
    """Parquet sink: partitioned (O8, package.scala:157) or plain (O9, :161)."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(dest)


def run_pipeline(spark: SparkSession, opts: PipelineOptions) -> DataFrame:
    """Full reference pipeline: build, write, return the DataFrame.

    Returns the (lazy) transformed frame like the reference's
    ``readCSVWriteParquet`` (package.scala:108-164) so callers/tests
    can make further assertions without re-reading the sink.
    """
    df = build_pipeline(spark, opts)
    write_parquet(df, opts.dest_file, opts.partition_cols or None)
    return df
