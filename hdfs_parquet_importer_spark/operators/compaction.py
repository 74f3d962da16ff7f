"""Small-file compaction (the OPTIMIZE half of table maintenance;
``operators/zorder.py`` is the CLUSTER half).

The reference writes parquet with whatever file count the upstream
partitioning produced (``package.scala:157,161``) — a long-running
ingest therefore accretes small files, and at 100 TB the scan's task
scheduler and the namenode both pay per file. Compaction rewrites a
directory into ~``target_bytes`` files: file sizes come from the
Hadoop FileSystem (so any scheme — file://, hdfs://, s3a:// — works),
the output file count is ``ceil(total / target_bytes)``, and the
rewrite is a round-robin ``repartition(n)`` so output files are evenly
sized regardless of input skew.

Scale notes: the listing is driver-side METADATA (one RPC per few
thousand entries via listFiles' iterator — the same cost `spark.read`
itself pays to plan the scan); rows never touch the driver. The
rewrite is one shuffle of the data being compacted — unavoidable for
re-bucketing bytes into even files, and it buys every later scan a
smaller task count. ``sort_within`` optionally re-sorts rows inside
each output file (no extra shuffle — sortWithinPartitions) to restore
min/max pruning locality that round-robin would otherwise destroy.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class CompactionPlan:
    n_files: int
    total_bytes: int
    n_output_files: int
    small_files: int  # inputs under half the target — the debt measure


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = 128 << 20
) -> CompactionPlan:
    """Inventory ``path`` (recursively) and size the compacted layout."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(jpath, True)
    n = total = small = 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        # Count every DATA file, not just *.parquet — some writers
        # emit extension-less part files that spark.read.parquet reads
        # fine; a suffix-only count could report total_bytes=0 and
        # size the rewrite to ONE giant output file. Metadata
        # (_SUCCESS, _committed, .crc) is excluded by prefix.
        if name.startswith(("_", ".")):
            continue
        n += 1
        total += st.getLen()
        if st.getLen() < target_bytes // 2:
            small += 1
    return CompactionPlan(
        n_files=n,
        total_bytes=total,
        n_output_files=max(1, math.ceil(total / target_bytes)),
        small_files=small,
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_bytes: int = 128 << 20,
    sort_within: list[str] | None = None,
) -> CompactionPlan:
    """Rewrite ``src`` into ``dest`` as ~``target_bytes`` parquet files.

    Returns the plan that sized the rewrite. ``target_bytes`` is an
    input-size heuristic (output size additionally depends on
    compression ratio — same convention as Delta/Iceberg OPTIMIZE).
    """
    import os

    if os.path.abspath(src.rstrip("/")) == os.path.abspath(dest.rstrip("/")):
        # Spark refuses to overwrite a path it is reading (and a path
        # alias that slipped past its check would delete the input
        # before the read) — fail before any work is spent. In-place
        # compaction = compact to a sibling dir, then swap.
        raise ValueError(
            f"src and dest must differ (got {src!r}); compact to a "
            "sibling directory and rename"
        )
    plan = plan_compaction(spark, src, target_bytes)
    df = spark.read.parquet(src)
    # Preserve Hive partitioning: flattening dt=.../ directories would
    # silently break downstream partition pruning and per-partition
    # overwrite contracts. Partition columns are inferred by diffing
    # the dataset schema (which includes directory-derived columns)
    # against one leaf file's footer schema — robust to listing order,
    # metadata files, and path-string quirks, unlike parsing key=value
    # segments out of the first listFiles entry.
    part_cols = _infer_partition_cols(spark, df)
    if part_cols:
        # Round-robin repartition(N) before partitionBy would spread
        # every partition value across all N tasks → up to
        # N × |values| output files. Instead shuffle on the partition
        # columns plus a bounded salt sized from each partition
        # directory's bytes, so directory `p` gets
        # ~ceil(bytes_p / target_bytes) files.
        from pyspark.sql import functions as F

        dir_files = {
            _norm_uri(d): max(1, math.ceil(b / target_bytes))
            for d, b in _partition_dir_bytes(spark, src).items()
        }
        n_map = None
        if dir_files:
            pairs: list = []
            for d, nf in dir_files.items():
                pairs.extend([F.lit(d), F.lit(nf)])
            n_map = F.create_map(*pairs)
        data_cols = [c for c in df.columns if c not in part_cols]
        # Both sides of the lookup go through the same scheme/slash
        # normalization: Hadoop Path.toString() prints 'file:/tmp/x'
        # while input_file_name() prints 'file:///tmp/x' — the raw
        # strings NEVER match, which silently degraded
        # every directory to one output file.
        file_dir = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.input_file_name(), "/[^/]*$", ""),
                "^[A-Za-z][A-Za-z0-9+.-]*:", "",
            ),
            "^/+", "",
        )
        # Fallback to 1 file per (task, value) if a URI-encoding
        # mismatch keeps the lookup from resolving — degrades to
        # fewer, larger files, never wrong data.
        n_files = (
            F.coalesce(n_map[file_dir], F.lit(1)) if n_map is not None else F.lit(1)
        )
        # All-partition-column tables have nothing row-level to hash:
        # one file per directory is the only sensible layout.
        salt = (
            F.pmod(F.xxhash64(*data_cols), n_files) if data_cols else F.lit(0)
        )
        # Range-partition on (part_cols, salt) rather than hash: with
        # K ≈ n_output_files distinct keys hashed into K partitions,
        # ~1/e of the partitions come up empty and colliding salts of
        # the same directory merge, so per-directory file counts
        # systematically undershoot and file sizes overshoot ~2x.
        # Range exchange never SPLITS equal keys (bounds
        # are distinct key values), but its sampled boundaries can
        # still MERGE two adjacent keys when a key's sampled share
        # reads low — so ask for 2x the partitions. With 2x headroom
        # a merge needs a well-populated key's sampled weight to come
        # in under HALF its true share (many sigma out at the default
        # ~100 samples per input partition); empty partitions write
        # no files, so the 2x does not change per-directory file
        # counts. One extra sampling pass — fine for a maintenance
        # rewrite.
        total_target = (
            sum(dir_files.values()) if dir_files else plan.n_output_files
        )
        df = df.withColumn("__compact_salt", salt).repartitionByRange(
            max(1, 2 * total_target), *part_cols, "__compact_salt"
        ).drop("__compact_salt")
    else:
        df = df.repartition(plan.n_output_files)
    if sort_within:
        # Partition columns lead so the partitioned writer's required
        # ordering is already satisfied — otherwise V1Writes injects a
        # NON-STABLE Sort[part_cols] that destroys this order (a
        # harmless no-op for unpartitioned compaction).
        df = df.sortWithinPartitions(*part_cols, *sort_within)
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(dest)
    return plan


def _norm_uri(path: str) -> str:
    """Scheme-and-leading-slash-insensitive form of a path URI, so
    Hadoop ``Path.toString()`` ('file:/tmp/x', 'hdfs://nn/x') and
    Spark ``input_file_name()`` ('file:///tmp/x', 'hdfs://nn/x')
    spellings of the same location compare equal."""
    import re

    return re.sub(r"^/+", "", re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*:", "", path))


def _infer_partition_cols(spark: SparkSession, df) -> list[str]:
    """Directory-derived (Hive ``key=value``) columns of ``df``.

    A single leaf file read directly has no partition directories
    above it, so its footer schema is exactly the non-partition
    columns; the difference (in dataset-schema order, which is the
    directory nesting order) is the partition column list. Each
    candidate must ALSO appear as a ``/<name>=`` path segment of the
    probed file: under schema evolution a data column missing from an
    older file's footer would otherwise be misread as a partition
    column and the rewrite would partitionBy a (possibly
    high-cardinality) data column.
    """
    files = df.inputFiles()
    if not files:
        return []
    leaf_fields = {f.name for f in spark.read.parquet(files[0]).schema.fields}
    return [
        f.name
        for f in df.schema.fields
        if f.name not in leaf_fields and f"/{f.name}=" in files[0]
    ]


def _partition_dir_bytes(spark: SparkSession, src: str) -> dict[str, int]:
    """Total data bytes per leaf directory under ``src`` (driver-side
    metadata, same single recursive listing ``plan_compaction`` pays).
    Keys are scheme-qualified directory URIs matching
    ``input_file_name()``'s parent."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(src)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(fs.makeQualified(jpath), True)
    sizes: dict[str, int] = {}
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if p.getName().startswith(("_", ".")):
            continue
        parent = p.getParent().toString()
        sizes[parent] = sizes.get(parent, 0) + st.getLen()
    return sizes
