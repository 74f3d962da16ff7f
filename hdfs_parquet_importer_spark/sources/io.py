"""Format connectors: JSONL, ORC, partitioned Parquet, bucketed tables.

Design rules (100 TB):

* **Partitioned layouts** (``partitionBy``) give readers partition
  pruning — a filter on the partition column skips whole directories
  (PartitionFilters in the scan, zero IO for pruned values). Choose
  low-cardinality columns; a high-cardinality partition key creates
  millions of small files.
* **Bucketed tables** (``bucketBy`` + ``saveAsTable``) pre-shuffle
  data by join key at write time: two tables bucketed on the same key
  with the same bucket count join with ZERO exchanges forever after —
  the write-once/join-many trade that pays for itself after one join.
* **JSONL** is a row format: fine as an interchange/ingest format,
  wrong as an analytics store (no column pruning, no predicate
  pushdown, full-text parse per read). Pipelines here land JSONL into
  Parquet first, mirroring the reference's CSV->Parquet pattern
  (reference README.md:3-9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """Read newline-delimited JSON.

    Pass an explicit schema in production: without one Spark runs a
    full inference scan (an extra pass over 100 TB) and infers
    permissive types. ``multiLine=False`` keeps the file splittable —
    one JSON doc per line can be read by many tasks in parallel;
    multiline JSON cannot be split.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("multiLine", str(multiline).lower()).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same vectorized read + pushdown machinery as Parquet."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame, path: str, partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned Parquet (reference O8, package.scala:157).

    Unlike the reference — which sorts globally and THEN repartitions,
    destroying the sort (package.scala:144-155; SURVEY.md §2.1 O7) —
    this composes ``repartition(partition_cols)`` with
    ``sortWithinPartitions``, so each output file is internally sorted
    (better parquet page/dictionary compression + min-max pruning) and
    each Hive partition is written by one task (no small-file spray:
    without the repartition, every input task writes a file into every
    partition directory → tasks x partitions files).
    """
    out = df.repartition(*partition_cols)
    if sort_cols:
        # Partition columns must LEAD the in-partition sort: the
        # partitioned writer requires ordering by the
        # partition columns and injects its own NON-STABLE sort when
        # unsatisfied — which silently destroyed the sort_cols order.
        # Leading with them satisfies the requirement, so the writer
        # adds nothing and files stay sorted by sort_cols.
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read back a partitioned layout; partition columns come from the
    directory structure and filters on them prune directories before
    any file IO (check PartitionFilters in .explain)."""
    return spark.read.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles by ``bucket_cols`` into ``n_buckets`` files
    per partition at write time. Reading two tables bucketed on the
    same key/count lets Spark plan a join with no Exchange on either
    side — at 100 TB this converts every repeated fact-fact join from
    a full network shuffle into a local merge. Requires saveAsTable
    (bucket metadata lives in the catalog, not the files).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def cached_tmp_dataset(namespace: str, src_paths: list[str], build) -> str:
    """Content-addressed /tmp cache for queries that must demonstrate
    a write-then-reread-from-disk pattern (dynamic partition pruning,
    mergeSchema evolution) without rewriting an immutable derived
    dataset on every invocation.

    The cache key is a fingerprint of the SOURCE files ((relpath,
    size, mtime_ns) walk), so a regenerated source or a different
    dataset sharing a directory basename can never be served a stale
    cache — the key changes and the old entry is simply never read
    again. Builders write into a per-pid staging directory which is
    atomically ``os.rename``-d to the final content-addressed path;
    a concurrent first run that loses the race discards its staging
    copy, so readers (gated on the final path existing) never observe
    a half-written or mid-overwrite directory.

    Shared-host hardening: the cache root is
    namespaced by UID and created mode 0700 (another user can neither
    pre-create our entries nor read them), and an entry is served only
    if it carries the completeness marker this function writes after a
    successful build — a foreign or truncated directory at the final
    path is discarded and rebuilt rather than trusted.
    """
    import hashlib
    import os
    import shutil
    import tempfile

    h = hashlib.sha1()
    for p in sorted(src_paths):
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()  # deterministic walk order across filesystems
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    h.update(
                        f"{os.path.relpath(fp, p)}:{st.st_size}:"
                        f"{st.st_mtime_ns}\n".encode()
                    )
        else:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    key = h.hexdigest()[:12]
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root_dir = os.path.join(tempfile.gettempdir(), f"spark_graft_cache_{uid}")
    os.makedirs(root_dir, mode=0o700, exist_ok=True)
    st = os.stat(root_dir)
    if hasattr(os, "getuid") and st.st_uid != uid:
        # Squatted by another user — refuse to serve/poison through it.
        raise RuntimeError(
            f"cache root {root_dir} is owned by uid {st.st_uid}, "
            f"not {uid}; remove it or set TMPDIR elsewhere"
        )
    # makedirs' mode only applies when it CREATES the directory; a
    # pre-existing same-uid root with wider perms would silently keep
    # them. chmod unconditionally (after the ownership
    # check, so a squatted dir still gets the clean error above) so
    # the documented 0700 holds no matter who created it first.
    os.chmod(root_dir, 0o700)
    marker_name = "_GRAFT_COMPLETE"
    final = os.path.join(root_dir, f"{namespace}_{key}")
    if os.path.exists(final):
        if os.path.exists(os.path.join(final, marker_name)):
            return final
        # Present but unmarked: a crashed pre-rename copy from an old
        # version or a foreign tree. Never serve it — rebuild.
        shutil.rmtree(final, ignore_errors=True)
    staging = f"{final}__staging_{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    try:
        build(staging)
        with open(os.path.join(staging, marker_name), "w") as fh:
            fh.write(key)
    except BaseException:
        # A failed build must not leak its partial staging tree.
        shutil.rmtree(staging, ignore_errors=True)
        raise
    try:
        os.rename(staging, final)
    except OSError:
        # Lost the build race — the winner's copy is identical
        # (same content key); keep it and drop ours.
        if not os.path.exists(final):
            raise
        shutil.rmtree(staging, ignore_errors=True)
    return final
