"""Streaming pipelines over the events table.

Batch/stream parity is the design invariant: every transformation here
is the SAME logical plan as its batch twin in ``queries/events.py``
(``F.window`` / ``F.session_window`` / groupBy-agg), so correctness is
checked in batch by the DuckDB oracle while this module demonstrates
the incremental execution mode.

Scale notes: streaming state lives in the state store keyed by
(window/session, group keys) — the watermark bounds it by evicting
windows older than the lateness horizon, which is what makes a
forever-running 100 TB/day pipeline's state O(active windows) instead
of O(history). ``availableNow`` triggers are used in tests so a finite
parquet source drains and stops deterministically.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Parquet streaming sources need an explicit schema (no inference at
# stream start). Legacy fixed-layout schema (ts = int64 nanos), kept
# for callers and tests that synthesize their own nano-long event
# files; the live testdata path probes the footer instead
# (read_events_stream) because the generator has shipped both
# TIMESTAMP(NANOS) and timestamp[us] layouts across rounds.
EVENTS_SCHEMA: T.StructType


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


EVENTS_SCHEMA = _events_schema(T.LongType())


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over the events parquet path.

    In production the path is a landing directory that keeps receiving
    files; the parquet file-stream source discovers new files per
    micro-batch (``maxFilesPerTrigger`` bounds per-batch work).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # A stream source needs an explicit schema, and events.ts has
    # shipped as two physical layouts across testdata generations
    # (TIMESTAMP(NANOS) read as long vs plain timestamp[us] read as
    # TIMESTAMP_NTZ) — probe the footer with a batch read once and
    # adapt, mirroring tables.load_table.
    import os

    probed = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_name = probed.schema["ts"].dataType.typeName()
    if ts_name in ("long", "bigint"):
        schema = _events_schema(T.LongType())
        convert = F.timestamp_micros(F.expr("ts div 1000"))
    elif ts_name == "timestamp_ntz":
        schema = _events_schema(T.TimestampNTZType())
        convert = F.col("ts").cast("timestamp")
    else:
        schema = _events_schema(T.TimestampType())
        convert = F.col("ts")
    # The file-stream source needs a DIRECTORY basePath; the testdata
    # table is a single file, so scan the sf dir with a glob filter.
    reader = spark.readStream.schema(schema).option(
        "pathGlobFilter", "events.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(sf_dir)
    return df.withColumn("ts", convert)


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts with late-data handling.

    The watermark lets the state store evict windows more than
    ``watermark`` behind the max event time — late rows inside the
    horizon still update their window; older ones are dropped.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "2 hours", watermark: str = "4 hours"
) -> DataFrame:
    """Session windows per user — state merges adjacent sessions as
    events arrive; watermark finalizes sessions once no event can
    extend them."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState``.

    Demonstrates the arbitrary-state API for operators the built-in
    windows can't express (counters, ML feature state, CDC merge).
    State schema is (n, total) per user_id; each micro-batch folds its
    Arrow batches into the state and emits the updated row. State is
    partitioned by the grouping key, so it scales horizontally with
    executors — no global state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_ewma(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Unbounded-history EWMA per user — the stateful streaming twin
    of the batch ``window_ewma`` query (which truncates to a bounded
    frame precisely because batch windows must hold their frame in
    memory). Here the accumulator IS the state: one (ewma, n) pair
    per key, folded forward each micro-batch, so history length never
    matters. State is partitioned by user_id and scales horizontally.

    Ordering contract: rows are folded in (ts, event_id) order WITHIN
    each micro-batch, and batches arrive in file order — the in-order
    per-key log assumption. True event-time disorder across batches
    needs watermarked buffering in front (compose with
    ``tumbling_counts``-style watermarking), which no engine's EWMA
    can avoid: the recursion is order-defined.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, ewma double, n_events long"
    state_schema = "ewma double, n long"

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            ewma, n = state.get
        else:
            ewma, n = None, 0
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for v in batch["value"]:
            ewma = float(v) if ewma is None else alpha * float(v) + (1 - alpha) * ewma
        n += len(batch)
        state.update((float(ewma), n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "ewma": [round(ewma, 6)], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_rolling_zscore(
    events: DataFrame,
    frame: int = 19,
    min_prior: int = 10,
    threshold: float = 2.5,
) -> DataFrame:
    """Stateful streaming twin of the batch ``stat_rolling_zscore``
    query: each event is scored against the mean/sample-stddev of its
    user's previous ``frame`` values (the current value is EXCLUDED
    — it joins the state only after scoring, so there is no
    self-leakage), and anomalies with |z| > ``threshold`` after at
    least ``min_prior`` priors are emitted.

    State per key is a bounded ``frame``-deep value list — unlike the
    EWMA (O(1) state, unbounded history) this is the bounded-frame
    statistic, so the state column is an array capped at ``frame``
    doubles; memory is frame x n_keys regardless of stream length.
    Same ordering contract as streaming_ewma: (ts, event_id) within
    each micro-batch, file-order across batches.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, event_id long, value double, zscore double"
    state_schema = "vals array<double>"

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        vals: list[float] = list(state.get[0]) if state.exists else []
        out: list[tuple] = []
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for r in batch.itertuples():
            n = len(vals)
            if n >= min_prior:
                mu = sum(vals) / n
                var = sum((x - mu) ** 2 for x in vals) / (n - 1)
                sd = math.sqrt(var)
                if sd > 1e-9:
                    z = (float(r.value) - mu) / sd
                    if abs(z) > threshold:
                        out.append(
                            (key[0], r.event_id, float(r.value), round(z, 6))
                        )
            vals.append(float(r.value))
            if len(vals) > frame:
                vals = vals[-frame:]
        state.update((vals,))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "value", "zscore"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_stream_interval_join(
    purchases: DataFrame,
    views: DataFrame,
    max_gap: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's views within ``max_gap`` before it.

    Both unbounded sides carry a watermark; the interval condition
    (v.ts in [p.ts - max_gap, p.ts]) + the watermarks let the state
    store evict buffered rows once no future match is possible — the
    two requirements that make a stream-stream join's state bounded.
    Same logical result as the batch twin ``events_interval_join``.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_gap}")),
    )
    return joined.select(
        "purchase_id",
        "view_id",
        "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("gap_s"),
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once dedup: drop any event whose key was
    already seen within the watermark horizon — the ingest-side dedup
    every event pipeline needs (at-least-once sources redeliver).

    ``dropDuplicatesWithinWatermark`` keeps per-key state ONLY until
    the watermark passes, so state is bounded by (arrival rate x
    watermark), not by stream lifetime — plain ``dropDuplicates`` on a
    stream grows state forever and eventually OOMs. Keys collide
    across micro-batches too (state lives in the checkpoint), which a
    foreachBatch-side batch dedup cannot do.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame,
                         stream_key: str, dim_key: str) -> DataFrame:
    """Stream-static join: enrich a stream with a dimension table.

    The static side is re-resolved each micro-batch (a slowly-changing
    dim picked up on change) and broadcast, so the unbounded stream
    side never shuffles and no join state accumulates — the scalable
    default for stream enrichment. Stream-stream joins (both sides
    unbounded) instead need watermarks on both inputs to bound state.
    """
    return events.join(F.broadcast(dim), events[stream_key] == dim[dim_key])


def check_partition_layout(spark, path: str) -> None:
    """Fail fast if ``path`` already holds UNPARTITIONED parquet
    (flat ``*.parquet`` files with no ``_batch_id=`` dirs): pointing
    the ``_batch_id``-partitioned stream sink at such a directory
    would silently mix layouts and corrupt downstream partition
    discovery.

    Runs through the Hadoop FileSystem API resolved from the ACTIVE
    session's configuration (``Path.getFileSystem``), not driver-
    local ``os`` calls — so the contract holds for ``hdfs://`` /
    ``s3a://`` / ``file://`` URIs exactly as for bare local paths
    (a plain ``os.path`` form would no-op on any remote URI).
    Module-level so the guard is unit-testable without
    running a stream.
    """
    _jvm, fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath) or not fs.getFileStatus(jpath).isDirectory():
        return
    names = [st.getPath().getName() for st in fs.listStatus(jpath)]
    flat = any(n.endswith(".parquet") for n in names)
    if flat and not any(n.startswith("_batch_id=") for n in names):
        raise ValueError(
            f"write_stream_parquet target {path!r} holds "
            "unpartitioned parquet files; refusing to mix "
            "layouts — use a fresh directory"
        )


def write_stream_parquet(
    stream_df: DataFrame, path: str, checkpoint: str
) -> Any:
    """Stream -> partitioned Parquet via foreachBatch.

    foreachBatch hands each micro-batch over as a *batch* DataFrame,
    unlocking every batch sink/feature (overwrite-by-partition MERGE
    patterns, JDBC, multi-sink fan-out). Exactly-once comes from the
    checkpointed batch id + an IDEMPOTENT write: each batch lands in
    its own ``_batch_id=N`` partition under dynamic partition
    overwrite, so a batch redelivered after a crash (offsets
    committed to the checkpoint only after the sink returns)
    OVERWRITES its own partition instead of appending a duplicate
    copy — plain ``mode("append")`` here would double rows on every
    replay. The direct ``format("parquet")`` sink would also work
    for pure append; the foreachBatch form is the production
    template.

    Contract notes: ``_batch_id`` is a PARTITION column, so readers
    get its type from partition-value inference (IntegerType for
    small ids), not the writer's long literal; and the target must
    be fresh or already partition-laid-out — pointing this sink at a
    directory holding unpartitioned parquet would silently mix
    layouts, so the first batch fails fast instead.

    The mixed-layout guard runs through the session's Hadoop
    FileSystem API, so it holds for ANY target
    URI the cluster can write — ``hdfs://``, ``s3a://``, ``file://``
    and bare local paths all resolve through the same
    ``Path.getFileSystem(hadoopConf)`` dispatch; at 100 TB the sink
    target is never a local path, and the fail-fast contract must
    not silently lapse there.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        check_partition_layout(batch_df.sparkSession, path)
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _hadoop_fs(spark, path: str):
    """(jvm, fs, Path) for ``path`` resolved from the active session's
    Hadoop configuration — the one dispatch point every sink-side
    filesystem check goes through, so local paths and hdfs://, s3a://,
    file:// URIs all take the same code path."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports most failures via a False
    return, not an exception (unlike ``shutil.move``). Every rename in
    the swap/recovery protocol must surface that: a swallowed failed
    rename either lets recovery DELETE the only surviving copy of the
    table (aside-restore path) or makes the next rename NEST the
    staging dir inside the still-live target (swap path)."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def recover_upsert_target(path: str, spark) -> None:
    """Startup/pre-batch recovery for :func:`write_stream_upsert`'s
    rename-aside swap (module-level so the sweep is unit-testable
    without a stream).

    * Crash between rename-aside and rename-into-place leaves no live
      dir but a complete ``__old`` copy: restore it.
    * A surviving ``__old`` next to a live dir means the swap finished
      but its cleanup didn't; stale ``__staging_*`` dirs are
      incomplete writes from a dead batch. Both are safe to drop.

    Runs through the Hadoop FileSystem API (an ``os``/``shutil`` form
    would silently skip recovery for any remote URI). The staging sweep
    lists the parent directory and matches names LITERALLY by prefix —
    no globbing at all — so a target containing glob metacharacters ([,
    ?, *) still sweeps its own leftovers and can never sweep a
    look-alike neighbor (the old glob form needed explicit escaping for
    the same guarantee).

    SINGLE WRITER only: recovery assumes no other process is mid-swap
    on the same target. Structured Streaming enforces this for the
    supported topology (one active query per checkpoint; a replayed
    batch runs in the SAME restarted query, strictly after this
    sweep). Two concurrent drivers pointed at one target — e.g. a
    zombie driver's late batch racing a new driver's recovery — are
    outside the contract, exactly as for any non-transactional
    filesystem sink.
    """
    jvm, fs, jpath = _hadoop_fs(spark, path)
    aside = jvm.org.apache.hadoop.fs.Path(path + "__old")
    if not fs.exists(jpath) and fs.exists(aside):
        # Must not fall through to the delete below on failure: the
        # aside is the only surviving copy here.
        _rename_or_raise(fs, aside, jpath)
    if fs.exists(aside):
        fs.delete(aside, True)
    parent = jpath.getParent()
    prefix = jpath.getName() + "__staging_"
    if parent is not None and fs.exists(parent):
        for st in fs.listStatus(parent):
            if st.getPath().getName().startswith(prefix):
                fs.delete(st.getPath(), True)


def write_stream_upsert(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> Any:
    """Streaming MERGE sink: each micro-batch upserts into a parquet
    target keyed by ``keys`` — the lakehouse CDC-ingest pattern
    (Delta/Iceberg MERGE INTO, expressed over plain parquet).

    Per batch: read current target (if any), union the batch, keep
    the newest row per key (operators/upsert.latest_per_key — the
    same deterministic (ts, tiebreak) argmax the batch `etl_upsert`
    query uses), rewrite via a CRASH-SAFE three-step swap: rename the
    live dir aside (``path -> path__old``), rename the freshly
    written staging dir into place, then drop the aside copy — every
    step is a same-filesystem rename, so at no instant is the target
    both absent and unrecoverable. On (re)start a leftover
    ``path__old`` with no live dir is restored first (crash landed
    between the two renames), stale asides and staging dirs are
    swept, and THEN the redelivered micro-batch merges against the
    restored pre-crash table — so replay can never collapse the
    target to just the batch's own keys. Late or
    replayed rows can never regress a key (argmax is idempotent and
    order-insensitive), so redelivered micro-batches after a crash
    recover exactly-once table state from the checkpointed source
    offsets. At scale the rewrite narrows to changed partitions
    (dynamic partition overwrite) or a format with real MERGE; the
    per-batch plan is identical. All filesystem steps go through the
    Hadoop FileSystem API, so remote URIs take the same code
    path as local dirs; the crash-safety argument additionally needs
    ATOMIC directory rename, which local filesystems and HDFS provide
    — object stores whose rename is copy+delete (s3a) get the same
    idempotent MERGE semantics but a wider crash window, where a real
    table format is the answer. Single-writer per target — see
    :func:`recover_upsert_target`.
    """
    from hdfs_parquet_importer_spark.operators.upsert import latest_per_key

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_upsert_target(path, spark)
        jvm, fs, jpath = _hadoop_fs(spark, path)
        aside = jvm.org.apache.hadoop.fs.Path(path + "__old")
        if fs.exists(jpath):
            merged = latest_per_key(
                spark.read.parquet(path).unionByName(batch_df),
                keys,
                ts_col,
                tiebreak_cols=tiebreak_cols,
            )
        else:
            merged = latest_per_key(
                batch_df, keys, ts_col, tiebreak_cols=tiebreak_cols
            )
        tmp = f"{path}__staging_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # recover_upsert_target just deleted any aside, so both
        # renames have an absent destination (Hadoop rename onto an
        # existing dir would nest instead of replacing) — and both
        # must raise on a False return, or the second rename would
        # nest the staging dir inside the still-live target.
        if fs.exists(jpath):
            _rename_or_raise(fs, jpath, aside)
        _rename_or_raise(fs, jvm.org.apache.hadoop.fs.Path(tmp), jpath)
        if fs.exists(aside):
            fs.delete(aside, True)

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> Any:
    """Drain a finite stream into an in-memory table (test/dev sink).

    ``availableNow`` processes everything currently in the source in
    bounded micro-batches, then stops — deterministic for tests, and
    the production-shaped alternative to a one-shot batch backfill.
    """
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
