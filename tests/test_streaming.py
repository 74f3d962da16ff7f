"""Structured Streaming tests: batch/stream parity on finite input.

Every streaming transformation must produce the same rows as its
batch twin once the finite source drains (availableNow trigger +
memory sink). This is the strongest cheap check of streaming
correctness: same logical plan, two execution modes, equal results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark import streaming as ST
from hdfs_parquet_importer_spark.tables import load_table


def _drain(q):
    q.awaitTermination(120)
    assert not q.isActive, "availableNow stream should have stopped"


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return ST.read_events_stream(spark, sf_dir)


def test_stream_is_streaming(events_stream):
    assert events_stream.isStreaming


def test_tumbling_counts_match_batch(spark, sf_dir, events_stream):
    q = ST.run_to_memory(
        ST.tumbling_counts(events_stream), "t_tumbling", output_mode="complete"
    )
    _drain(q)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_sliding_counts_drain(spark, events_stream):
    q = ST.run_to_memory(
        ST.sliding_counts(events_stream), "t_sliding", output_mode="complete"
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM t_sliding").collect()
    assert len(rows) > 0
    # every event is in exactly 2 windows (1h size / 30min slide)
    n_events = sum(r["n_events"] for r in rows)
    total = spark.sql("SELECT count(*) c FROM t_tumbling").first()  # noqa: F841
    assert n_events % 2 == 0


def test_session_counts_drain(spark, events_stream):
    q = ST.run_to_memory(
        ST.sessionized_counts(events_stream), "t_sessions", output_mode="complete"
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM t_sessions").collect()
    assert len(rows) > 0
    assert all(r["n_events"] >= 1 for r in rows)


def test_running_user_totals_state(spark, sf_dir, events_stream):
    q = ST.run_to_memory(
        ST.running_user_totals(events_stream), "t_totals", output_mode="update"
    )
    _drain(q)
    # update-mode memory sink: last emitted row per user is the final
    # state; with a single micro-batch each user appears once.
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT user_id, max_by(n_events, n_events) n_events,"
            " max_by(total_value, n_events) total_value"
            " FROM t_totals GROUP BY user_id"
        ).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tv"),
        )
    )
    want = {r["user_id"]: (r["n"], r["tv"]) for r in batch.collect()}
    assert set(got) == set(want)
    for uid, (n, tv) in want.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(tv, abs=0.05)


def test_stream_hash_coin_sampling_matches_batch(spark, sf_dir, events_stream):
    """The mixing module's deterministic md5 coin is stateless, so the
    SAME predicate partitions a stream and a batch identically —
    sampling decisions survive reprocessing, retries, and
    batch/stream boundary moves (the property that makes it safe at
    scale, unlike rand()-based sampling whose per-partition RNG
    stream differs between the two modes)."""
    from hdfs_parquet_importer_spark.queries.mixing import (
        frac_threshold,
        hash_coin,
    )

    keep = hash_coin(F.col("event_id")) < frac_threshold(0.3)
    q = ST.run_to_memory(
        events_stream.filter(keep).select("event_id"),
        "t_coin_sample",
        output_mode="append",
    )
    _drain(q)
    got = {r["event_id"] for r in spark.sql("SELECT * FROM t_coin_sample").collect()}
    want = {
        r["event_id"]
        for r in load_table(spark, sf_dir, "events").filter(keep).collect()
    }
    assert got == want and len(got) > 0
