#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
exactly ONE JSON line:

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "runs": 3, "sf": 0.1,
     "cpus": 4, "speed_factor": 1.0}

Timing methodology: one untimed warmup execution of EACH query first
(JIT + whole-stage-codegen compile + parquet footer cache are one-time
costs a long-lived job amortizes away), then each query is timed over
``RUNS`` (>=3) full plan-build + execute + collect cycles. The
reported per-query number is the MEDIAN; per-query spread (stdev and
min) and drift flags go to BENCH_LOCAL.{json,md}, so a delta can be
judged against the measured noise floor instead of guessed. The
headline metric is the sum of per-query medians — a throughput proxy
that rewards minimizing shuffles and keeping work JVM-side.

``protocol_session`` and ``timed_runs`` are the measurement core: the
tools that re-run this protocol (tools/optbench.py, tools/scaling.py,
tools/session_profile.py, tools/semdedup_knob_study.py) time through
them too.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from hdfs_parquet_importer_spark.queries import registry
from hdfs_parquet_importer_spark.session import build_session

# Diverse operator coverage: scan+agg, dim join, fact-fact join,
# subquery, set-op, window, rollup, as-of join, dedup, similarity,
# text analysis, multimodal codec, event windows. Names absent from
# the registry are skipped, so this list can lead the implementation.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "join_broadcast_dim",
    "subq_in_heavy_orders",
    "setop_union_by_name",
    "agg_rollup",
    "window_topk_per_group",
    "asof_join_purchase_view",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "ann_cosine_topk",
    "events_tumbling_window",
    "mix_domain_quota",
    "corpus_source_overlap",
    "pipeline_corpus_prep",
    "zorder_curve",
    "events_funnel",
    # r5: the two r4 perf-weak queries after their single-task-window
    # -> distributed rewrite, plus the banded range-frame — benched so
    # the scale fixes show up as measured deltas.
    "stat_spearman_rank",
    "vocab_coverage",
    "window_range_frame",
    # r5 second batch: the new graph / sparse-similarity / curation
    # operators — benched from birth so regressions have a baseline.
    "graph_pagerank",
    "doc_tfidf_cosine_topk",
    "text_boilerplate_blocks",
    "dedup_incremental_batch",
    # r5 third batch: one representative per new family (statistics,
    # sketches, data quality, time-series, lakehouse temporal) —
    # benched from birth.
    "stat_corr_matrix",
    "sketch_countmin_heavy",
    "dq_expectations",
    "ts_linear_interpolate",
    "agg_activity_bitmap",
    "scd2_temporal_join",
    # r5 fourth batch: ranked retrieval + the bitmap dashboard.
    "text_bm25_search",
    "events_dau_wau_mtd",
    # r6: the new distributed-statistics operator, benched from birth.
    "stat_bootstrap_ci",
    # r6 second batch: one representative per new family — graph
    # analytics (mutual-kNN triangles) and full-corpus quality
    # partitioning (perplexity terciles) — benched from birth.
    "graph_triangle_count",
    "quality_ccnet_buckets",
    # r7: one representative per new family — the BPE encode fold
    # (tokenizer loop closed) and INT8 scalar quantization — benched
    # from birth.
    "tokenize_bpe_encode",
    "embedding_quantize_int8",
    # r8: one representative per new family — LPA communities (the
    # iterate-join-reaggregate shape), the quality-greedy quota on
    # the grouped prefix sum, and runtime dynamic partition pruning
    # — benched from birth.
    "graph_label_propagation",
    "mix_quota_by_quality",
    "join_dpp_prune",
    # r8 second batch: SemDeDup (cluster-scoped embedding dedup +
    # recursive-closure-oracled CC) — benched from birth.
    "dedup_semdedup",
    # r9: the crawl URL-canonicalization pre-dedup stage (pure
    # scan-side Catalyst canonical form + one hash-groupBy exchange)
    # — benched from birth.
    "dedup_url_canonical",
    # r10: the model-scored quality filter (broadcast linear
    # classifier over hashed features) — benched from birth.
    "quality_classifier_score",
    # r11: the real baseline-JPEG codec round-trip (per-row
    # encode+decode+error inside one mapInPandas stage — the
    # Python-UDF-heavy representative) — benched from birth.
    "multimodal_jpeg_roundtrip",
    # r12: the classifier-quality eval against planted spam (NB
    # retrain on the augmented corpus + precision/recall rollup) —
    # benched from birth.
    "eval_classifier_quality",
    # r12: the 4:4:4 color JPEG round-trip (3 interleaved components,
    # chroma tables, YCbCr conversion — ~3x the gray codec's per-row
    # Python work) — benched from birth.
    "multimodal_jpeg_color_roundtrip",
    # r12: SemDeDup true-near-dup recall eval (planted perturbation
    # pairs, dual-bits bucket collision) — benched from birth.
    "eval_semdedup_recall",
    # r12: split-leakage audit (truth-pair CC + dual-keyed 90/5/5
    # splits) — benched from birth.
    "split_leakage_audit",
    # r12: SimHash single-edit sensitivity eval (planted pairs,
    # semi-joined fingerprints) — benched from birth.
    "eval_simhash_recall",
    # r12 second pass: duplicated-span REMOVAL (the Lee et al.
    # transformation behind dedup_substring_span's statistic — 8-gram
    # coverage sets + per-doc index-filter reconstruction) — benched
    # from birth.
    "dedup_span_removal",
    # r12 second pass: dimension-truncation retrieval eval (three
    # salted brute-force top-k passes, 16/32-dim scan-side slices) —
    # benched from birth.
    "eval_dim_truncation_recall",
    # r12 second pass: decontamination recall eval against planted
    # truth (md5 truth join + the shipped gram-equi-join detector) —
    # benched from birth.
    "eval_contamination_recall",
    # r12 second pass: progressive (SOF2) JPEG roundtrip — four codec
    # passes per row (progressive + baseline encode/decode) in one
    # mapInPandas stage; the heaviest per-row-Python cell by design —
    # benched from birth.
    "multimodal_jpeg_progressive_roundtrip",
    # r13: DSIR selection-recall eval (planted cross-source dups of
    # the curated domain; shared weight table + bucketed dist_rank
    # top-k) — benched from birth.
    "eval_dsir_recall",
    # r13: the REAL AVI/MJPEG frame-sample replaced the synthetic
    # container (encode + parse + per-frame JPEG decode per row) —
    # re-benched as effectively a new query.
    "multimodal_video_framesample",
]

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    n_cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")  # as build_session reads it
    cpus = os.cpu_count() if n_cpus == "*" else int(n_cpus)
    spark = protocol_session("bench")
    reg = registry()
    runs = {
        name: (lambda fn=reg[name].fn: fn(spark, sf_dir).collect())
        for name in HEADLINE
        if name in reg
    }

    # Warmup: every query once, untimed (JIT + codegen compile).
    for run in runs.values():
        timed_runs(run, 1)

    medians: dict[str, float] = {}
    stdevs: dict[str, float] = {}
    mins: dict[str, float] = {}
    for name, run in runs.items():
        samples = timed_runs(run, max(3, RUNS))
        medians[name] = round(statistics.median(samples), 3)
        stdevs[name] = round(statistics.stdev(samples), 3)
        mins[name] = round(min(samples), 3)

    total = round(sum(medians.values()), 3)

    # Drift flags against the committed baseline (BENCH_BASELINE.json,
    # see _load_prev_table). The shared host drifts wholesale (one
    # window moved every unchanged query together by 6-52%), so raw
    # deltas mislead: first estimate a global SPEED FACTOR (median of
    # per-query new/old ratios, robust to a few real regressions),
    # then flag only queries that moved more than 2x the larger run's
    # stdev (floored at 20 ms) RELATIVE to that factor. A structural
    # regression flags 1-2 names; an ambient slowdown moves the factor
    # and flags none.
    prev = _load_prev_table(sf)
    shared = [n for n in medians if n in prev.get("medians", {})]
    ratios = sorted(
        medians[n] / prev["medians"][n] for n in shared if prev["medians"][n]
    )
    speed_factor = round(ratios[len(ratios) // 2], 3) if ratios else 1.0
    drift: dict[str, float] = {}
    for name in shared:
        expected = prev["medians"][name] * speed_factor
        sigma = max(stdevs[name], prev.get("stdevs", {}).get(name, 0.0), 0.02)
        if abs(medians[name] - expected) > 2 * sigma:
            # The factor-relative ratio: the structural part of the
            # move, not structural + ambient.
            drift[name] = round(medians[name] / expected, 2)

    # The full table (spread, drift) persists in-repo because a bench
    # capture keeps only the last 2000 bytes of stdout.
    try:
        _write_full_table(sf, cpus, total, medians, stdevs, mins, drift, speed_factor)
    except OSError:
        pass  # bench must still report when the repo dir is read-only
    print(stdout_line(total, medians, sf, speed_factor, cpus))
    return 0


def stdout_line(total, medians, sf, speed_factor, cpus) -> str:
    """The one JSON line on stdout. It carries every query's median
    and must fit the 2000-byte stdout tail a bench capture keeps
    (tests/test_smoke.py checks the worst case); spread and drift live
    in BENCH_LOCAL.{json,md}. ``speed_factor`` is the median per-query
    ratio against the baseline: ambient host speed, not a result."""
    return json.dumps(
        {
            "metric": "headline_total_sec",
            "value": total,
            "unit": "sec",
            "queries": medians,
            "runs": max(3, RUNS),
            "sf": sf,
            "cpus": cpus,
            "speed_factor": speed_factor,
        },
        separators=(",", ":"),
    )


def protocol_session(app: str, conf: dict[str, str] | None = None):
    """The session every timing harness measures in: bench.py and the
    tools that re-run its protocol. ``conf`` adds or overrides
    settings for an A/B of one mechanism."""
    return build_session(
        app,
        shuffle_partitions=32,
        # The bounded single-partition windows (bucket-total passes,
        # post-LIMIT cumsums) each emit a benign WindowExec WARN that
        # would drown the 2000-byte stdout tail a bench capture keeps.
        # Real unpartitioned-window regressions are gated at the plan layer
        # (tests/test_plans.py), which is stronger than grepping logs.
        log_level="ERROR",
        conf={
            # No interactive console: progress bars are stderr noise.
            "spark.ui.showConsoleProgress": "false",
            # The 1g default heap (in local mode also the executor
            # heap) OOMs on sf0.5 localCheckpoints. 64g is no better:
            # there the checkpoint-heavy queries (dedup_span_removal at
            # sf1, ~2.4M-row gram tables) ran 45-220 s per run against
            # 7-15 s at 32g, same code and data in fresh sessions with
            # no swap (consistent with G1 heap expansion page-faulting
            # under a high allocation rate; mechanism unconfirmed).
            "spark.driver.memory": "32g",
            **(conf or {}),
        },
    )


def timed_runs(run, n: int) -> list[float]:
    """Wall seconds of ``n`` calls of ``run()``, the full plan-build +
    execute + collect cycle. After each call, outside the timer, the
    blocks it left persisted are released, so every run starts from
    the same storage state. A warmup is ``timed_runs(run, 1)`` with
    the result discarded."""
    spark = SparkSession.active()
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        samples.append(time.perf_counter() - t0)
        _release_persisted(spark)
    return samples


def _release_persisted(spark) -> None:
    """Unpersist every persisted RDD the last execution left behind.

    Many operators ``localCheckpoint`` small shared intermediates, and
    a checkpoint pins its blocks for the session lifetime. Each bench
    execution rebuilds its plan from scratch, so a finished
    execution's blocks are dead weight; left in place they pile up
    over the session and degrade the queries that run late in it
    (4-11x on the last ~8 headline queries, measured with a 1g heap).
    Blocking unpersist, so every run starts from the same
    storage state."""
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _load_prev_table(sf) -> dict:
    """Committed drift baseline (same sf) for drift comparison; {} if
    absent/unreadable/different-sf.

    r10 (VERDICT r9 item 5): the baseline is BENCH_BASELINE.json — a
    COMMITTED file updated deliberately at round close — not
    BENCH_LOCAL.json, which every run (including the driver's
    post-commit run) overwrites and which is therefore untracked now.
    Splitting the two makes "previous run" unambiguous for the
    speed-factor normalizer and lets rounds close with a clean tree.
    Falls back to BENCH_LOCAL.json only when no baseline exists yet
    (fresh clone mid-round). A readable baseline with a DIFFERENT sf
    means this run is off the committed scale — return {} (no drift
    comparison) rather than normalizing against an arbitrary stale
    scratch run (r10 ADVICE)."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_BASELINE.json")) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        prev = None
    if prev is not None:
        return prev if prev.get("sf") == sf else {}
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json")) as fh:
            prev = json.load(fh)
        if prev.get("sf") == sf:
            return prev
    except (OSError, ValueError):
        pass
    return {}


def _write_full_table(sf, cpus, total, medians, stdevs, mins, drift, speed_factor) -> None:
    here = os.path.dirname(os.path.abspath(__file__))

    def _drift_cell(n: str) -> str:
        if n in drift:
            # drift[n] is already factor-relative (structural part
            # only); print that, not the raw ratio that conflates
            # ambient host movement with the regression being flagged.
            return f"{drift[n] - 1.0:+.0%} rel>2σ"
        return ""

    rows = "\n".join(
        f"| {n} | {medians[n]:.3f} | {stdevs[n]:.3f} | {mins[n]:.3f} "
        f"| {_drift_cell(n)} |"
        for n in medians
    )
    with open(os.path.join(here, "BENCH_LOCAL.md"), "w") as fh:
        fh.write(
            f"# Local bench — last run\n\n"
            f"sf={sf}, cpus={cpus}, runs={max(3, RUNS)}, "
            f"headline_total_sec={total}\n\n"
            f"(Written by bench.py on every run; medians are the "
            f"headline numbers, stdev/min give the noise floor, and "
            f"drift flags medians that moved more than 2x the larger "
            f"run's stdev vs the committed BENCH_BASELINE.json "
            f"AFTER normalizing by the global speed factor "
            f"{speed_factor} (median per-query ratio vs the baseline "
            f"— ambient host drift moves the factor, a structural "
            f"regression flags its name) — automated per VERDICT r7 "
            f"item 7. The driver's "
            f"BENCH_r*.json keeps only a 2000-byte stdout tail, so "
            f"this file is the durable full table.)\n\n"
            f"| query | median_s | stdev_s | min_s | drift |\n"
            f"|---|---|---|---|---|\n{rows}\n"
        )
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(
            {"sf": sf, "cpus": cpus, "total": total, "medians": medians,
             "stdevs": stdevs, "mins": mins,
             "speed_factor": speed_factor, "drift": drift},
            fh,
            indent=1,
        )


if __name__ == "__main__":
    raise SystemExit(main())
