"""Query registry — the driver-facing catalog of every implemented
operator (SURVEY.md §2), each paired with a DuckDB oracle SQL twin.

Contract (/root/repo/__spark_entry__.py): the driver runs each Spark
callable and its oracle side-by-side at sf0.01 and compares row count,
schema, and an order-insensitive value hash. Consequences honored here:

* every computed column is aliased identically in Spark and SQL;
* floating-point aggregates are ROUND()-ed the same way on both sides
  (accumulation order differs between engines; rounding makes the
  doubles bit-identical);
* raw timestamps are avoided in outputs — formatted strings or
  year/month ints travel across the engine boundary instead;
* a rounded column that can hit zero gets ``+ 0.0`` on BOTH sides:
  DuckDB's ROUND preserves IEEE -0.0 on negative underflow, Spark's
  drops the sign, and the driver's hasher distinguishes them
  (discovered live on embedding_covariance: 2 of 4096 cells);
* queries without a SQL-expressible oracle set ``oracle=None`` and get
  the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One registered operator demonstration."""

    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


# ROTATION CONTRACT. The external driver records a correctness row for
# only the FIRST 50 registrations (registry() emits this window first),
# so driver coverage is cumulative across rotations. Slot priority,
# highest first:
#
#   P1. Any query whose Spark code OR oracle SQL changed since the last
#       rotation (a changed query may never ship on a stale green).
#   P2. Any query red in the latest CORRECTNESS file.
#   P3. Queries that have NEVER held a driver row, oldest registration
#       first. A new registration may take a slot left over once P1,
#       P2 and the committed queue are seated.
#   P4. Stale greens, oldest driver row first, spread across families.
#   P5. A representative of every module that would otherwise have no
#       row (tests/test_smoke.py::test_driver_window_covers_every_family).
#
# Everything outside the window keeps the green of its last driver row,
# and the FULL registry is re-gated locally on every test run
# (tests/test_oracle_gate.py, tools/check_oracle.py), so rotation never
# leaves an edited query unverified. The queue for the next rotation is
# kept in ROADMAP.md.
_DRIVER_WINDOW: tuple[str, ...] = (
    # P1: the six near-dup oracles now built on the shared
    # shingle-overlap CTE, and graph_k_core, whose loop body changed.
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "eval_dedup_recall",
    "dedup_cluster_canonical",
    "dedup_incremental_batch",
    "dedup_containment",
    "graph_k_core",
    # P4: the oldest driver greens.
    "asof_join_nearest",
    "embedding_centroids",
    "tokenize_bpe_vocab_sweep",
    "window_distribution",
    "agg_stats",
    "q16_supplier_cnt",
    "text_top_ngrams",
    "tokenize_bpe_multiround",
    "join_interval_bucketed",
    "q21_waiting_suppliers",
    "text_rolling_hash",
    "multimodal_audio_resample",
    "embedding_quantize_int8",
    # P5: the etl_parity and pandas_surface representatives.
    "etl_csv_roundtrip",
    "pandas_udf_log_price",
    # P4: next-oldest greens, spread across families.
    "q3_shipping_priority",
    "q5_local_supplier",
    "join_salted_skew",
    "agg_salted_two_phase",
    "topk_orders",
    "q2_min_cost_supplier",
    "agg_approx_top_k",
    "sql_recursive_cte",
    "func_parameterized_sql",
    "window_running_sum",
    "events_session_window",
    "text_repetition",
    "text_pii_scan",
    "pack_sequences",
    "ann_mips_topk",
    "vocab_growth_heaps",
    "mix_domain_quota",
    "pack_sorted_stream",
    "text_kneser_ney_bigram",
    "subq_scalar_avg_qty",
    "subq_in_heavy_orders",
    "unpivot_brand_metrics",
    "agg_approx_percentile",
    "stat_theil_sen_slope",
    "dq_psi_drift",
    "dq_observe_metrics",
    "ts_ewma",
    "graph_jaccard_neighbors",
)


def registry() -> dict[str, Query]:
    """Import all query modules and return the full registry.

    Ordered so the driver's 50-entry correctness window
    (`_DRIVER_WINDOW`) comes first; the remaining queries follow in
    module registration order.
    """
    # Imports are deferred so `import hdfs_parquet_importer_spark`
    # stays cheap; each module registers at import time.
    from hdfs_parquet_importer_spark.queries import (  # noqa: F401
        relational,
        tpch,
        etl_parity,
        functions,
        windows,
        events,
        llm,
        mixing,
        subqueries,
        pandas_surface,
        stats,
        reporting,
        graphs,
    )

    missing = [n for n in _DRIVER_WINDOW if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"_DRIVER_WINDOW names not registered: {missing}")
    ordered = {n: _REGISTRY[n] for n in _DRIVER_WINDOW}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def spark_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in registry().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in registry().items() if q.oracle is not None}
