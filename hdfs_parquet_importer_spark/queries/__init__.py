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
    # P1: label propagation and the connected-components consumers,
    # whose plans changed with the shared driver-strategy size gate.
    "graph_label_propagation",
    "dedup_clusters",
    "dedup_cluster_canonical",
    "fuzzy_name_clusters",
    "split_leakage_audit",
    # P4: the oldest driver greens.
    "setop_except",
    "q14_promo_effect",
    "q19_disjunctive_pred",
    "setop_union_by_name",
    "join_skew_aqe",
    "embedding_hard_negatives",
    "sample_bernoulli",
    # P4: the next-oldest greens by registration order, family-spread;
    # the etl_parity pair doubles as that family's P5 representative.
    "join_semi",
    "join_anti",
    "join_full_outer",
    "join_range",
    "agg_having",
    "setop_intersect",
    "agg_freq_items",
    "q12_priority_shipping",
    "q11_important_value",
    "q20_excess_quantity",
    "cdc_latest_per_key",
    "etl_schema_evolution",
    "func_string",
    "func_date",
    "func_math",
    "func_array",
    "func_explode",
    "window_lag_lead",
    "asof_join_purchase_view",
    "window_forward_fill",
    "asof_join_next_purchase",
    "window_share_of_total",
    "events_tumbling_window",
    "events_sliding_window",
    "events_user_activity",
    "events_interval_join",
    "url_canonicalize",
    "dedup_url_canonical",
    "sample_stratified",
    "corpus_train_eval_split",
    "sample_weighted",
    "quality_classifier_filter",
    "func_map_props",
    "events_hourly_rollup",
    "stat_corr_matrix",
    "report_mom_yoy",
    "graph_degree_distribution",
    # P5: the pandas_surface representative with the oldest driver row.
    "udtf_text_chunks",
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
