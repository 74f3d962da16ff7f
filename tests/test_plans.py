"""Physical-plan quality gate.

Correctness tests prove the numbers match; these tests prove the PLAN
is the one we'd want at 100 TB — filters pushed into the parquet scan,
dimensions broadcast, top-k planned as TakeOrderedAndProject (no global
sort), per-group top-k using WindowGroupLimit, and no accidental
cartesian products anywhere except the explicitly brute-force
operators. A regression that silently turns a broadcast join into a
1000-executor shuffle passes correctness and fails here.
"""

from __future__ import annotations

import re

import pytest

from hdfs_parquet_importer_spark.queries import registry

# Queries whose *algorithm* is an intentional O(n^2) theta/cross join
# (correctness baselines for the LSH scale paths) — the only ones
# allowed a nested-loop join.
BRUTE_FORCE_OK = {
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_cosine_topk",       # broadcast(queries) x vectors, no equi key
    "subq_global_avg_anti",      # 1-row scalar broadcast cross join
    "q11_important_value",   # 1-row grand-total broadcast cross join;
                             # the > threshold filter can't become a
                             # hash-join key (q15's = filter can, so
                             # q15 needs no entry here)
    "window_quartile_scalable",  # 1-row boundary broadcast cross join
    "dedup_simhash",         # embeds the O(n^2) brute-force REFERENCE
                             # join its bound-check oracle compares the
                             # banded operator against (r3); the shipped
                             # operator (simhash_candidate_pairs) stays
                             # equi-join only — asserted separately in
                             # test_simhash_operator_plan_is_equi_join.
    "dedup_clusters",        # 1-row verdict/anchor broadcast cross joins
    "embedding_kmeans",      # 1-row verdict/anchor broadcast cross joins
    "ann_lsh_bucketed",      # embeds brute_force_topk (broadcast(q) x
                             # vectors) as its exact recall reference
    "ann_ivf",               # same: brute_force_topk exact anchors
                             # (r3); the LSH candidate join itself is
                             # a (tbl,bucket) equi-join — asserted in
                             # test_lsh_candidate_join_is_equi_join.
    "vocab_coverage",        # 1-row grand-total broadcast cross join
                             # (r5 scale fix: total no longer comes
                             # from a full-vocab global window)
    "agg_freq_items",        # 1-row grand-total broadcast cross join
                             # (r5: replaced the eager ev.count())
    "mix_temperature_sampling",  # 1-row min-share broadcast cross join
                             # feeding the tiny per-source rates dim
    "q22_sales_opportunity",  # 1-row avg-balance broadcast cross join
                             # (the spec's uncorrelated scalar)
    "graph_pagerank",        # 1-row node-count + dangling-mass
                             # broadcast cross joins, one per power
                             # iteration; the rank<->edge joins are
                             # equi-joins
    "doc_tfidf_cosine_topk",  # 1-row corpus-size broadcast cross join
                             # feeding idf; the similarity join itself
                             # is the term equi-join — asserted in
                             # test_tfidf_pair_join_is_term_equi_join
    "ann_pq_adc",            # embeds brute_force_topk (broadcast(q) x
                             # vectors) as its exact recall reference;
                             # the ADC scoring join is a (sub, code)
                             # equi-join — asserted in
                             # test_pq_adc_join_is_equi_join
    "mix_kl_divergence",     # 1-row grand-total broadcast cross join
                             # feeding q = c_l/tot; the count joins
                             # are equi-joins on source/lang
    "stat_chi2_independence",  # margins cross join building the
                             # expected grid — both inputs are
                             # category-bounded aggregates (|types| x
                             # |days|, never row count) and broadcast
    "dq_expectations",       # 1-row scalar-rules agg x 1-row FK-count
                             # agg broadcast cross join feeding stack()
    "quality_unigram_logprob",  # 1-row corpus-total broadcast cross
                             # join feeding p = c/N (same shape as
                             # doc_tfidf's idf scalar)
    "events_funnel_3step",   # three 1-row stage-count aggregates
                             # broadcast-crossed into the single
                             # funnel-summary row
    "fuzzy_name_clusters",   # connected_components' 1-row
                             # changed-label fixpoint scalars (same
                             # as dedup_clusters)
    "text_bm25_search",      # 1-row corpus-stats (N, avgdl)
                             # broadcast cross join feeding the BM25
                             # length normalization
    "text_keyword_extraction",  # 1-row corpus-size broadcast cross
                             # join feeding the smoothed idf
    "subq_not_in_null_trap",  # the DEMONSTRATION: NOT IN over a
                             # nullable key MUST plan as BNLJ (SQL
                             # ternary semantics forbid hashing);
                             # the query exists to contrast it with
                             # the NOT EXISTS hash anti-join
    "dedup_containment",     # labeled O(n^2) correctness baseline,
                             # the containment sibling of
                             # dedup_ngram_jaccard; scale path =
                             # the same LSH banding
    "join_relational_division",  # 1-row divisor-cardinality
                             # broadcast cross join (the counting
                             # formulation of Codd division)
    "events_seasonality_index",  # 1-row per-hour-mean broadcast
                             # cross join over the 24-row aggregate
    "market_basket_lift",    # 1-row order-count broadcast cross
                             # join feeding support/lift
    "stat_welch_ttest",      # 1-row weekday-stats x 1-row
                             # weekend-stats broadcast cross join
    "events_rfm_segmentation",  # 1-row user-count broadcast cross
                             # join feeding ntile_from_rank (r6
                             # de-single-reducer rewrite)
    "report_pareto_concentration",  # 1-row total/count broadcast
                             # cross join feeding the 80/20 cutoffs
                             # (r6 de-single-reducer rewrite)
    "stat_bootstrap_ci",     # 1-row corpus row-count broadcast cross
                             # join attached to the 1-row CI aggregate
    "mix_upsample_rare",     # 1-row max-source-count broadcast cross
                             # join deriving the replication factors
    "graph_triangle_count",  # 1-row edge-count + triangle-count
                             # broadcast cross joins assembling the
                             # single summary row; the wedge/closure
                             # joins are node-key equi-joins
    "quality_ccnet_buckets",  # 1-row corpus-total (idf scalar) and
                             # 1-row doc-count (ntile_from_rank)
                             # broadcast cross joins — same shapes as
                             # quality_unigram_logprob + rfm
    "pack_strategy_waste",   # 1-row corpus-totals x 1-row band-packed
                             # tail-count broadcast cross join feeding
                             # the three strategy rows
    "eval_packing_regret",   # (r13) same shapes: 1-row merge-table
                             # broadcast for the BPE counts + 1-row
                             # totals x 1-row tail-count cross join
                             # feeding the six strategy rows
    "tokenize_bpe_encode",   # 1-row merge-table (array of 16 pairs)
                             # broadcast cross join feeding the encode
                             # fold — the BPE "model broadcast"
    "pack_bpe_sequences",    # same 1-row merge-table broadcast
    "tokenize_bpe_vocab_sweep",  # same 1-row merge-table broadcast
                             # (four sliced prefixes of one array)
    "embedding_quantize_int8",  # 1-row per-dimension min/max stats
                             # array broadcast cross join — the
                             # quantizer "model broadcast"
    "tokenize_bpe_multiround",  # the same 1-row merge-table broadcast
                             # per trainer round, plus the 1-row
                             # merge-state <- 1-row top-pair LEFT
                             # BNLJ that appends each adopted rule
    "pack_sorted_stream",    # same 1-row merge-table broadcast as
                             # pack_bpe_sequences (BPE token counts)
    "text_kneser_ney_bigram",  # 1-row bigram-type-count broadcast
                             # cross join feeding the continuation
                             # normalizer
    "ann_mips_topk",         # broadcast(queries) x vectors (no equi
                             # key, same as ann_cosine_topk) + the
                             # 1-row corpus-max-norm broadcast for
                             # the augmentation
    "vocab_growth_heaps",    # 4-row prefix-size list broadcast
                             # cross join against the per-type
                             # firsts table (counts per k without
                             # re-scanning the corpus)
    "dq_psi_drift",          # 1-row epoch-bounds, 1-row reference
                             # min/max, and 1-row share-totals
                             # broadcast cross joins around the
                             # 10-bin aggregate
    "graph_k_core",          # per-round 1-row node-count x 1-row
                             # edge-count broadcast cross joins
                             # assembling the round summary rows; the
                             # peel joins are node-key equi-joins
    "stat_theil_sen_slope",  # pairwise-slope join over the <=84-row
                             # month aggregate (date-domain bounded,
                             # the report_mom_yoy domain) + 1-row
                             # median-slope broadcast cross joins
    "embedding_hard_negatives",  # broadcast(anchors) x vectors (no
                             # equi key, same shape as ann_cosine_topk)
    "quality_dsir_weights",  # 1-row corpus-totals (target/raw token
                             # counts + feature-table width) broadcast
                             # cross join feeding the 256-row hashed
                             # feature-weight table — the DSIR "model
                             # broadcast"; scoring joins are b-key
                             # equi-joins
    "quality_classifier_score",   # 1-row smoothing-totals + 1-row
                             # class-prior-bias broadcast cross joins
                             # building the 256-row NB weight table
                             # (closed-form training, same shape as
                             # quality_dsir_weights); the scoring
                             # join is a b-key equi-join
    "quality_classifier_filter",  # same classifier training prefix
                             # as quality_classifier_score
    "eval_classifier_quality",  # same classifier training prefix
                             # (1-row smoothing-totals + class-prior
                             # broadcast cross joins) over the
                             # planted-augmented corpus; planting is
                             # a filter+projection union, the scoring
                             # join a b-key equi-join, the eval a
                             # single bounded aggregate
    "split_leakage_audit",   # 1-row docs-rollup x 1-row pair-leak
                             # aggregate broadcast cross join into the
                             # summary row; the truth join is an
                             # xxhash64 equi-join (r13 string-key
                             # rule) and CC runs pre-checkpointed
    "eval_dedup_recall",     # three 1-row aggregate broadcast cross
                             # joins (n_truth x n_found x n_hit x
                             # min-margin); the truth join is an
                             # xxhash64 equi-join (r13) and the found
                             # set is the dedup_minhash_lsh equi-join
                             # path
    "eval_ann_recall",       # embeds brute_force_topk (broadcast(q)
                             # x vectors, no equi key) as the exact
                             # recall anchor — the same reason
                             # ann_lsh_bucketed/ann_ivf/ann_pq_adc
                             # are here — plus the 3-row hit-counts x
                             # 1-row anchor broadcast cross join; the
                             # hit joins are (query_id, vec_id)
                             # equi-joins
    "eval_contamination_recall",  # three 1-row aggregate broadcast
                             # cross joins (n_truth x n_flagged x
                             # n_hit/margin) — same shape as
                             # eval_dedup_recall; the truth join is
                             # an xxhash64 equi-join (r13) and the
                             # detector is corpus_contamination's
                             # gram equi-join
    "eval_dim_truncation_recall",  # three brute_force_topk passes
                             # (broadcast(q) x vectors, no equi key —
                             # full-dim truth + the 16/32-dim
                             # truncated retrievals; truncation
                             # itself is a scan-side slice); the hit
                             # joins are (query_id, vec_id)
                             # equi-joins and the per-query counts
                             # attach via a query_id equi-join
    "eval_dsir_recall",      # (r13) 1-row weight-table totals + the
                             # k/n_hit/n_nontarget 1-row aggregate
                             # broadcast cross joins, plus
                             # dist_rank's broadcast bucket-base
                             # attach; the dup-pair truth join is an
                             # xxhash64 equi-join, scoring a b-key
                             # equi-join, the hit join a doc_id
                             # equi-join
}

# Queries allowed an unpartitioned Window whose input is NOT already
# bounded by a Limit below it (see test_no_unbounded_global_windows).
# Everything else must partition its windows, feed them limit-bounded
# inputs, or ride the prefix machinery — the stat_spearman_rank r4
# anti-pattern (global row_number over the full table) can never come
# back silently.
GLOBAL_WINDOW_OK = {
    "window_ntile_global",   # the labeled single-task demo: its doc
                             # names the scalable twin
                             # (window_quartile_scalable) as the one
                             # to reach for at scale
}

# VERDICT r5 item 5: "Aggregate below the window" is NOT sufficient —
# an aggregate keyed on user_id/term/suppkey grows with the data, so
# its output through one window task dies at 100x (the r5 zipf / RFM /
# pareto mistake, all three now on operators/prefix.py machinery).
# An unpartitioned window over an aggregate therefore needs an entry
# HERE, and the justification must name the CONSTANT (or value-domain-
# bounded) grouping domain that caps the window's input independent of
# row count. Windows ordering on __psbucket are exempt structurally:
# that column only exists inside operators/prefix.py's bucket-total
# pass, whose input cardinality is rows/bucket_width by construction.
GLOBAL_WINDOW_AGG_OK = {
    "dq_benford_digits": "grouped by leading digit — domain {1..9}",
    "events_cumulative_reach": "window input grouped by January day "
    "(<=31 rows); the per-user first-seen aggregate sits below a "
    "second, day-keyed aggregate",
    "events_error_rate_sli": "grouped by January day (<=31 rows)",
    # report_mom_yoy needs no entry since r11: the lag window became
    # calendar-key self-joins over the checkpointed month aggregate.
    # stat_theil_sen_slope needs no entry: its row_number window runs
    # over the <=84-row month aggregate at localCheckpoint time, so
    # the optimized plan the gate sees starts from the materialized
    # 84-row RDD — the window never reaches the plan.
    "window_share_of_total": "grouped by nation name (25 values, "
    "fixed reference dimension)",
    "stat_ks_two_sample": "ECDF steps grouped by distinct n_chars "
    "values — bounded by the document-length DOMAIN (chars per doc), "
    "not document count; a 100TB corpus still has <~1e5 distinct "
    "lengths",
    "stat_mann_whitney": "midrank window grouped by distinct n_chars "
    "values — the same document-length DOMAIN bound as "
    "stat_ks_two_sample",
}


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def ops_of(plan: str) -> set[str]:
    return set(re.findall(r"^\s*\(\d+\)\s+([A-Za-z]+)", plan, re.M))


@pytest.fixture(scope="module")
def dfs(spark, sf_dir):
    return {name: q.fn(spark, sf_dir) for name, q in registry().items()}


@pytest.fixture(scope="module")
def plans(dfs):
    return {name: plan_of(df) for name, df in dfs.items()}


def _logical_nodes(node):
    """Depth-first walk of a Catalyst logical plan via py4j."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _logical_nodes(children.apply(i))


def test_no_unbounded_global_windows(dfs):
    """An unpartitioned Window moves ALL its input through one task —
    fine over a limit's survivors or a constant-domain aggregate's
    group rows, death over anything that grows with the data. Every
    unpartitioned Window in every registered query must have a Limit
    strictly below it in the optimized logical plan, order on the
    prefix machinery's bucket-total column, or carry a justified
    GLOBAL_WINDOW_AGG_OK entry naming the constant domain — a bare
    Aggregate below no longer passes (VERDICT r5 item 5: user/term/
    suppkey-keyed aggregates grow with the data)."""
    offenders = []
    for name, df in dfs.items():
        if name in GLOBAL_WINDOW_OK or name in GLOBAL_WINDOW_AGG_OK:
            continue
        plan = df._jdf.queryExecution().optimizedPlan()
        for node in _logical_nodes(plan):
            if node.nodeName() != "Window":
                continue
            if not node.partitionSpec().isEmpty():
                continue
            if "__psbucket" in node.orderSpec().toString():
                continue
            subtree = list(_logical_nodes(node))[1:]
            bounded = any(
                n.nodeName() in ("GlobalLimit", "LocalLimit")
                for n in subtree
            )
            if not bounded:
                offenders.append(name)
                break
    assert not offenders, (
        f"unpartitioned windows over unbounded input in: {offenders} — "
        "partition the window, bound it with a Limit, route it through "
        "operators/prefix.py, or add a justified GLOBAL_WINDOW_AGG_OK "
        "entry"
    )


def test_global_window_agg_allowlist_is_tight(dfs):
    """Every GLOBAL_WINDOW_AGG_OK entry must still be needed: if the
    query no longer has a non-machinery unpartitioned window, the
    entry is stale and must go (allowlists only ever grow unless
    something prunes them)."""
    stale = []
    for name in GLOBAL_WINDOW_AGG_OK:
        plan = dfs[name]._jdf.queryExecution().optimizedPlan()
        found = False
        for node in _logical_nodes(plan):
            if (
                node.nodeName() == "Window"
                and node.partitionSpec().isEmpty()
                and "__psbucket" not in node.orderSpec().toString()
            ):
                found = True
                break
        if not found:
            stale.append(name)
    assert not stale, f"stale GLOBAL_WINDOW_AGG_OK entries: {stale}"


def test_no_accidental_cartesian(plans):
    """CartesianProduct / non-sanctioned BNLJ = death at scale."""
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        if name not in BRUTE_FORCE_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_q1_filter_pushdown(plans):
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plans["q1_pricing_summary"])


def test_q1_partial_aggregation(plans):
    # Two HashAggregate nodes = map-side partial + final: the shuffle
    # carries one row per (flag,status) per partition, not per line.
    assert len(re.findall(r"\(\d+\) HashAggregate", plans["q1_pricing_summary"])) >= 2


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier", "join_broadcast_dim", "join_anti"],
)
def test_dim_joins_broadcast(plans, name):
    assert "BroadcastHashJoin" in plans[name], name


def test_q3_predicate_pushdown_all_tables(plans):
    plan = plans["q3_shipping_priority"]
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*c_mktsegment", plan)
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


def test_topk_no_global_sort(plans):
    plan = plans["topk_orders"]
    assert "TakeOrderedAndProject" in plan
    assert "(1) Sort" not in plan  # no standalone global Sort node
    assert not re.search(r"^\s*\(\d+\) Sort\b", plan, re.M)


def test_window_topk_group_limit(plans):
    # Spark 3.5+ pushes rank<=k into WindowGroupLimit: each partition
    # keeps k rows before the shuffle instead of sorting everything.
    assert "WindowGroupLimit" in plans["window_topk_per_group"]


def test_column_pruning_reaches_scan(plans):
    # q1 touches 7 lineitem columns; the scan must not read all 11.
    m = re.search(
        r"ReadSchema: struct<([^>]*)>", plans["q1_pricing_summary"]
    )
    assert m, "no ReadSchema in plan"
    read_cols = [c for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 7, read_cols


def test_semi_and_anti_joins_planned_as_such(plans):
    assert re.search(r"Join LeftSemi|BroadcastHashJoin.*LeftSemi", plans["join_semi"])
    assert re.search(r"LeftAnti", plans["join_anti"])


def test_exact_dedup_single_shuffle(plans):
    # groupBy on the hash key: exactly one Exchange (plus AQE wrapper),
    # partial agg before it.
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plans["dedup_exact"]))
    assert n_exchanges == 1, plans["dedup_exact"]


def test_scans_are_columnar(plans):
    # Vectorized parquet read feeds codegen via ColumnarToRow. AQE
    # hides the scan subtree until execution, so assert on a plan
    # without an AdaptiveSparkPlan wrapper.
    assert "ColumnarToRow" in plans["topk_orders"]
    assert "Scan parquet" in plans["q1_pricing_summary"]


def test_minhash_no_cartesian_candidates(plans):
    # The LSH band join must be an equi-join (hash-partitioned on
    # band+bucket), never a cross join over documents.
    plan = plans["dedup_minhash_lsh"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_operator_plan_is_equi_join(spark, sf_dir):
    """The registered dedup_simhash QUERY embeds an O(n^2) reference
    join for its bound-check oracle, so it sits in BRUTE_FORCE_OK —
    this pins the shipped OPERATOR itself to the banded equi-join plan
    so a regression there can't hide behind the allowlist."""
    from hdfs_parquet_importer_spark.operators.dedup import simhash_candidate_pairs
    from hdfs_parquet_importer_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(simhash_candidate_pairs(docs, "doc_id", "text", max_hamming=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_candidate_join_is_equi_join(spark, sf_dir):
    """ann_lsh_bucketed's QUERY embeds the brute-force exact reference
    (sanctioned BNLJ); pin the LSH OPERATOR's candidate join to the
    (tbl, bucket) equi-join so it can't regress behind the allowlist."""
    from pyspark.sql import functions as F

    from hdfs_parquet_importer_spark.operators.similarity import lsh_topk
    from hdfs_parquet_importer_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = plan_of(lsh_topk(emb, q, k=10, n_planes=6, n_tables=8, multiprobe=True))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_corpus_prep_scan_side_quality_gate(plans):
    """The quality gate's n_chars bounds reach the parquet scan as
    pushed filters — at 100 TB the gate prunes row groups before any
    dedup/quota shuffle sees a byte."""
    plan = plans["pipeline_corpus_prep"]
    assert re.search(r"PushedFilters: \[[^\]]*n_chars", plan)


def test_zorder_curve_is_single_stage_projection(plans):
    """The Morton interleave stays one codegen projection over the
    scan: no Exchange before the final presentation sort."""
    plan = plans["zorder_curve"]
    # At most the one ordering exchange anywhere in the plan — the
    # interleave itself adds none.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_shuffle_hash_hint_is_honored(spark, sf_dir):
    """join_shuffled_hash_hint exists to demonstrate optimizer
    control: the hinted join MUST plan as ShuffledHashJoin (default
    big-big planning would pick SortMergeJoin or, post-AQE at tiny
    scale, a broadcast)."""
    from hdfs_parquet_importer_spark.queries import registry

    df = registry()["join_shuffled_hash_hint"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dpp_subquery_in_fact_scan(plans):
    """join_dpp_prune exists to demonstrate RUNTIME partition pruning:
    the month-partitioned fact scan must carry a dynamicpruning
    subquery (the dim's quarter filter can never become a static
    PartitionFilter — the fact doesn't have the column)."""
    assert "dynamicpruning" in plans["join_dpp_prune"], plans[
        "join_dpp_prune"
    ]


def test_aqe_skew_join_splits(spark, sf_dir):
    """join_skew_aqe exists to demonstrate AQE skew-join splitting.
    Thresholds are production-sized, so at test scale (sf0.001,
    ~1.5k rows) the hot partition is below them — scale the knobs
    down to the data instead of the data up to the knobs, execute,
    and assert the final adaptive plan split the skewed partition
    (skew=true on the sort-merge join)."""
    reg = registry()
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "2KB",
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = reg["join_skew_aqe"].fn(spark, sf_dir)
        df.collect()  # AQE decides at runtime; execute to finalize
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Loop gates: iterative operators run their rounds while the query is
# built (lazy localCheckpoints, fixpoint counts, centroid collects),
# so the final plan, the only one the gates above see, holds at most
# the last round. Spark records every plan it runs: one query per loop
# family is built and collected inside plan_audit.sql_executions, and
# every plan it ran passes the cartesian gate.
# ---------------------------------------------------------------------------

LOOP_LEG_FAMILIES = (
    "dedup_clusters",
    "embedding_kmeans",
    "graph_k_core",
    "graph_label_propagation",
    "graph_pagerank",
    "tokenize_bpe_multiround",
)

# Families allowed a BroadcastNestedLoopJoin while built: each is a
# 1-row scalar broadcast per round (PageRank's node count and dangling
# mass, the BPE trainer's merge-state append), the same justification
# as the query's BRUTE_FORCE_OK entry.
LOOP_LEG_BNLJ_OK = {"graph_pagerank", "tokenize_bpe_multiround"}


@pytest.mark.parametrize("qname", LOOP_LEG_FAMILIES)
def test_loop_leg_plans_pass_gates(spark, sf_dir, qname, monkeypatch, plan_audit):
    from hdfs_parquet_importer_spark.operators import graph as G

    # Below DRIVER_MAX_SYM_ROWS connected_components and
    # label_propagation run their rounds on the driver; closing the
    # gate keeps both distributed loops' joins under this gate.
    monkeypatch.setattr(G, "DRIVER_MAX_SYM_ROWS", 0)
    with plan_audit.sql_executions(spark) as built:
        df = registry()[qname].fn(spark, sf_dir)
    with plan_audit.sql_executions(spark) as ran:
        df.collect()
    assert built, (
        f"{qname} ran no Spark job while built: its loop rounds are "
        "no longer visible to this gate"
    )
    for when, plans_, bnlj_ok in (
        ("built", built, qname in LOOP_LEG_BNLJ_OK),
        ("collect", ran, qname in BRUTE_FORCE_OK),
    ):
        for i, p in enumerate(plans_):
            s = plan_audit.summarize(p)
            assert s["cartesian"] == 0, (qname, when, i, p)
            if not bnlj_ok:
                assert s["bnlj"] == 0, (qname, when, i, p)
