"""Model-scored quality filtering (VERDICT r9 item 6): a small linear
classifier — hashed n-gram features -> weight vector -> sigmoid —
broadcast to every executor and evaluated as a pure Catalyst dot
product. The classifier-based filter stage of CCNet (Wenzek et al.
2020), Gopher (Rae et al. 2021) and the LLaMA data work, where a
fasttext/logistic model scores "does this look like the curated
domain" and the pipeline keeps high scorers.

Model shape. Features are the SAME 256 md5-prefix hash buckets of
unigrams that ``quality_dsir_weights`` built (``operators/tokenize
.doc_term_counts`` -> ``substr(md5(term),1,2)``): hashing makes the
feature space FIXED-WIDTH regardless of vocabulary growth, so the
weight vector is always a 256-row broadcast table (fasttext's hashing
trick; word n-grams would hash into the same table). Weights are the
Naive-Bayes log-count ratio w_b = ln((pos_b+1)/(pos_tot+V)) -
ln((neg_b+1)/(neg_tot+V)) with bias ln(n_pos/n_neg) — multinomial NB
IS a linear model (the NBSVM observation, Wang & Manning 2012), and
its closed form trains in ONE fixed-width aggregation pass with no
gradient loop, so BOTH engines can replay training bit-for-bit. A
production pipeline would instead load offline-trained fasttext
weights as a literal 256-row dim table — the scoring path (broadcast
join + partial agg + sigmoid) is IDENTICAL; only the weight source
changes, which is the documented swap point.

Scoring. logit(doc) = bias + (sum_b n_b * w_b) / n_tokens — mean
pooling over tokens like fasttext, so long documents don't saturate
the sigmoid; prob = 1/(1+e^-logit). Per-doc work is a <=256-entry
dot product folded into a partial aggregation: at 100 TB scoring is
one broadcast join of the weight table against the shared
(doc_id, bucket, n) intermediate and one map-side-combinable agg —
no vocab-sized shuffle, no Python, no iteration anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 256  # md5 2-hex-char prefix — keep in sync with the SQL twin


def hashed_doc_features(
    docs: DataFrame | None = None,
    carry: tuple[str, ...] = (),
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, *carry, b, n): per-document hashed-unigram bucket
    counts — the classifier's fixed-width feature vectors (<=256
    entries per doc). One tokenize pass, ONE aggregation: the bucket
    is computed per exploded token and grouped directly on (doc_id, b)
    — the intermediate (doc_id, term, n) grouping was a second full
    shuffle+agg whose term granularity no consumer of this table
    reads (r13; the sum over terms of a bucket equals the direct
    occurrence count, so values are identical). Map-side partial
    aggregation reduces each task to <=256 rows per doc before the
    exchange.

    ``carry`` names per-document columns (functions of doc_id — e.g.
    ``source``) to keep on the output rows: grouping additionally on a
    column the id determines yields the IDENTICAL (doc_id, b, n) rows
    plus the carried value, and spares every consumer a join back to
    the doc table for it (r13, guide §2.4 remove shuffles outright).

    ``tokens_df`` (r14): a pre-built :func:`~hdfs_parquet_importer_
    spark.operators.tokenize.doc_tokens`-shaped frame (doc_id, *carry,
    tokens) to derive the features from instead of tokenizing
    ``docs`` — the tokenize-once-upstream contract (tokenize.py module
    docstring): a caller that also needs other text-derived columns
    (eval_dsir_recall's planted-pair hashes) materializes ONE scan and
    feeds every consumer from it. Zero-token docs still vanish from
    the feature rows (explode, not explode_outer) exactly as on the
    ``docs`` path."""
    from hdfs_parquet_importer_spark.operators.tokenize import doc_tokens

    if tokens_df is None:
        if docs is None:
            raise ValueError(
                "hashed_doc_features needs docs or tokens_df, got neither"
            )
        tokens_df = doc_tokens(docs, carry=carry)
    tok = tokens_df.select(
        "doc_id", *carry, F.explode("tokens").alias("term")
    )
    return tok.groupBy(
        "doc_id",
        *[F.col(c) for c in carry],
        F.substring(F.md5("term"), 1, 2).alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def dsir_log_weights(doc_b: DataFrame, target) -> DataFrame:
    """DSIR importance weight table (Xie et al. 2023): 256 rows of
    (b, w) with w = ln p_target(b) - ln p_raw(b), add-1 smoothed over
    the buckets PRESENT in the corpus.

    ``doc_b`` is the (doc_id, b, n) hashed-feature table (plus any
    columns ``target`` needs); ``target`` is a boolean Column
    selecting the curated-exemplar rows. Shared by
    ``quality_dsir_weights`` and ``eval_dsir_recall`` (r13) so the
    scorer and its eval measure the SAME weight definition
    structurally — the same single-definition contract as
    ``hashed_doc_features`` (r10 review). Both aggregates are
    fixed-width (256 rows); the totals ride a 1-row broadcast.

    r13: target and raw bucket totals come from ONE conditional-sum
    pass over ``doc_b`` (the nb_linear_classifier shape) instead of
    two aggregations joined back together — a bucket with no target
    rows sums to 0, exactly what the old left join coalesced."""
    agg = doc_b.groupBy("b").agg(
        F.sum(F.when(target, F.col("n")).otherwise(F.lit(0))).alias("ct"),
        F.sum("n").alias("cr"),
    )
    tots = agg.agg(
        F.sum("ct").alias("tt"),
        F.sum("cr").alias("rt"),
        F.count(F.lit(1)).alias("v"),
    )
    return (
        agg.crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log((F.col("ct") + 1.0) / (F.col("tt") + F.col("v")))
                - F.log((F.col("cr") + 1.0) / (F.col("rt") + F.col("v")))
            ).alias("w"),
        )
    )


def nb_linear_classifier(
    feats: DataFrame, labels: DataFrame, pos_col=None
) -> DataFrame:
    """Train the NB log-count-ratio linear model in one pass.

    ``labels`` is (doc_id, pos: boolean). Returns a single broadcast-
    sized DataFrame: 256 rows of (b, w) CROSS JOINed with the 1-row
    bias — i.e. (b, w, bias) — so scoring rides one broadcast weight
    join plus a 1-row bias broadcast. V is the count of buckets
    PRESENT in the corpus (matches the DSIR smoothing convention).

    ``pos_col`` (r13): a boolean Column evaluable directly on
    ``feats`` (e.g. over a carried ``source`` column from
    :func:`hashed_doc_features`). When given, the per-bucket
    aggregation skips the (feats x labels) doc_id join entirely —
    labels cover every doc, so the inner join kept all feats rows and
    the bucket sums are integer-identical either way. ``labels`` is
    still required: the bias counts DOCUMENTS (including zero-token
    docs that have no feature rows), which feats cannot provide."""
    if pos_col is None:
        fl = feats.join(labels, "doc_id")
        pos_col = F.col("pos")
    else:
        fl = feats
    agg = fl.groupBy("b").agg(
        F.sum(F.when(pos_col, F.col("n")).otherwise(0)).alias("pn"),
        F.sum(F.when(pos_col, 0).otherwise(F.col("n"))).alias("nn"),
    )
    tots = agg.agg(
        F.sum("pn").alias("pt"),
        F.sum("nn").alias("nt"),
        F.count(F.lit(1)).alias("v"),
    )
    bias = labels.agg(
        F.log(
            F.sum(F.col("pos").cast("double"))
            / F.sum((~F.col("pos")).cast("double"))
        ).alias("bias")
    )
    return (
        agg.crossJoin(F.broadcast(tots))  # 1-row broadcast
        .crossJoin(F.broadcast(bias))  # 1-row broadcast
        .select(
            "b",
            (
                F.log((F.col("pn") + 1.0) / (F.col("pt") + F.col("v")))
                - F.log((F.col("nn") + 1.0) / (F.col("nt") + F.col("v")))
            ).alias("w"),
            "bias",
        )
    )


def score_documents(
    feats: DataFrame,
    model: DataFrame,
    validate: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *carry, n_tokens, margin, prob). ``carry`` (r13)
    propagates per-document columns already riding ``feats`` (see
    :func:`hashed_doc_features`) through the doc-level aggregate —
    grouping additionally on a column doc_id determines leaves the
    groups (and the float sum order within each group's partition
    set) unchanged while sparing the caller a join back to the doc
    table. ``margin`` is the
    mean-pooled dot product (sum_b n_b w_b)/n_tokens — the model's
    evidence relative to the class prior (margin > 0 means the doc
    looks more curated-than-prior regardless of class imbalance,
    which is the natural FILTER threshold); ``prob`` is
    sigmoid(bias + margin). ``model`` is the (b, w, bias) table from
    :func:`nb_linear_classifier` (or any offline-trained drop-in) —
    broadcast, so scoring adds ZERO shuffles beyond the feature
    table's own partial agg.

    The weight join is a LEFT join with missing weights read as 0:
    on the documented offline-weights swap path the model table may
    lack buckets the corpus produces, and an inner join would make
    such documents silently VANISH from the scored set (or undercount
    ``n_tokens`` on a partial match) instead of scoring them on the
    evidence that is present. With :func:`nb_linear_classifier` the
    model covers every bucket the corpus produced, so the join kinds
    coincide there. ``bias`` rides a separate 1-row broadcast so a
    zero-match document still gets prob = sigmoid(bias).

    With ``validate=True`` (default) this call is EAGER: it
    materializes the <=256-row model (``localCheckpoint``) and runs a
    driver-side sanity collect so a bad offline-weights load fails
    loudly AT THE SWAP POINT instead of silently nulling every score
    downstream. Callers composing lazy plans on the trusted
    closed-form path (model fresh from :func:`nb_linear_classifier`
    in the same lineage) can pass ``validate=False`` to keep the
    build fully lazy — no checkpoint, no driver job (r10 ADVICE)."""
    margin = (
        F.sum(F.col("n") * F.coalesce(F.col("w"), F.lit(0.0))) / F.sum("n")
    )
    if validate:
        # The model is read twice below (weight join + bias row); it
        # is <=256 rows, and without materialization the second read
        # re-runs the whole closed-form training lineage (cheap in
        # work, but it doubles the plan and the number of exchanges).
        model = model.localCheckpoint(eager=False)
        # Validate the (already-materialized, <=256-row) model at the
        # swap point rather than scoring through it: an EMPTY weight
        # table (bad offline load) would make bias NULL and prob NULL
        # for every document, and the margin>0 filter would then
        # silently drop the whole corpus; inconsistent per-row biases
        # mean the table is not one model (r10 review).
        biases = {
            r["bias"] for r in model.select("bias").distinct().collect()
        }
        if not biases:
            raise ValueError("score_documents: model table is empty")
        if len(biases) > 1 or None in biases:
            raise ValueError(
                f"score_documents: model bias must be one non-null "
                f"value, got {sorted(biases, key=str)}"
            )
    bias_1row = model.agg(F.max("bias").alias("bias"))
    return (
        feats.join(F.broadcast(model.select("b", "w")), "b", "left")
        .groupBy("doc_id", *[F.col(c) for c in carry])
        .agg(
            F.sum("n").alias("n_tokens"),
            margin.alias("margin"),
        )
        .crossJoin(F.broadcast(bias_1row))  # 1-row broadcast
        .select(
            "doc_id",
            *carry,
            "n_tokens",
            "margin",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.col("bias") + F.col("margin"))))
            ).alias("prob"),
        )
    )
