"""operators/quality_clf.py beyond the registered queries' reach: the
documented offline-trained-weights swap path, where the model table
may lack buckets the corpus produces (r10 review — the original inner
join made such documents silently vanish from the scored set)."""

import math

from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators.quality_clf import (
    hashed_doc_features,
    nb_linear_classifier,
    score_documents,
)


def _toy(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma alpha"),
            (1, "delta epsilon zeta"),
            (2, "alpha beta delta"),
            (3, "eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    labels = spark.createDataFrame(
        [(0, True), (1, False), (2, True), (3, False)], ["doc_id", "pos"]
    )
    return docs, labels


def test_trimmed_model_keeps_every_document(spark):
    """Dropping weight rows (an offline model trained on a different
    slice) must not drop DOCUMENTS: missing buckets read as weight 0,
    n_tokens stays the full token count, and a doc with zero
    model-known buckets scores prob = sigmoid(bias)."""
    docs, labels = _toy(spark)
    feats = hashed_doc_features(docs)
    model = nb_linear_classifier(feats, labels)
    bias = model.select("bias").first()["bias"]

    # Trim the model to ONLY the buckets of doc 0's vocabulary; docs
    # whose terms never overlap doc 0 then have zero known buckets.
    doc0_buckets = [
        r["b"] for r in feats.filter(F.col("doc_id") == 0).select("b").collect()
    ]
    trimmed = model.filter(F.col("b").isin(doc0_buckets))

    full = {r["doc_id"]: r for r in score_documents(feats, model).collect()}
    part = {r["doc_id"]: r for r in score_documents(feats, trimmed).collect()}

    # No document vanishes, and token counts are the true per-doc
    # totals (not post-join survivors).
    assert set(part) == set(full) == {0, 1, 2, 3}
    for doc_id, row in part.items():
        assert row["n_tokens"] == full[doc_id]["n_tokens"]

    # A zero-overlap doc scores exactly the class prior.
    zero_overlap = [
        d for d in (1, 3)
        if not set(
            r["b"] for r in feats.filter(F.col("doc_id") == d).select("b").collect()
        ) & set(doc0_buckets)
    ]
    assert zero_overlap, "toy corpus lost its disjoint-vocab property"
    for d in zero_overlap:
        assert part[d]["margin"] == 0.0
        assert abs(part[d]["prob"] - 1.0 / (1.0 + math.exp(-bias))) < 1e-12

    # Buckets the trimmed model DOES know score identically to the
    # full model's weights for those buckets (doc 0 is fully covered).
    assert abs(part[0]["margin"] - full[0]["margin"]) < 1e-12


def test_empty_or_inconsistent_model_raises(spark):
    """An empty weight table (bad offline load) must fail loudly at
    the swap point — scored-through it would yield NULL prob for
    every doc and the margin>0 filter would silently drop the whole
    corpus. Inconsistent per-row biases are not one model."""
    import pytest

    docs, labels = _toy(spark)
    feats = hashed_doc_features(docs)
    model = nb_linear_classifier(feats, labels)
    empty = model.filter(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        score_documents(feats, empty)
    mixed = model.withColumn(
        "bias", F.when(F.col("b") < "80", 0.1).otherwise(0.2)
    )
    with pytest.raises(ValueError, match="one non-null value"):
        score_documents(feats, mixed)


def test_full_model_scores_match_manual_formula(spark):
    """score_documents replays bias + mean-pooled dot product: check
    one document end-to-end against a hand-computed sigmoid."""
    docs, labels = _toy(spark)
    feats = hashed_doc_features(docs)
    model = nb_linear_classifier(feats, labels)
    w = {r["b"]: r["w"] for r in model.collect()}
    bias = model.select("bias").first()["bias"]
    f0 = {r["b"]: r["n"] for r in feats.filter(F.col("doc_id") == 0).collect()}
    margin = sum(n * w[b] for b, n in f0.items()) / sum(f0.values())
    want = 1.0 / (1.0 + math.exp(-(bias + margin)))
    got = score_documents(feats, model).filter(F.col("doc_id") == 0).first()
    assert abs(got["prob"] - want) < 1e-12
    assert got["n_tokens"] == 4


def test_score_documents_validate_false_is_lazy(spark):
    """validate=False keeps score_documents a pure plan-builder: no
    Spark job may launch at build time (r10 ADVICE — the default
    path's eager localCheckpoint + sanity collect is the documented
    swap-point contract, not a tax on trusted closed-form callers)."""
    docs, labels = _toy(spark)
    feats = hashed_doc_features(docs)
    model = nb_linear_classifier(feats, labels)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    scored = score_documents(feats, model, validate=False)
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "build launched a Spark job"

    # And the lazy path still computes the same scores.
    want = {
        (r["doc_id"], round(r["prob"], 12))
        for r in score_documents(feats, model).collect()
    }
    got = {(r["doc_id"], round(r["prob"], 12)) for r in scored.collect()}
    assert got == want


def test_hashed_doc_features_needs_docs_or_tokens():
    """Neither input is a caller error, named as such up front — not an
    AttributeError from deep inside the tokenizer."""
    import pytest

    with pytest.raises(ValueError, match="docs or tokens_df"):
        hashed_doc_features()
