"""TF-IDF weighting and term-partitioned sparse cosine similarity.

Embedding-based ANN (operators/similarity.py) covers dense vectors;
this module is the SPARSE half of document similarity: weight terms by
tf*idf and compute cosines through a self-equi-join on the term — the
inverted-index formulation. No document ever meets another except
through a shared term, so the join is hash-partitioned on the term
key and the pair fanout is sum(df_t^2) over surviving terms, NOT
n_docs^2.

That fanout is why ``max_df_frac`` matters at 100 TB: stopword-grade
terms (df approaching corpus size) contribute quadratic pair blowup
and near-zero idf weight — pruning them bounds the join while barely
moving the cosines. The standard production recipe stacks this with a
per-term posting cap (keep the top-R docs by weight per term), which
caps fanout at R^2 per term; expose_cap below implements it as the
same partitioned window pattern used everywhere else in the repo.

All arithmetic is plain double tf * ln(N/df) with a final 6-dp round,
so a DuckDB oracle can replay it exactly (cross-engine summation-order
noise is ~1e-15, far under the rounding grain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators.dedup import tokens


def tfidf_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_df_frac: float = 0.79,
) -> DataFrame:
    """(id, term, w) sparse tf-idf vectors: w = tf * ln(N / df).

    Terms with df > max_df_frac * N are pruned (see module doc). The
    corpus size N and per-term df enter the plan as aggregates — the
    scalar N via a broadcast 1-row cross join, never a collect.

    The term-frequency table is localCheckpointed: three consumers
    read it (corpus size, document frequency, the weights themselves),
    and Spark does not dedupe common subplans, so the pure-lazy form
    re-tokenizes and re-aggregates the corpus once per consumer
    (measured: 23 exchanges vs 8). At 100 TB the tf table is
    materialized once for exactly this reason — same contract as the
    fingerprint checkpoint in dedup_simhash.
    """
    tf = (
        docs.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    ).localCheckpoint(eager=False)
    n_df = tf.agg(F.countDistinct("id").cast("double").alias("_n"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_df))
        .filter(F.col("df") <= F.lit(max_df_frac) * F.col("_n"))
        .select(
            "id",
            "term",
            (F.col("tf") * F.log(F.col("_n") / F.col("df"))).alias("w"),
        )
    )


def cap_postings(weights: DataFrame, per_term_cap: int) -> DataFrame:
    """Keep only the ``per_term_cap`` highest-weight docs per term
    (deterministic id tiebreak) — the posting-list cap that bounds the
    similarity join's fanout at cap^2 per term. A PARTITIONED window:
    parallel across terms, bounded state per partition."""
    w = Window.partitionBy("term").orderBy(F.col("w").desc(), F.col("id"))
    return (
        weights.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= per_term_cap)
        .drop("_r")
    )


def cosine_pairs(weights: DataFrame) -> DataFrame:
    """All (id_a < id_b) document pairs sharing >= 1 surviving term,
    with exact cosine over the tf-idf vectors. One term-keyed
    equi-join + one (id_a, id_b) groupBy — both hash-partitioned,
    both partial-aggregated map-side."""
    # Zero weights (idf = ln(N/df) = 0 when max_df_frac >= 1 keeps
    # df == N terms) contribute nothing to dots or norms but inflate
    # the term join — and a doc made ONLY of such terms has norm 0,
    # which divides by zero below (an error under ANSI mode). Dropping
    # them changes no surviving cosine and removes the 0/0 row.
    weights = weights.filter(F.col("w") != 0)
    norms = weights.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = weights.select(F.col("id").alias("id_a"), "term", F.col("w").alias("wa"))
    b = weights.select(F.col("id").alias("id_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )


def tfidf_topk_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    max_df_frac: float = 0.79,
    per_term_cap: int | None = None,
) -> DataFrame:
    """Top-k most-similar document pairs by tf-idf cosine. The final
    top-k is an ``orderBy(...).limit(k)`` Catalyst plans as
    TakeOrderedAndProject — per-partition heaps, no global sort.
    Ordering is on the ROUNDED cosine with (id_a, id_b) tiebreaks so
    the cutoff is deterministic across engines."""
    w = tfidf_weights(docs, id_col, text_col, max_df_frac=max_df_frac)
    if per_term_cap is not None:
        w = cap_postings(w, per_term_cap)
    # Three consumers (norms + both join sides); materialize once.
    w = w.localCheckpoint(eager=False)
    return cosine_pairs(w).orderBy(
        F.col("cosine").desc(), "id_a", "id_b"
    ).limit(k)
