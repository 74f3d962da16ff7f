"""SemDeDup (Abbas et al. 2023, public method) as a parameterized
operator: cluster the embedding space, find near-duplicate pairs ONLY
within a cluster, connected-components the edge list, keep the min-id
canonical per component.

The CLUSTER COUNT is the load-bearing production knob: the pair stage is
quadratic per cluster, so total pair work is sum(n_b^2) ~ n^2 / 2^bits
for balanced buckets. Production scales clusters with corpus size —
constant expected cluster size gives LINEAR total pair work. This module
exposes that knob as ``bits`` (signed-random-projection bucket width);
the registered ``dedup_semdedup`` query pins ``bits=3`` so its DuckDB
oracle replays the identical buckets, and
``tests/test_semdedup_knob.py`` verifies value-level correctness at two
knob settings plus the refinement property (finer buckets only ever
REMOVE candidate pairs, because the b-bit bucket is a prefix of the
(b+k)-bit bucket).

The SRP axes are fixed dims 0..bits-1 (not learned k-means centroids)
precisely so both engines replay the bucketing bit-identically; swap
in ``operators/kmeans.assign`` for learned clusters — the downstream
shape (bucket equi-join, grouped CC) is unchanged.

Scale notes (measured at sf0.1):
vectors are normalized ONCE scan-side so the quadratic pair stage
folds a single dot product; ``localCheckpoint`` MATERIALIZES that
projection — without it Catalyst inlines the per-element lambda
(carrying the full norm aggregate) into the join's per-PAIR
evaluation (287 s -> 4.3 s on 10k vectors / 6.25M pairs). The edge
list is materialized too (3 ints per surviving pair) so the
quadratic scan runs exactly once rather than per downstream action
(158 s -> ~6 s at the same scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators import similarity as S


def srp_bucket(vec: Column, bits: int) -> Column:
    """Deterministic signed-random-projection bucket: bit i is the
    sign of dim i, MSB-first — so the ``bits``-bit bucket id is a
    strict prefix of any wider bucketing (nested refinement).

    ``bits`` must not exceed the vector dimension: past it, vec[i]
    is NULL under non-ANSI semantics, every bucket goes NULL, the
    pair equi-join silently emits zero edges, and the DuckDB twin
    diverges with its own out-of-range rules — so the expression
    raises per-row instead (one size comparison, nothing next to
    the pair stage it feeds)."""
    if bits < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    if bits > 63:
        # 1 << 63 overflows the long bucket id at expression-build
        # time (and 2^63 clusters is past any corpus) — fail with the
        # real reason, not a NumberFormatException from the literal.
        raise ValueError(f"bits must be <= 63, got {bits}")
    out = F.lit(0)
    for i in range(bits):
        out = out + (vec[i] > 0).cast("int") * (1 << (bits - 1 - i))
    # The bad-row condition must be null-safe: size(NULL) is NULL,
    # which a bare `<` turns into not-true and the NULL vector would
    # fall through to a silent NULL bucket — the exact silent-
    # exclusion mode this guard exists to kill. NULL ELEMENTS within
    # the first `bits` dims null the bucket the same way, so they
    # raise too.
    bad = (
        vec.isNull()
        | (F.size(vec) < bits)
        | F.exists(F.slice(vec, 1, bits), lambda x: x.isNull())
    )
    return F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(f"srp_bucket: bits={bits} needs {bits} non-null "),
                F.lit("leading dims; got size "),
                F.coalesce(F.size(vec).cast("string"), F.lit("NULL")),
            )
        ).cast("int"),
    ).otherwise(out)


def srp_bucket_sql(vec_expr: str, bits: int) -> str:
    """DuckDB twin of :func:`srp_bucket` (1-based list indexing)."""
    terms = [
        f"{1 << (bits - 1 - i)}*CAST({vec_expr}[{i + 1}] > 0 AS INT)"
        for i in range(bits)
    ]
    return " + ".join(terms)


def semdedup_edges(
    emb: DataFrame,
    *,
    bits: int = 3,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The candidate-edge stage of :func:`semdedup`:
    ``(bucket, id_a, id_b)`` for every same-bucket pair with cosine
    >= ``threshold`` (``id_a < id_b``), materialized so the quadratic
    scan runs exactly once.

    Exposed separately so the knob study can measure edge-set RECALL
    across ``bits`` settings directly (the nested-prefix property
    makes the wider-bits edge set a strict SUBSET of the
    narrower-bits one: same 6-bit bucket implies same 3-bit bucket,
    never the reverse)."""
    e = F.col(vec_col)
    # Normalize ONCE at scan side (linear) so the quadratic pair stage
    # folds a single dot product instead of dot + two norms per pair.
    # localCheckpoint materializes the projection — see module
    # docstring for the measured Catalyst-inlining failure mode.
    nrm = S.norm(e)
    b = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(e, lambda x: x.cast("double") / nrm).alias("vecn"),
        srp_bucket(e, bits).alias("bucket"),
    ).localCheckpoint(eager=False)
    a = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("vecn").alias("va"),
        F.col("bucket").alias("bucket_a"),
    )
    c = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("vecn").alias("vb"),
        F.col("bucket").alias("bucket_b"),
    )
    return (
        a.join(
            c,
            (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(S.dot(F.col("va"), F.col("vb")) >= threshold)
        .select(F.col("bucket_a").alias("bucket"), "id_a", "id_b")
        # Materialize the edge LIST so the quadratic pair scan runs
        # exactly ONCE (module docstring).
        .localCheckpoint(eager=False)
    )


def semdedup(
    emb: DataFrame,
    *,
    bits: int = 3,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    precomputed_edges: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup over ``emb`` -> (vec_id, canonical_id, is_removed).

    ``bits`` controls the cluster count (2^bits SRP buckets); see the
    module docstring for the production sizing rule. All joins are
    bucket equi-joins; CC is ONE grouped union-find pass (components
    cannot span buckets by construction — no iterative fixpoint).

    RECALL TRADE: dedup is cluster-scoped by
    definition, so raising ``bits`` trades recall for cost — a
    near-dup pair split across two finer buckets is simply not a
    candidate. The knob study (tools/semdedup_knob_study.py,
    SCALING.md) quantifies it: at 3 -> 6 bits pair work drops ~8x
    while the detected edge set keeps the measured `edge recall`
    fraction of the bits=3 edges. Correctness is knob-independent
    only in the sense that the DuckDB oracle replays the SAME
    buckets; WHICH near-dups are found genuinely depends on the
    clustering, exactly as in the published method."""
    from hdfs_parquet_importer_spark.operators.graph import (
        grouped_connected_components,
    )

    # ``precomputed_edges`` lets a caller that already materialized
    # the (checkpointed) edge frame — e.g. the knob study, which
    # counts it for the recall table — feed it straight into the CC
    # stage instead of re-running the quadratic pair scan. Must be the
    # output of :func:`semdedup_edges` at the same knob settings.
    edges = precomputed_edges
    if edges is None:
        edges = semdedup_edges(
            emb, bits=bits, threshold=threshold,
            id_col=id_col, vec_col=vec_col,
        )
    cc = grouped_connected_components(edges, "bucket")
    return cc.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("canonical_id"),
        (F.col("node") != F.col("component")).alias("is_removed"),
    )


def semdedup_oracle_sql(*, bits: int = 3, threshold: float = 0.35) -> str:
    """DuckDB replay of :func:`semdedup` at the same knob settings.

    Replays the SAME normalize-then-dot formula (not
    ``list_cosine_similarity``'s dot/(|a||b|)): the two algebraic
    forms round differently in IEEE, and one ulp-flipped edge at the
    threshold boundary would relabel a whole component. The
    transitive closure is a RECURSIVE CTE enumerating
    (node, reachable-id) pairs with MIN per node — plan-independent,
    so it must agree exactly with the Spark fixpoint.
    """
    bucket = srp_bucket_sql("embedding", bits)
    return f"""
WITH RECURSIVE b AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS vecn,
         {bucket} AS bucket
  FROM embeddings),
edges AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
  WHERE list_dot_product(a.vecn, c.vecn) >= {threshold}),
sym AS (SELECT id_a AS u, id_b AS v FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach AS (
  SELECT u AS node, u AS lab FROM sym
  UNION
  SELECT s.u, r.lab FROM sym s JOIN reach r ON s.v = r.node)
SELECT node AS vec_id, MIN(lab) AS canonical_id,
       (node <> MIN(lab)) AS is_removed
FROM reach GROUP BY node
"""
