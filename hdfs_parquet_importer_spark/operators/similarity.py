"""Similarity search over embedding columns (``array<float>``).

Two paths, mirroring what a 100 TB training-data pipeline needs:

* **Brute-force cosine top-k** — the correctness baseline. The query
  set is broadcast (it is small by definition); candidates stream
  through a map-side cosine projection, then top-k per query is taken
  in two phases (partial top-k per salt bucket, then final top-k) so
  no single reducer ever sees the full candidate set.
* **Random-hyperplane LSH (SimHash for vectors)** — the scale path.
  Each vector gets a small integer bucket from the sign pattern of
  dot products with ``n_planes`` fixed hyperplanes; candidate
  generation is an equi-join on the bucket id, optionally multiprobed
  (Hamming-1 neighbor buckets) for recall. Join key cardinality is
  ``2**n_planes``; skew maps to true dense regions, which AQE splits.

All arithmetic is Catalyst-native (``zip_with`` + ``aggregate`` in
double precision) — no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators.util import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float-array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null-safe via 0-norm guard (returns null)."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    salt_buckets: int = 32,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Scale shape: ``broadcast(queries) x vectors`` — one pass over the
    candidate set, no shuffle of the big side for the join. Top-k runs
    in two phases: partial top-k within ``pmod(id, salt_buckets)``
    buckets (bounded window partitions), then final top-k over
    ``k * salt_buckets`` survivors per query. A single-phase window
    over (query) would funnel every candidate row of a query into one
    reducer — exactly what dies at 100 TB.

    Ties broken deterministically by candidate id ascending.
    """
    scored = ensure_parallelism(vectors).join(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(query_vec_col), F.col(vec_col)).alias("cos"),
    )
    return salted_topk(
        scored,
        query_id_col,
        id_col,
        k,
        [F.desc("cos"), F.asc(id_col)],
        salt_buckets=salt_buckets,
    )


def _vec_dim(df: DataFrame, col: str) -> int:
    """Vector dimensionality from the first row — loud on empty input
    (``first()`` returns None there, and the old inline form crashed
    with an opaque 'NoneType is not subscriptable')."""
    row = df.select(col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer vector dim: input has no rows / NULL {col!r}"
        )
    return len(row[0])


def salted_topk(
    scored: DataFrame,
    query_id_col: str | list[str],
    id_col: str,
    k: int,
    order_cols,
    salt_buckets: int = 32,
    rank_col: str = "rank",
) -> DataFrame:
    """Two-phase per-query top-k: partial top-k within
    ``pmod(id, salt_buckets)`` buckets (bounded window partitions),
    then final top-k over the ``k * salt_buckets`` survivors — no
    reducer ever holds one query's full candidate set. Shared by every
    ANN ranker here; ``order_cols`` must end with a unique tiebreak
    (the id) so both phases are deterministic. ``query_id_col`` may be
    a list for composite per-query keys (e.g. (n_dims, query_id) when
    several retrieval configurations share one fused pass). Candidate
    ids must be numeric (the salt is a modulus) — true for this
    engine's tables; hash non-numeric ids upstream."""
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    id_type = scored.schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        # pmod would implicitly cast (string ids -> NULL salt), and
        # every candidate of a query would collapse into ONE window
        # partition — the single-reducer funnel this function exists
        # to prevent, silently, with correct-looking results. Fail
        # fast instead.
        raise TypeError(
            f"salted_topk: {id_col} must be numeric for the salt "
            f"modulus, got {id_type.simpleString()}; hash non-numeric "
            f"ids upstream (e.g. xxhash64)"
        )

    qcols = (
        [query_id_col] if isinstance(query_id_col, str) else list(query_id_col)
    )
    salt = F.pmod(F.col(id_col), F.lit(salt_buckets))
    partial_w = Window.partitionBy(*qcols, salt).orderBy(*order_cols)
    final_w = Window.partitionBy(*qcols).orderBy(*order_cols)
    return (
        scored.withColumn("_prn", F.row_number().over(partial_w))
        .filter(F.col("_prn") <= k)
        .withColumn(rank_col, F.row_number().over(final_w))
        .filter(F.col(rank_col) <= k)
        .drop("_prn")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    h = rng.standard_normal((n_planes, dim))
    h /= np.linalg.norm(h, axis=1, keepdims=True)
    return [[float(v) for v in row] for row in h]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit j = (vec . plane_j) >= 0."""
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec, plane_col) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_tables(
    vec: Column, dim: int, n_planes: int, n_tables: int, seed: int,
    bucket_alias: str = "bucket",
) -> Column:
    """The (tbl, bucket) struct-array every LSH surface explodes —
    ONE definition shared by the in-memory ranker (lsh_topk), the
    index WRITER (build_lsh_index) and the index READER
    (query_lsh_index). Writer and reader must compute bit-identical
    buckets forever or probes silently miss and recall collapses with
    no error; one definition shared by all three sites rules out that
    drift."""
    return F.array(*[
        F.struct(
            F.lit(t).alias("tbl"),
            lsh_bucket(vec, hyperplanes(dim, n_planes, seed + t)).alias(
                bucket_alias
            ),
        )
        for t in range(n_tables)
    ])


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 4,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: cosine ranking restricted to LSH candidates.

    Standard multi-table hyperplane LSH: ``n_tables`` independent
    hash tables (fresh hyperplanes per table) union their candidate
    sets — a vector is a candidate if ANY table buckets it with the
    query; ``multiprobe`` additionally probes the Hamming-1 neighbor
    buckets of each table (recall insurance for queries near a
    hyperplane). The candidate join is a (table, bucket) equi-join
    with the probe side broadcast, so the big side never shuffles;
    per-table fraction probed is ``(1+n_planes)/2**n_planes``.
    Deduplication of candidates found by several tables happens via
    max-per-pair aggregation before ranking.
    """
    # Hash dimension comes from the CORPUS (it defines the space) and
    # the query side must match: on a silent mismatch zip_with would
    # null-pad every dot product, every corpus vector would hash to
    # bucket 0, and the job would succeed with garbage neighbors.
    dim = _vec_dim(vectors, vec_col)
    qdim = _vec_dim(queries, query_vec_col)
    if qdim != dim:
        raise ValueError(
            f"query dim {qdim} != corpus dim {dim}: different encoders?"
        )

    def banded(df: DataFrame, id_: str, vec: str, out: str) -> DataFrame:
        tables = lsh_tables(F.col(vec), dim, n_planes, n_tables, seed, out)
        return df.select(
            F.col(id_), F.col(vec), F.explode(tables).alias("tb")
        ).select(id_, vec, "tb.tbl", F.col(f"tb.{out}").alias(out))

    cand = banded(ensure_parallelism(vectors), id_col, vec_col, "bucket")
    q = banded(queries, query_id_col, query_vec_col, "qbucket")
    if multiprobe:
        probes = F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
    else:
        probes = F.array(F.col("qbucket"))
    q = q.select(
        query_id_col, query_vec_col, "tbl", F.explode(probes).alias("bucket")
    )

    deduped = (
        cand.join(F.broadcast(q), ["tbl", "bucket"])
        .groupBy(query_id_col, id_col)
        .agg(F.max(cosine(F.col(query_vec_col), F.col(vec_col))).alias("cos"))
    )
    # Two-phase salted ranking: with multiprobe the union of probed
    # buckets can be a large fraction of the corpus per query, and a
    # single per-query window is exactly the one-reducer funnel this
    # module salts against everywhere else.
    return salted_topk(
        deduped, query_id_col, id_col, k, [F.desc("cos"), F.asc(id_col)]
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 3,
    train_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    salt_buckets: int = 32,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse k-means quantization + probed
    exact re-ranking — the classic FAISS-style IVF layout expressed as
    a Spark plan.

    * **Train**: ``n_lists`` coarse centroids via the deterministic
      Lloyd iterations in :mod:`operators.kmeans` (at 100 TB train on
      a seeded hash-sample; centroids are k x dim driver-side floats
      either way).
    * **Assign**: every corpus vector gets its nearest-centroid list
      id from a broadcast argmin projection — a map-side column
      expression, zero shuffle of the corpus.
    * **Probe**: each query (small by definition) picks its
      ``n_probe`` nearest centroids driver-side; the candidate join is
      a broadcast equi-join on the list id, so only ~n_probe/n_lists
      of the corpus is scored per query.
    * **Re-rank**: exact cosine over candidates with the same
      two-phase salted top-k as :func:`brute_force_topk` — no reducer
      ever holds a query's full candidate set.

    Unlike hyperplane LSH (data-independent planes), the partition
    adapts to the data's cluster structure, which is what makes IVF
    the scale path for clustered embedding corpora.

    CONTRACT: embeddings should be (approximately) unit-norm. The
    coarse probe picks lists by squared-L2 to the centroids while the
    final ranking is cosine; on unit vectors L2 and cosine are
    rank-equivalent (||q-x||^2 = 2 - 2 q.x), but on unnormalized
    corpora a large-norm vector can be cosine-closest yet land in an
    unprobed list. This engine's embeddings table is unit-norm by
    construction; normalize other inputs upstream.
    """

    from hdfs_parquet_importer_spark.operators.kmeans import (
        _assign_expr,
        kmeans_fit,
    )

    vecs = vectors.select(F.col(id_col), F.col(vec_col).alias("embedding"))
    _, centroids, _ = kmeans_fit(
        vecs, k=n_lists, max_iter=train_iter, id_col=id_col, vec_col="embedding"
    )
    cells = ensure_parallelism(vecs).select(
        id_col, "embedding", _assign_expr(centroids).alias("cell")
    )

    # Queries are small: pick each one's n_probe nearest lists on the
    # driver (n_lists x dim floats — same tiny state as the centroids).
    probe_rows = []
    for r in queries.collect():
        qv = [float(x) for x in r[query_vec_col]]
        d2 = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, c)), ci)
            for ci, c in enumerate(centroids)
        )
        for _, ci in d2[:n_probe]:
            probe_rows.append((r[query_id_col], qv, ci))
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    probe_df = queries.sparkSession.createDataFrame(
        probe_rows,
        f"{query_id_col} {qid_type}, {query_vec_col} array<double>, cell int",
    )

    scored = cells.join(F.broadcast(probe_df), "cell").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(query_vec_col), F.col("embedding")).alias("cos"),
    )
    return salted_topk(
        scored,
        query_id_col,
        id_col,
        k,
        [F.desc("cos"), F.asc(id_col)],
        salt_buckets=salt_buckets,
    )


def build_lsh_index(
    vectors: DataFrame,
    path: str,
    n_planes: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist an IVF-style LSH index: vectors written as parquet
    partitioned by (tbl, bucket).

    Index-once / query-many: a probe for (tbl, bucket) becomes a
    PartitionFilters directory skip — the query reads only the probed
    buckets' files, ~(1+n_planes)/2**n_planes of the corpus per table,
    without scanning or shuffling the rest. Re-ranking inside the
    probed buckets is exact cosine. This is the batch analogue of an
    inverted-list (IVF) ANN index, built with nothing but partitioned
    parquet."""
    dim = _vec_dim(vectors, vec_col)
    tables = lsh_tables(F.col(vec_col), dim, n_planes, n_tables, seed)
    banded = (
        ensure_parallelism(vectors)
        .select(F.col(id_col), F.col(vec_col), F.explode(tables).alias("tb"))
        .select(id_col, vec_col, "tb.tbl", "tb.bucket")
    )
    # One task per (tbl, bucket) directory -> no small-file spray.
    banded.repartition("tbl", "bucket").write.mode("overwrite").partitionBy(
        "tbl", "bucket"
    ).parquet(path)


def query_lsh_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 4,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Top-k over a persisted LSH index with partition-pruned probes.

    The probe set (tbl, bucket) pairs is an IN-list literal filter on
    the index's partition columns, so pruning happens at planning time
    (PartitionFilters, zero IO for unprobed buckets). Candidates from
    all probed buckets are deduped per (query, id) then ranked by
    exact cosine."""
    # The INDEX's dimensionality is authoritative (the writer derived
    # its hyperplanes from it); a query set from a different encoder
    # must fail loudly — probing with planes of the wrong dim would
    # compute unrelated buckets and the cosine over zip_with of
    # mismatched arrays null-pads, so the job would SUCCEED with
    # garbage neighbors (the same guard lsh_topk has).
    index = spark.read.parquet(path)
    qdim = _vec_dim(queries, query_vec_col)
    # First NON-NULL vector, not first row: a stray NULL row that
    # parquet happens to return first must not silently bypass the
    # encoder-mismatch guard.
    head = index.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
    if head is None:
        # Genuinely empty index (no non-null vectors): stay queryable
        # — probe with the query-side dim so the plan below runs; the
        # candidate join against the empty index yields an empty
        # top-k with the normal schema instead of the opaque
        # "cannot infer vector dim" raise (the dim guard must not
        # break the zero-rows edge).
        dim = qdim
    else:
        dim = len(head[0])
        if qdim != dim:
            raise ValueError(
                f"query dim {qdim} != indexed corpus dim {dim}: "
                f"different encoders?"
            )
    # Home buckets are computed through the SAME lsh_tables Spark
    # expression the index writer used (shared helper — a drift here
    # silently misses every probe). Queries are small by definition,
    # so routing them through one tiny Spark job costs nothing.
    tables = lsh_tables(F.col(query_vec_col), dim, n_planes, n_tables, seed)
    q_rows = (
        queries.select(
            query_id_col, query_vec_col, F.explode(tables).alias("tb")
        )
        .select(query_id_col, query_vec_col, "tb.tbl", "tb.bucket")
        .collect()
    )
    probes: set[tuple[int, int]] = set()
    qb = []
    for r in q_rows:
        b = r["bucket"]
        buckets = [b] + (
            [b ^ (1 << j) for j in range(n_planes)] if multiprobe else []
        )
        for bb in buckets:
            probes.add((r["tbl"], bb))
        qb.append((r[query_id_col], list(r[query_vec_col]), r["tbl"], buckets))

    probe_pred = F.struct(F.col("tbl"), F.col("bucket")).isin(
        [F.struct(F.lit(t), F.lit(b)) for t, b in probes]
    )
    cand = index.filter(probe_pred)

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    probe_df = spark.createDataFrame(
        [(qid, vec, t, b) for qid, vec, t, bs in qb for b in bs],
        f"{query_id_col} {qid_type}, {query_vec_col} array<double>, "
        f"tbl int, bucket int",
    )
    deduped = (
        cand.join(F.broadcast(probe_df), ["tbl", "bucket"])
        .groupBy(query_id_col, id_col)
        .agg(F.max(cosine(F.col(query_vec_col), F.col(vec_col))).alias("cos"))
    )
    return salted_topk(
        deduped, query_id_col, id_col, k, [F.desc("cos"), F.asc(id_col)]
    )


def pq_train_encode(
    vectors: DataFrame,
    m: int = 4,
    codebook_k: int = 16,
    train_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization: train ``m`` per-subspace codebooks
    (deterministic Lloyd, :mod:`operators.kmeans`) and encode every
    vector as ``m`` small codes.

    Returns ``(enc_long, codebooks)`` where ``enc_long`` is the
    (id, sub, code) long form — the compressed representation that
    costs ``m * log2(codebook_k)`` bits per vector instead of
    ``dim * 32`` — and ``codebooks[s][c]`` is the centroid for code
    ``c`` of subspace ``s`` (m * k * (dim/m) driver-side floats; the
    one place driver state is acceptable). Encoding is a single
    map-side projection: all ``m`` argmins evaluate in one pass over
    the corpus, zero shuffle.
    """
    from hdfs_parquet_importer_spark.operators.kmeans import (
        _assign_exprs,
        kmeans_fit,
    )

    dim = _vec_dim(vectors, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m

    codebooks: list[list[list[float]]] = []
    for mi in range(m):
        sv = vectors.select(
            F.col(id_col),
            F.slice(F.col(vec_col), mi * sub + 1, sub).alias("embedding"),
        )
        _, cents, _ = kmeans_fit(
            sv, k=codebook_k, max_iter=train_iter, id_col=id_col,
            vec_col="embedding",
        )
        codebooks.append(cents)

    code_cols = [
        _assign_exprs(
            codebooks[mi], F.slice(F.col(vec_col), mi * sub + 1, sub)
        )[0]
        for mi in range(m)
    ]
    enc_long = ensure_parallelism(vectors).select(
        F.col(id_col), F.posexplode(F.array(*code_cols)).alias("sub", "code")
    )
    return enc_long, codebooks


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    codebook_k: int = 16,
    refine: int = 50,
    train_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    salt_buckets: int = 32,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC) and exact
    re-ranking — the FAISS-style memory-bound scale path, as a Spark
    plan:

    * **Train + encode** (:func:`pq_train_encode`): corpus becomes
      (id, sub, code) — at 100 TB this is the representation that
      KEEPS THE INDEX IN MEMORY (8 bytes/vector here vs 256).
    * **ADC**: each query precomputes its distance to every codebook
      centroid (m * codebook_k rows per query — driver-tiny, same
      bounded-collect contract as ivf_topk's probes); approximate
      distance is then a (sub, code) BROADCAST EQUI-JOIN + groupBy
      sum — the corpus never shuffles, candidates never pair with
      queries except through the m-row code join.
    * **Refine**: the ``refine`` best ADC candidates per query (two-
      phase salted top-R, no single-reducer window) re-rank by EXACT
      cosine via an id equi-join back to the raw vectors.

    CONTRACT: embeddings should be (approximately) unit-norm — the
    ADC candidate stage minimizes squared-L2 while the refine stage
    maximizes cosine, and the two orders agree only on unit vectors
    (||q-x||^2 = 2 - 2 q.x). On an unnormalized corpus a large-norm
    vector can be cosine-best yet rank outside the ``refine`` ADC
    cutoff and silently miss. This engine's embeddings table is
    unit-norm by construction; normalize other inputs upstream.
    """
    from pyspark.sql import Window

    enc_long, codebooks = pq_train_encode(
        vectors, m=m, codebook_k=codebook_k, train_iter=train_iter,
        id_col=id_col, vec_col=vec_col,
    )
    sub = len(codebooks[0][0])

    dtab_rows = []
    for r in queries.collect():
        qv = [float(x) for x in r[query_vec_col]]
        for mi in range(m):
            qs = qv[mi * sub : (mi + 1) * sub]
            for ci, cent in enumerate(codebooks[mi]):
                d2 = sum((a - b) * (a - b) for a, b in zip(qs, cent))
                dtab_rows.append((r[query_id_col], mi, ci, d2))
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    dtab = queries.sparkSession.createDataFrame(
        dtab_rows, f"{query_id_col} {qid_type}, sub int, code int, d2 double"
    )

    adc = (
        enc_long.join(F.broadcast(dtab), ["sub", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("d2").alias("adc_d2"))
    )
    cand = salted_topk(
        adc,
        query_id_col,
        id_col,
        refine,
        [F.asc("adc_d2"), F.asc(id_col)],
        salt_buckets=salt_buckets,
        rank_col="_rn",
    ).select(query_id_col, id_col)

    # cand is <= refine rows per query — BROADCAST it so the exact
    # rerank reads the corpus with a hash-lookup join instead of
    # shuffling every corpus row to sort-merge against a few thousand
    # candidate ids. The rerank window partition is bounded by
    # `refine`, so a plain per-query window is safe here.
    rerank_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.asc(id_col)
    )
    return (
        F.broadcast(cand)
        .join(vectors.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(F.broadcast(queries), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine(F.col(query_vec_col), F.col(vec_col)).alias("cos"),
        )
        .withColumn("_rn", F.row_number().over(rerank_w))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, id_col, "cos")
    )
