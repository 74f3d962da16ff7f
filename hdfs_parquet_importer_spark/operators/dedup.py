"""Deduplication operators for large-scale training-data pipelines.

Four families, all Catalyst-native (no Python UDFs), all designed so
the only shuffles are key-partitioned aggregations/joins:

* **exact** — hash-groupBy on a normalization key; map-side partial
  aggregation makes the shuffle carry one row per distinct key per
  partition, not one per document.
* **MinHash + LSH** — shingle -> 32 permuted min-hashes -> 8 bands of
  4 -> band-bucket self-join. Candidate generation touches only
  documents sharing a band bucket: no O(n^2) cross join anywhere, the
  scale path for 100 TB corpora (the band join's shuffle key is the
  band hash, so skew == true near-dup clusters, which AQE splits).
* **SimHash** — 64-bit fingerprint computed with higher-order array
  functions (zero shuffle, zero explode); candidates via 16-bit chunk
  banding (Hamming<=3 guarantees >=1 of 4 chunks equal by pigeonhole).
* **n-gram Jaccard** — exact verification used on candidate pairs, or
  brute-force inside small blocks.

All hashing is ``xxhash64`` (deterministic across runs/executors).
Arithmetic stays below 2^62 (mod-prime reduction) so ANSI-mode Spark
never overflows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

# Mersenne prime 2^31-1: permutation arithmetic stays < 2^62.
_MERSENNE = (1 << 31) - 1

# Column-expression memos: the wide fingerprint/signature
# builders construct hundreds of Column objects per call, each a py4j
# round-trip — measured 0.6-1.3 s of pure driver-side build time per
# bench cycle. The expression trees reference only fixed internal
# column names ('tok', 'h', 'sig_i', ...), so they are reusable
# verbatim across DataFrames and sessions (Catalyst expressions are
# immutable); build them once per process. This caches EXPRESSIONS,
# never data or results.
_EXPR_CACHE: dict = {}


def normalize_text(col: Column) -> Column:
    """Canonical dedup key: lowercase, strip non-alnum, collapse spaces."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Keep the lowest-id document per normalized key.

    Returns (dedup_key, keep_id, n_copies). groupBy = one partial-agg
    shuffle on the key hash; no sort, no window.
    """
    return (
        df.select(key.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )



def content_pair_hash_cols(
    text_col: Column, marker: str = " dup"
) -> tuple[Column, Column]:
    """The (kd, ks) planted-copy hash Column pair — the ONE definition
    :func:`content_pair_hashes` persists and that fused single-scan
    callers (eval_dsir_recall) project alongside their own
    columns; both hashes are 8-byte longs (string-key rule)."""
    return (
        F.xxhash64(text_col),
        F.xxhash64(F.concat(text_col, F.lit(marker))),
    )


def content_pair_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    marker: str = " dup",
) -> DataFrame:
    """(id, kd, ks): xxhash64 of the text and of text+marker from ONE
    scan of the text column, persisted lazily — the planted-copy eval
    queries self-join ``kd`` against ``ks`` to recover (copy, source)
    pairs. Projecting each hash in its own select would scan the
    parquet text column twice per query; both hashes are 8-byte longs
    (string-key rule)."""
    kd, ks = content_pair_hash_cols(F.col(text_col), marker)
    return docs.select(
        F.col(id_col), kd.alias("kd"), ks.alias("ks")
    ).localCheckpoint(eager=False)


def tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def token_set(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) from a token-array column;
    < n tokens -> empty array.

    PERFORMANCE CONTRACT: pass a *materialized* column reference
    (``F.col("toks")``), not an inline ``tokens(text)`` expression.
    Catalyst does not hoist lambda-invariant subexpressions out of
    higher-order-function lambdas, so an inline tokenization is
    re-evaluated once per shingle — measured ~50x slower on ~50-token
    documents. Callers project ``tokens(text)`` into a column first;
    the two projections still fuse into one codegen stage, but the
    token array is computed once per row.

    The short-text guard matters: ``F.sequence(1, 0)`` is DESCENDING
    ([1, 0], implicit step -1), not empty, so the index sequence is
    clamped to >= 1 and a ``when`` returns [] for short docs.
    """
    count = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(count >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles straight from a text column.

    Convenience/compat form. In hot paths prefer projecting
    ``tokens(col)`` first and calling :func:`shingles_of_tokens` —
    see its performance contract.
    """
    return shingles_of_tokens(tokens(col), n)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two *distinct-element* arrays (double).

    Union size by inclusion-exclusion (|a| + |b| - |a∩b|), valid
    exactly because the contract is distinct elements — the previous
    array_distinct(concat(a, b)) allocated and hash-deduped a
    combined array PER CANDIDATE PAIR in the verify-join hot path for
    the same number."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _permute(h32: Column, i: int) -> Column:
    # Deterministic affine permutations over Z_p; coefficients from a
    # fixed linear-congruential sequence so both driver and tests agree.
    a = (2654435761 * (i + 1) + 40503) % _MERSENNE or 1
    b = (2246822519 * (i + 1) + 12345) % _MERSENNE
    return (F.lit(a) * h32 + F.lit(b)) % F.lit(_MERSENNE)


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str,
                        num_perm: int = 32, bands: int = 8) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing >=1 LSH band bucket."""
    if num_perm % bands:
        # Silent truncation would band only the first
        # bands*(num_perm//bands) signature columns and quietly shift
        # the recall/precision curve.
        raise ValueError(
            f"num_perm={num_perm} must be divisible by bands={bands}"
        )
    rows_per_band = num_perm // bands
    key = ("lsh_bands", num_perm, bands)
    if key in _EXPR_CACHE:
        band_structs = _EXPR_CACHE[key]
    else:
        band_structs = F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"sig_{b * rows_per_band + r}")
                             for r in range(rows_per_band)]).alias("bucket"),
            )
            for b in range(bands)
        ])
        _EXPR_CACHE[key] = band_structs
    banded = sig_df.select(
        F.col(id_col), F.explode(band_structs).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.9, num_perm: int = 32,
                        bands: int = 8, shingle_n: int = 3) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold. LSH prunes
    candidates; the verify join re-reads only candidate documents'
    shingle sets (a broadcast-sized set in practice; a key-partitioned
    join otherwise).

    SCOPE: documents with fewer than ``shingle_n`` tokens have NO
    shingles (same convention as the DuckDB oracle twins' shingle
    replay), so they are never candidates — even verbatim duplicates.
    Route degenerate-short docs through exact dedup (``dedup_exact``
    normalizes whole texts) rather than lowering ``shingle_n``.
    """
    df = ensure_parallelism(df)
    # ONE text scan + ONE tokenize/shingle pass for the whole
    # operator: the checkpointed shingle-set table feeds BOTH the
    # signature explode and the verify join, so the corpus is never
    # re-tokenized or re-shingled for the signatures.
    # A shuffle-free per-row variant (32x array_min(transform(...)))
    # was measured 3.5x SLOWER here (dedup_minhash_lsh 1.44 -> 5.10 s
    # same-window): each transform materializes a permuted copy of
    # the shingle array per row, and that allocation dwarfs the small
    # post-partial-agg exchange it saved. Explode form kept.
    sets_df = df.select(
        F.col(id_col).alias("_sid"), tokens(F.col(text_col)).alias("_t")
    ).select(
        "_sid", shingles_of_tokens(F.col("_t"), shingle_n).alias("_sset")
    ).localCheckpoint(eager=False)
    sh = sets_df.select(
        F.col("_sid").alias(id_col), F.explode("_sset").alias("sh")
    ).select(
        id_col, F.pmod(F.xxhash64("sh"), F.lit(_MERSENNE)).alias("h")
    )
    key = ("minhash_sig", num_perm)
    if key not in _EXPR_CACHE:
        _EXPR_CACHE[key] = [
            F.min(_permute(F.col("h"), i)).alias(f"sig_{i}")
            for i in range(num_perm)
        ]
    sig = sh.groupBy(id_col).agg(*_EXPR_CACHE[key])
    cand = lsh_candidate_pairs(sig, id_col, num_perm, bands)
    verified = (
        cand.join(sets_df.withColumnRenamed("_sid", "id_a")
                         .withColumnRenamed("_sset", "set_a"), "id_a")
        .join(sets_df.withColumnRenamed("_sid", "id_b")
                     .withColumnRenamed("_sset", "set_b"), "id_b")
        .select("id_a", "id_b", jaccard(F.col("set_a"), F.col("set_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def simhash64(text_col: Column, bits: int = 63) -> Column:
    """SimHash fingerprint, computed entirely with array expressions.

    Single pass over the token hashes: one ``aggregate`` folds every
    token's sign vector (+1/-1 per bit) into a ``bits``-long vote
    array via ``zip_with``, then a second ``aggregate`` over the
    reversed vote array packs the sign bits MSB-first
    (``acc*2 + (vote>0)``). Each token is hashed exactly once and the
    expression tree is O(bits), not O(bits) *aggregates* — a naive
    per-bit formulation re-evaluates the token-hash array ``bits``
    times, which measured ~60x slower. No explode, no shuffle; the
    whole computation is a per-row JVM-side projection. 63 bits by
    default so the packed value never overflows a signed long in ANSI
    mode (max value 2^63 - 1).
    """
    key = ("simhash64", str(text_col), bits)
    if key in _EXPR_CACHE:
        return _EXPR_CACHE[key]
    tok_hashes = F.transform(token_set(text_col), lambda t: F.xxhash64(t))
    zero = F.array_repeat(F.lit(0).cast("long"), bits)

    def merge(acc: Column, h: Column) -> Column:
        # The per-bit loop unrolls in Python (F.shiftright takes a
        # literal shift count); h is the lambda-bound token hash.
        signs = F.array(*[
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            for i in range(bits)
        ])
        return F.zip_with(acc, signs, lambda a, s: a + s)

    votes = F.aggregate(tok_hashes, zero, merge)
    # Pack MSB-first: reversed votes are bit (bits-1) .. bit 0, so
    # acc*2 + b reconstructs sum(b_i << i) without a literal-shift loop
    # or re-evaluating `votes` per bit.
    out = F.aggregate(
        F.reverse(votes),
        F.lit(0).cast("long"),
        lambda acc, v: acc * 2 + F.when(v > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    _EXPR_CACHE[key] = out
    return out


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str,
                         bits: int = 63) -> DataFrame:
    """(id, fp): SimHash via explode + partial-agg bit counting.

    Equivalent semantics to :func:`simhash64` (bit i set iff the +1/-1
    vote over distinct-token hashes is positive, i.e. ones > n/2), but
    shaped for throughput: explode the distinct tokens, count ones per
    bit with 2x``bits`` plain integer aggregates (whole-stage codegen,
    no per-token array allocation), then pack. The explode is
    map-local and the groupBy's partial aggregation reduces each
    partition to one row per doc before the shuffle — measured ~2x
    faster than the per-row array formulation and it parallelizes
    across cores even for a single wide document.
    """
    df = ensure_parallelism(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(token_set(F.col(text_col))).alias("tok"),
    )
    key = ("simhash_fp", bits)
    if key not in _EXPR_CACHE:
        h = F.xxhash64("tok")
        ones = [
            F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1))).alias(f"ones_{i}")
            for i in range(bits)
        ]
        fp = None
        for i in range(bits):
            term = F.when(
                F.col(f"ones_{i}") * 2 > F.col("n"),
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            fp = term if fp is None else fp + term
        _EXPR_CACHE[key] = (ones, fp.alias("fp"))
    ones, fp_named = _EXPR_CACHE[key]
    counted = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *ones)
    return counted.select("id", fp_named)


def simhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 3,
                            fp: DataFrame | None = None) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming distance <= max_hamming.

    Banding: 4 chunks of 16 bits; Hamming<=3 implies at least one chunk
    is identical (pigeonhole), so an equi-join per chunk finds every
    qualifying pair without a cross join.

    Pass a precomputed ``fp`` ((id, fp) from
    :func:`simhash_fingerprints`) to reuse fingerprints across several
    consumers — fingerprinting dominates the cost, so a caller that
    also needs the fingerprints (e.g. a verification harness) should
    compute them once and ``localCheckpoint``. A precomputed ``fp``
    must carry exactly the ``simhash_fingerprints`` schema — columns
    named ``id`` and ``fp`` (``df``/``id_col``/``text_col`` are then
    ignored); anything else is rejected up front rather than failing
    deep in the banding plan.
    """
    if max_hamming > 3:
        # 4 fixed chunks pigeonhole-guarantee recall only for
        # distance <= 3; a larger threshold would silently DROP
        # qualifying pairs that differ in every chunk (same convention
        # as lsh_candidate_pairs' num_perm % bands check: knobs that
        # silently shift recall must raise).
        raise ValueError(
            f"max_hamming={max_hamming} breaks the 4-chunk pigeonhole "
            f"guarantee (max 3); re-band with more chunks instead"
        )
    if fp is None:
        fp = simhash_fingerprints(df, id_col, text_col)
    elif not {"id", "fp"} <= set(fp.columns):
        raise ValueError(
            f"precomputed fp must have columns ('id', 'fp') — the "
            f"simhash_fingerprints schema — got {fp.columns}"
        )
    chunks = F.array(*[
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("fp"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
        )
        for c in range(4)
    ])
    banded = fp.select("id", "fp", F.explode(chunks).alias("cb")).select(
        "id", "fp", "cb.chunk", "cb.ckey"
    )
    a = banded.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"), "chunk", "ckey")
    b = banded.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"), "chunk", "ckey")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # Hamming filter BEFORE distinct: the dedup shuffle then carries
    # only qualifying pairs, not every chunk collision (a pair can
    # collide on up to 4 chunks; real corpora collide far more than
    # they qualify).
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
