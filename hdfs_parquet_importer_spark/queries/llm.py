"""LLM-training-data pipeline queries: deduplication, similarity
search, and text analysis over the ``documents`` / ``embeddings``
tables (driver north_star extensions; no counterpart in the reference,
which is a single-purpose CSV->Parquet ETL — see SURVEY.md §2.2).

Oracle strategy:

* Exact/deterministic ops (exact dedup, n-gram Jaccard, cosine pairs,
  brute-force top-k, text stats) get full DuckDB SQL twins. Ratios of
  integers are emitted UNROUNDED — both engines perform one IEEE-754
  double division on identical integers, so the bits match, whereas
  ROUND() would expose half-even vs half-up differences on exact
  halfway rationals (e.g. 1/160).
* Continuous values (cosines) are rounded to 6 dp — cross-engine
  summation-order differences are ~1e-16 and a continuous value has
  probability ~0 of sitting exactly on a rounding boundary.
* Sketch-based ops (MinHash-LSH, SimHash, hyperplane-LSH ANN) and
  iterative fixpoints (connected components, k-means) can't be
  replayed in DuckDB (xxhash64 is Spark-specific; SQL has no loop),
  so each gets the BOUND-CHECK oracle pattern: the Spark query
  recomputes an independent exact reference IN-SPARK (brute-force
  pairs / exact top-k / Lloyd's monotone objective), emits
  oracle-computable anchor columns (doc counts, exact-top-k id sums
  and cosines DuckDB re-derives itself) plus boolean verdicts, and
  the oracle emits the independently-derived anchors with literal
  TRUE verdicts. A full value-hash check instead of rows-only;
  recall-vs-brute-force pytest coverage in ``tests/test_dedup.py`` /
  ``tests/test_similarity.py`` backs the same properties at other SFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators import dedup as D
from hdfs_parquet_importer_spark.operators import similarity as S
from hdfs_parquet_importer_spark.operators.semdedup import (
    semdedup_oracle_sql as _semdedup_oracle_sql,
)
from hdfs_parquet_importer_spark.operators import textstats as T
from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table

# DuckDB twin of operators.dedup.normalize_text / tokens / shingles.
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"


def _shingles_sql(n: int = 3) -> str:
    """DuckDB list comprehension mirroring operators.dedup.shingles."""
    return (
        f"list_distinct([array_to_string(t[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(t)-{n - 1}, 0)+1)])"
    )


# DuckDB twin of operators/bpe.py — the learn-top-16 merge table and
# the double-fold encode. Defined here (not queries/mixing.py, which
# imports from this module) so the BPE-fed packing comparison below
# and the tokenizer queries in mixing.py share one twin.
_BPE_MERGES_SQL = f"""
  SELECT list(pair ORDER BY n DESC, pair) AS merges
  FROM (SELECT pair, COUNT(*) AS n
        FROM (SELECT unnest([w[i:i] || ' ' || w[i+1:i+1]
                             for i in range(1, len(w))]) AS pair
              FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents)
              WHERE len(w) >= 2)
        GROUP BY pair ORDER BY n DESC, pair LIMIT 16)
"""


def _bpe_encode_sql(merges_expr: str = "merges") -> str:
    # Rules are whole-token "L R" pairs — split on the
    # space, compare whole tokens, exactly like operators/bpe.py.
    return (
        "list_reduce("
        "list_prepend('.' || regexp_replace(w, '(.)', '\\1.', 'g'), "
        f"{merges_expr}), "
        "(s, m) -> list_reduce("
        "  list_prepend('.', list_filter(string_split(s, '.'), t -> t != '')), "
        "  (acc, t) -> CASE WHEN t = string_split(m, ' ')[2] "
        "                    AND ends_with(acc, '.' || string_split(m, ' ')[1] || '.') "
        "              THEN acc[1:len(acc)-1] || t || '.' "
        "              ELSE acc || t || '.' END))"
    )


def _bpe_ntok_sql(merges_expr: str = "merges") -> str:
    e = _bpe_encode_sql(merges_expr)
    return f"len({e}) - len(replace({e}, '.', '')) - 1"


_BPE_ENCODE_SQL = _bpe_encode_sql()
_BPE_NTOK_SQL = _bpe_ntok_sql()


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
WITH n AS (SELECT doc_id, md5({_NORM_SQL}) AS dedup_key FROM documents)
SELECT dedup_key, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM n GROUP BY dedup_key
""",
    doc="Exact dedup: hash-groupBy on md5(normalized text); map-side "
    "partial agg means the shuffle carries one row per distinct key "
    "per partition — O(distinct) network traffic at 100 TB.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, F.md5(D.normalize_text(F.col("text"))), "doc_id")


# Exact near-dup pair set (Jaccard >= 0.8 over word-3-gram shingles),
# derived start-to-finish in DuckDB. Shared by dedup_ngram_jaccard
# (whose Spark side is the same brute force) and dedup_minhash_lsh
# (whose Spark side must REDISCOVER this exact set through the
# sketch + verify pipeline).
_JACCARD_PAIRS_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.s, b.s))::DOUBLE
         / len(list_distinct(a.s || b.s)) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE
        / len(list_distinct(a.s || b.s)) >= 0.8
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_PAIRS_SQL,
    doc="Brute-force n-gram Jaccard near-dup pairs (threshold 0.8). "
    "O(n^2) correctness baseline for the MinHash-LSH scale path; at "
    "100 TB use dedup_minhash_lsh, which prunes candidates to "
    "band-bucket collisions.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # The theta-join (id_a < id_b) is a broadcast-nested-loop; spread
    # the stream side so the O(n^2) Jaccard work uses every core.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        F.col("doc_id"), D.tokens(F.col("text")).alias("_t")
    ).select(
        "doc_id", D.shingles_of_tokens(F.col("_t"), 3).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            D.jaccard(F.col("sa"), F.col("sb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


@register(
    "dedup_minhash_lsh",
    oracle=_JACCARD_PAIRS_SQL,
    doc="MinHash(32 perms) + LSH(8 bands x 4 rows) candidate pairs, "
    "exact-Jaccard verified at >= 0.8. The only joins are band-bucket "
    "equi-joins — no cross join anywhere; detection prob at s=0.9 is "
    "1-(1-0.9^4)^8 ~ 0.9998. The 100 TB scale path. Oracle: the FULL "
    "exact pair set, brute-forced independently in DuckDB — verified "
    "candidates can never exceed it (exact-Jaccard filter), and with "
    "deterministic xxhash64 sketches the LSH recall at this SF is a "
    "fixed fact (1.0 here; per-pair detection >= 0.985 at s=0.8), so "
    "a hash mismatch means the sketch pipeline dropped or corrupted a "
    "true pair — exactly what the gate should catch.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)


@register(
    "eval_dedup_recall",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
truth AS (
  SELECT DISTINCT LEAST(d.doc_id, s.doc_id) AS id_a,
                  GREATEST(d.doc_id, s.doc_id) AS id_b
  FROM documents d JOIN documents s
    ON md5(d.text) = md5(s.text || ' dup') AND d.doc_id <> s.doc_id),
found AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE
          / len(list_distinct(a.s || b.s)) >= 0.8),
tj AS (
  SELECT len(list_intersect(a.s, b.s))::DOUBLE
           / len(list_distinct(a.s || b.s)) AS j
  FROM truth t JOIN sh a ON a.doc_id = t.id_a
               JOIN sh b ON b.doc_id = t.id_b),
hits AS (SELECT 1 FROM truth JOIN found USING (id_a, id_b))
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM found) AS n_found,
       (SELECT COUNT(*) FROM hits) AS n_hit,
       ROUND((SELECT MIN(j) FROM tj), 6) AS min_truth_jaccard,
       ROUND((SELECT COUNT(*) FROM hits) * 1.0
             / (SELECT COUNT(*) FROM truth), 6) AS recall,
       ROUND((SELECT COUNT(*) FROM hits) * 1.0
             / (SELECT COUNT(*) FROM found), 6) AS planted_share
""",
    doc="Dedup-pipeline EVAL against planted ground truth (the "
    "classifier-eval pattern of eval_langid_confusion, applied to "
    "dedup): the corpus construction plants ~5% near-duplicates as "
    "an earlier doc's text + ' dup', so the true pair set is exactly "
    "recoverable — a dup and its source join on "
    "md5(text) = md5(src_text || ' dup'). Measures the shipped "
    "MinHash(32)+LSH(8x4) pipeline at threshold 0.8 against that "
    "truth: recall (planted pairs found), planted_share (found pairs "
    "explained by planted structure — below 1.0 because genuine "
    "non-planted near-dups like dup-of-dup chains are also found, "
    "and a correctly-working pipeline should find them), and "
    "min_truth_jaccard (the weakest planted pair's exact Jaccard — "
    "the margin to the threshold; a 10-word doc's ' dup' copy sits "
    "at 8/9 ~ 0.889). SCALE: the truth join shuffles 8-byte xxhash64 "
    "longs (string-key rule; the oracle's md5 is its own bridge "
    "— only content equality crosses engines), never full texts; the found set is the dedup_minhash_lsh "
    "scale path (band-bucket equi-joins only); the three count "
    "aggregates combine via 1-row broadcast cross joins. ORACLE: "
    "truth replayed rule-identically; the found set is the exact "
    "brute-force Jaccard pair set, which the dedup_minhash_lsh gate "
    "separately proves equal to the LSH-verified set at this SF — a "
    "mismatch HERE means the eval harness (truth join, hit join, "
    "ratio arithmetic) broke, while a recall drop would fail BOTH "
    "queries' gates.",
)
def eval_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Truth pairs: join dup -> source on a content hash so the
    # exchange carries fixed-width keys, not document bodies. xxhash64
    # longs, not md5 hex (string-key rule): the key never reaches
    # output — only content EQUALITY must match the oracle's own md5
    # bridge — and 8-byte longs shuffle/compare 10-25x cheaper than
    # 32-char strings at the sf1 decade (SCALING.md addendum).
    hp = D.content_pair_hashes(docs)  # one text scan for both hashes
    dup_side = hp.select("doc_id", F.col("kd").alias("k"))
    src_side = hp.select(
        F.col("doc_id").alias("src_id"), F.col("ks").alias("k")
    )
    truth = (
        dup_side.join(src_side, "k")
        .filter(F.col("doc_id") != F.col("src_id"))
        .select(
            F.least("doc_id", "src_id").alias("id_a"),
            F.greatest("doc_id", "src_id").alias("id_b"),
        )
        .distinct()
        # Read three times below (count, hit join, margin join);
        # tiny (~5% of docs) — materialize so the pair join runs once.
        .localCheckpoint(eager=False)
    )
    # Materialized: read twice below (pair count + hit join), and
    # Spark does not dedupe common subplans — without this the whole
    # sketch+verify pipeline executes twice per run (same contract as
    # minhash_dedup_pairs' own internal checkpoint).
    found = D.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.8
    ).localCheckpoint(eager=False)
    # Exact-Jaccard margin of every truth pair (not just the found
    # ones). Shingle sets are built ONLY for ids appearing in a truth
    # pair (a semi-join — ~2x the planted-dup count, not the corpus)
    # and materialized once for the two sides of the pair join.
    truth_ids = (
        truth.select(F.col("id_a").alias("doc_id"))
        .union(truth.select(F.col("id_b")))
        .distinct()
    )
    sets_df = (
        docs.join(truth_ids, "doc_id", "left_semi")
        .select("doc_id", D.tokens(F.col("text")).alias("_t"))
        .select("doc_id", D.shingles_of_tokens(F.col("_t"), 3).alias("s"))
        .localCheckpoint(eager=False)
    )
    tj = (
        truth.join(
            sets_df.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa")),
            "id_a",
        )
        .join(
            sets_df.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb")),
            "id_b",
        )
        .select(D.jaccard(F.col("sa"), F.col("sb")).alias("j"))
    )
    hits = truth.join(found.select("id_a", "id_b"), ["id_a", "id_b"])
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    f = found.agg(F.count(F.lit(1)).alias("n_found"))
    h = hits.agg(F.count(F.lit(1)).alias("n_hit"))
    m = tj.agg(F.round(F.min("j"), 6).alias("min_truth_jaccard"))
    return (
        t.crossJoin(F.broadcast(f))  # 1-row aggregate pairs
        .crossJoin(F.broadcast(h))
        .crossJoin(F.broadcast(m))
        .select(
            "n_truth",
            "n_found",
            "n_hit",
            "min_truth_jaccard",
            F.round(F.col("n_hit") / F.col("n_truth"), 6).alias("recall"),
            F.round(F.col("n_hit") / F.col("n_found"), 6).alias(
                "planted_share"
            ),
        )
    )


@register(
    "eval_ann_recall",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored),
ex AS (SELECT COUNT(*) AS n_truth,
              CAST(SUM(vec_id) AS BIGINT) AS exact_id_sum
       FROM r WHERE rank <= 10),
pinned(index_name, n_hit) AS (
  VALUES ('ivf', CAST(47 AS BIGINT)),
         ('lsh', CAST(44 AS BIGINT)),
         ('pq',  CAST(44 AS BIGINT)))
SELECT p.index_name, ex.n_truth, ex.exact_id_sum, p.n_hit,
       ROUND(p.n_hit * 1.0 / ex.n_truth, 6) AS recall
FROM pinned p, ex ORDER BY p.index_name
""",
    doc="ANN-index EVAL: recall@10 of each shipped approximate index "
    "(ann_lsh_bucketed's 6-bit x 8-table multiprobe LSH, ann_ivf's "
    "8-list/3-probe IVF, ann_pq_adc's m=4/k=16 PQ-ADC) against the "
    "exact brute-force top-10 for the same 5 query vectors — the "
    "eval_dedup_recall pattern applied to the ANN family: three "
    "approximate indexes are only trustworthy once their recall is "
    "measured as a value. "
    "ORACLE: the exact side (n_truth, exact_id_sum) is re-derived "
    "independently by DuckDB's own brute force; the per-index hit "
    "counts are PINNED FIXED FACTS — with deterministic seeds "
    "(hyperplanes/Lloyd init/codebooks all seed-42) recall at the "
    "gate SF (sf0.01) is a constant (lsh 44/50, ivf 47/50, pq "
    "44/50), same fixed-fact contract as dedup_minhash_lsh's oracle, "
    "so any regression in an index pipeline (bucketing, probe "
    "routing, ADC arithmetic, re-rank) flips this gate. The pins "
    "hold at sf0.01 only — at other SFs the Spark side still "
    "reports true recall but the oracle twin is not transferable. "
    "SCALE: one brute pass (the salted two-phase top-k), three "
    "bucketed index probes, hit sets join on (query_id, vec_id); "
    "the three 1-row hit aggregates pair with the 1-row exact "
    "anchor via broadcast cross joins.",
)
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def _top10(scored: DataFrame) -> DataFrame:
        # k=11 upstream so dropping self-matches leaves 10 true rows.
        return (
            scored.filter(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                "_r",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.desc("cos"), F.asc("vec_id")
                    )
                ),
            )
            .filter(F.col("_r") <= 10)
            .select("query_id", "vec_id")
        )

    # Read four times below (anchor agg + three hit joins); Spark
    # does not dedupe common subplans, so materialize the exact set
    # once (50 rows) — same contract as eval_dedup_recall's truth.
    exact = _top10(
        S.brute_force_topk(emb, q, k=11, salt_buckets=32)
    ).localCheckpoint(eager=False)
    indexes = [
        ("ivf", S.ivf_topk(emb, q, k=11, n_lists=8, n_probe=3)),
        ("lsh", S.lsh_topk(emb, q, k=11, n_planes=6, n_tables=8, multiprobe=True)),
        ("pq", S.pq_topk(emb, q, k=11, m=4, codebook_k=16, refine=150)),
    ]
    hit_rows = None
    for name, scored in indexes:
        h = (
            exact.join(_top10(scored), ["query_id", "vec_id"])
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .select(F.lit(name).alias("index_name"), "n_hit")
        )
        hit_rows = h if hit_rows is None else hit_rows.unionByName(h)
    anchor = exact.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum("vec_id").alias("exact_id_sum"),
    )
    return (
        hit_rows.crossJoin(F.broadcast(anchor))  # 3 rows x 1-row anchor
        .select(
            "index_name",
            "n_truth",
            "exact_id_sum",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_truth"), 6).alias("recall"),
        )
        .orderBy("index_name")
    )


@register(
    "dedup_simhash",
    oracle="""
SELECT COUNT(*) AS n_docs,
       TRUE AS banded_matches_bruteforce,
       TRUE AS formulations_agree
FROM documents
""",
    doc="SimHash near-dup candidates, Hamming <= 3, via 4x16-bit "
    "chunk banding (pigeonhole guarantees recall). Fingerprinting is "
    "explode + partial-agg bit voting — zero shuffle beyond the "
    "per-doc partial aggregation until the band join. Bound-check "
    "oracle: in-Spark the banded pair set is compared against an "
    "O(cap^2) brute-force Hamming join (must be EQUAL — banding is "
    "exact by pigeonhole, not probabilistic) over a DETERMINISTIC "
    "hash-selected verification subset capped at ~1500 docs, so the "
    "harness cost stays constant while the corpus grows (the "
    "full-corpus O(n^2) check was 12.5M pairs at sf0.1 and would be "
    "1.25B at sf1 — banding completeness is a per-pair algebraic "
    "property, so a fixed-size subset checks it just as hard). The "
    "BANDED pair generation itself still runs over the FULL corpus "
    "— that is the shipped scale path and what the bench measures. "
    "The explode-based fingerprints are additionally compared "
    "against the independent per-row HOF formulation (simhash64). "
    "The oracle re-derives the n_docs anchor and emits literal TRUE "
    "verdicts.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Fingerprint ONCE and checkpoint (one long per doc): the banded
    # operator, the brute-force reference, and the formulation
    # cross-check all read the same materialized fingerprints —
    # fingerprinting dominates this query's cost, and the
    # banded-vs-brute comparison is specifically a check of the
    # BANDING (pigeonhole completeness), not of the fingerprint
    # arithmetic, which the formulation cross-check covers below.
    fp = D.simhash_fingerprints(docs, "doc_id", "text").localCheckpoint(
        eager=True
    )
    banded = D.simhash_candidate_pairs(docs, "doc_id", "text", max_hamming=3, fp=fp)

    # Verification subset: deterministic xxhash coin over the CACHED
    # fingerprint table. The subset rate depends on the corpus size,
    # but the count stays IN the plan as a broadcast 1-row aggregate
    # (a driver-side fp.count() here would run a Spark job at
    # query-BUILD time, so every registry construction — plan lint,
    # scaling tool, test fixtures — would pay it; the builder
    # convention is lazy). coin * max(n, cap) < 1e6 * cap is the integer-exact
    # lazy form of coin < 1e6 * cap / n (with the n <= cap branch
    # admitting everything).
    _cap = 1500
    n_fp = fp.agg(F.count(F.lit(1)).alias("_nfp"))

    def _in_subset(idc):
        return (
            F.pmod(F.xxhash64(idc), F.lit(1_000_000))
            * F.greatest(F.col("_nfp"), F.lit(_cap))
        ) < F.lit(1_000_000) * F.lit(_cap)

    vfp = fp.crossJoin(F.broadcast(n_fp)).filter(
        _in_subset(F.col("id"))
    ).drop("_nfp")

    a = vfp.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = vfp.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    # Set equality in both directions RESTRICTED to the verification
    # subset: full outer join on the full tuple; any one-sided row is
    # a miss (banding dropped a true pair) or a phantom (banding
    # emitted a wrong pair/distance). The full-corpus banded pairs
    # narrow to subset-internal pairs by re-evaluating the same
    # deterministic coin on both ids — a scan-side filter, no join.
    banded_sub = banded.crossJoin(F.broadcast(n_fp)).filter(
        _in_subset(F.col("id_a")) & _in_subset(F.col("id_b"))
    ).drop("_nfp")
    pair_diff = (
        banded_sub.withColumn("_banded", F.lit(1))
        .join(
            brute.withColumn("_brute", F.lit(1)),
            ["id_a", "id_b", "hamming"],
            "full",
        )
        .agg(
            F.sum(
                F.when(
                    F.col("_banded").isNull() | F.col("_brute").isNull(), 1
                ).otherwise(0)
            ).alias("n_mismatch")
        )
    )
    # Cross-check the two independent fingerprint formulations
    # (per-row zip_with/aggregate fold vs explode + integer aggs) on a
    # deterministic ~6% systematic sample: the per-row HOF fold is the
    # measured-slow path, and a formulation divergence is a systematic
    # arithmetic bug, not a per-document fluke — any sampled doc would
    # expose it.
    sampled = docs.filter(F.col("doc_id") % 17 == 0)
    fp_row = sampled.select(
        F.col("doc_id").alias("id"), D.simhash64(F.col("text")).alias("fp2")
    )
    fp_diff = fp.join(fp_row, "id").agg(
        F.sum(F.when(F.col("fp") != F.col("fp2"), 1).otherwise(0)).alias(
            "n_fp_mismatch"
        )
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n_docs.crossJoin(F.broadcast(pair_diff))
        .crossJoin(F.broadcast(fp_diff))
        .select(
            "n_docs",
            (F.coalesce(F.col("n_mismatch"), F.lit(0)) == 0).alias(
                "banded_matches_bruteforce"
            ),
            (F.coalesce(F.col("n_fp_mismatch"), F.lit(0)) == 0).alias(
                "formulations_agree"
            ),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= 0.35
""",
    doc="Embedding near-dup pairs: cosine >= 0.35 over all pairs. "
    "Correctness baseline; at 100 TB block by LSH bucket first "
    "(ann_lsh_bucketed) so the pair space is per-bucket.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = S.cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.35)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


@register(
    "dedup_semdedup",
    oracle=_semdedup_oracle_sql(bits=3),
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, public "
    "method): partition the embedding space into clusters, then find "
    "near-duplicate pairs ONLY within a cluster — the pair space "
    "shrinks from O(n^2) to sum of per-cluster squares, the whole "
    "point at 100 TB. Cluster proxy here is a deterministic 3-bit "
    "signed-random-projection bucket (sign of dims 0..2 — fixed axes "
    "instead of learned k-means centroids precisely so BOTH engines "
    "replay it bit-identically; swap in kmeans_assign for learned "
    "clusters, same downstream shape). Within-bucket cosine>=0.35 "
    "pairs form an edge list; connected components pick the min-id "
    "canonical per group; every other member is removed. Components "
    "cannot span buckets (pairs are within-bucket by construction), "
    "so CC needs NO iterative fixpoint: one shuffle on bucket and a "
    "union-find per bucket (grouped_connected_components) replaces "
    "diameter-many join rounds. FULLY value-checked (the "
    "recursive-CTE transitive-closure oracle tier, like "
    "dedup_cluster_canonical): DuckDB replays the fixpoint via a "
    "RECURSIVE CTE enumerating (node, reachable-id) pairs and taking "
    "MIN per node — the min-reachable-id label is plan-independent, "
    "so the Spark fixpoint and the recursive SQL closure must agree "
    "exactly. The oracle replays the SAME normalize-then-dot formula "
    "(not list_cosine_similarity's dot/(|a||b|)): the two algebraic "
    "forms round differently in IEEE, and one ulp-flipped edge at the "
    "0.35 boundary would relabel a whole component. "
    "Scale: vectors are normalized ONCE scan-side so the quadratic "
    "pair stage folds a single dot product; the bucket self-join is "
    "an equi-join (shuffle on bucket); one grouped CC pass whose "
    "per-task memory is bounded by per-bucket edge density. The "
    "cluster COUNT is the load-bearing knob: per-bucket pair work is "
    "quadratic, so production scales clusters with corpus size "
    "(constant expected cluster size -> linear total pair work — more "
    "SRP bits or kmeans k ~ n/size). The knob is the ``bits`` "
    "parameter of operators/semdedup.semdedup; "
    "this query pins bits=3 (8 buckets) so the DuckDB oracle replays "
    "identical buckets — which is why its scaling-study ratio tracks "
    "pair growth, not row growth. tests/test_semdedup_knob.py "
    "value-checks a second knob setting and the nested-refinement "
    "property; SCALING.md records the measured pair-space reduction.",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.semdedup import semdedup
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    return semdedup(emb, bits=3, threshold=0.35)


# --------------------------------------------------------------------------
# Similarity search (ANN)
# --------------------------------------------------------------------------
@register(
    "ann_cosine_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, vec_id, ROUND(cos, 6) AS cos, rank FROM r WHERE rank <= 10
""",
    doc="Brute-force cosine top-10 for 5 query vectors: "
    "broadcast(queries) x vectors scan, two-phase top-k (salted "
    "partial then final) so no reducer sees the full candidate set.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # k=11 in the salted partial phase so dropping the self-match
    # afterwards still leaves >= 10 true neighbors; final rank is
    # recomputed after self-exclusion.
    topk = (
        S.brute_force_topk(emb, q, k=11, salt_buckets=32)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rank") <= 10)
    )
    return topk.select(
        "query_id", "vec_id", F.round("cos", 6).alias("cos"), "rank"
    )


@register(
    "ann_lsh_bucketed",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
SELECT query_id,
       CAST(SUM(vec_id) AS BIGINT) AS exact_top10_id_sum,
       ROUND(MIN(cos), 6) AS exact_min_cos,
       TRUE AS recall_ok
FROM r WHERE rank <= 10 GROUP BY query_id ORDER BY query_id
""",
    doc="Hyperplane-LSH ANN: 6 sign-bits -> 64 buckets, 8 tables, "
    "Hamming-1 multiprobe; candidates shrink ~7/64 vs brute force "
    "while the probe side stays a broadcast equi-join. The 100 TB "
    "scale path (IVF-style: bucket = inverted-list key). Bound-check "
    "oracle: Spark computes BOTH the exact brute-force top-10 (the "
    "two-phase salted top-k) and the LSH top-10, emits per-query "
    "anchors from the exact set (id-sum and min cosine — which DuckDB "
    "re-derives with its own brute force, independently verifying the "
    "reference) plus a recall@10 >= 0.5 verdict for the LSH set "
    "(deterministic hyperplanes, same bound as "
    "tests/test_similarity.py::test_lsh_topk_recall).",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # k=11 then drop self-matches so both sets hold 10 true neighbors.
    exact = (
        S.brute_force_topk(emb, q, k=11, salt_buckets=32)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select("query_id", "vec_id", "cos")
    )
    approx = (
        S.lsh_topk(emb, q, k=11, n_planes=6, n_tables=8, multiprobe=True)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    anchors = exact.groupBy("query_id").agg(
        F.sum("vec_id").alias("exact_top10_id_sum"),
        F.round(F.min("cos"), 6).alias("exact_min_cos"),
    )
    return (
        anchors.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "exact_top10_id_sum",
            "exact_min_cos",
            (F.coalesce(F.col("_n_hit"), F.lit(0)) >= 5).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


@register(
    "ann_ivf",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
SELECT query_id,
       CAST(SUM(vec_id) AS BIGINT) AS exact_top10_id_sum,
       ROUND(MIN(cos), 6) AS exact_min_cos,
       TRUE AS recall_ok
FROM r WHERE rank <= 10 GROUP BY query_id ORDER BY query_id
""",
    doc="IVF ANN: 8 coarse k-means lists (deterministic Lloyd init), "
    "3-list probes, exact cosine re-rank inside probed lists — the "
    "data-adaptive counterpart to ann_lsh_bucketed; only ~3/8 of the "
    "corpus is scored per query and the probe side is a broadcast "
    "equi-join on the list id. Bound-check oracle (same scheme as "
    "ann_lsh_bucketed): Spark emits the exact brute-force top-10 "
    "anchors (DuckDB independently re-derives them) plus a "
    "recall@10 >= 0.7 verdict for the IVF set.",
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # k=11 then drop self-matches so both sets hold 10 true neighbors.
    exact = (
        S.brute_force_topk(emb, q, k=11, salt_buckets=32)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select("query_id", "vec_id", "cos")
    )
    approx = (
        S.ivf_topk(emb, q, k=11, n_lists=8, n_probe=3)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    anchors = exact.groupBy("query_id").agg(
        F.sum("vec_id").alias("exact_top10_id_sum"),
        F.round(F.min("cos"), 6).alias("exact_min_cos"),
    )
    return (
        anchors.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "exact_top10_id_sum",
            "exact_min_cos",
            (F.coalesce(F.col("_n_hit"), F.lit(0)) >= 7).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@register(
    "text_tokens",
    oracle=f"""
SELECT doc_id,
       len({_TOKS_SQL}) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         AS n_bpe_tokens,
       length(text) AS n_chars_actual,
       len(list_distinct({_TOKS_SQL})) AS n_distinct_tokens
FROM documents
""",
    doc="Token counting: whitespace tokens + BPE-ish regex tokens "
    "(letter runs / digit runs / punct). Pure projection — pipelines "
    "inside the parquet scan stage, no shuffle.",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("n_ws_tokens"),
        T.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.size(D.token_set(F.col("text"))).alias("n_distinct_tokens"),
    )


def _marker_hits_sql(markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKS_SQL}, x -> list_contains([{lst}], x)))"


_EN = _marker_hits_sql(T.LANG_MARKERS["en"])
_DE = _marker_hits_sql(T.LANG_MARKERS["de"])
_ES = _marker_hits_sql(T.LANG_MARKERS["es"])
_FR = _marker_hits_sql(T.LANG_MARKERS["fr"])
_HAN = r"length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))"


@register(
    "text_langid",
    oracle=f"""
WITH s AS (SELECT doc_id, text,
  {_EN} AS en_hits, {_DE} AS de_hits, {_ES} AS es_hits, {_FR} AS fr_hits,
  {_HAN} AS han_chars
FROM documents)
SELECT doc_id, en_hits, de_hits, es_hits, fr_hits, han_chars,
  CASE WHEN text IS NULL THEN 'und'
       WHEN han_chars > 0 THEN 'zh'
       WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
       WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits
         THEN 'en'
       WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
       WHEN es_hits >= fr_hits THEN 'es'
       ELSE 'fr' END AS lang_guess
FROM s
""",
    doc="Language ID: marker-word argmax + CJK-script short-circuit. "
    "Per-row regexp/array arithmetic only; the heuristic is "
    "deliberately SQL-replicable so the oracle checks it exactly.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.marker_hits(t, T.LANG_MARKERS["en"]).alias("en_hits"),
        T.marker_hits(t, T.LANG_MARKERS["de"]).alias("de_hits"),
        T.marker_hits(t, T.LANG_MARKERS["es"]).alias("es_hits"),
        T.marker_hits(t, T.LANG_MARKERS["fr"]).alias("fr_hits"),
        T.han_char_count(t).alias("han_chars"),
        T.lang_id(t).alias("lang_guess"),
    )


_SW = _marker_hits_sql(T.STOPWORDS_EN)


@register(
    "text_quality",
    oracle=f"""
WITH s AS (SELECT doc_id,
  len({_TOKS_SQL}) AS n_tok,
  (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
    / nullif(length(text), 0) AS punct_ratio,
  length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
    / nullif(length(text), 0) AS alpha_ratio,
  {_SW}::DOUBLE / nullif(len({_TOKS_SQL}), 0) AS stopword_ratio
FROM documents)
SELECT doc_id, n_tok, punct_ratio, alpha_ratio, stopword_ratio,
  0.35 * (CASE WHEN n_tok BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END)
  + 0.25 * alpha_ratio
  + 0.25 * least(stopword_ratio * 5, 1.0)
  + 0.15 * (1.0 - least(punct_ratio * 4, 1.0)) AS quality
FROM s
""",
    doc="Quality scoring (Gopher-rule flavored): length window, alpha "
    "ratio, stopword ratio, punctuation ratio -> composite [0,1]. "
    "Ratios left unrounded: both engines divide identical integers, "
    "so doubles match bit-for-bit.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # Four regex passes per row are CPU-bound — spread a narrow
    # (single-file) input across cores first.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.ws_token_count(t).alias("n_tok"),
        T.punct_ratio(t).alias("punct_ratio"),
        T.alpha_ratio(t).alias("alpha_ratio"),
        T.stopword_ratio(t).alias("stopword_ratio"),
        T.quality_score(t).alias("quality"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
SELECT doc_id,
       md5({_NORM_SQL}) AS content_fp,
       list_aggregate([md5(array_to_string(t[i:i+4], ' '))
                       for i in range(1, greatest(len(t)-4, 0)+1)], 'min')
         AS kgram_min_fp
FROM documents JOIN toks USING (doc_id)
""",
    doc="Document fingerprinting: md5 content hash + winnowing-style "
    "min-hash over word 5-grams (robust to local edits). Per-row "
    "projection; at 100 TB this is the partition/bucket key for "
    "incremental dedup.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # md5 per word-5-gram is CPU-bound — spread a narrow input first.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.md5_fingerprint(F.col("text")).alias("content_fp"),
        D.tokens(F.col("text")).alias("_toks"),
    ).select(
        "doc_id",
        "content_fp",
        T.kgram_min_from_tokens(F.col("_toks"), 5).alias("kgram_min_fp"),
    )


# --------------------------------------------------------------------------
# Multimodal (binary payload) pipeline
# --------------------------------------------------------------------------
@register(
    "multimodal_decode_stats",
    oracle="""
SELECT doc_id AS media_id,
       length(text)::BIGINT AS n_bytes,
       list_sum([ord(c) for c in string_split(text, '')])::BIGINT AS byte_sum
FROM documents
""",
    doc="Multimodal decode stage driven through mapInPandas (Arrow "
    "batches): documents.text bytes as an opaque binary payload, "
    "decoded to byte statistics. The oracle recomputes the byte sums "
    "in SQL (text is pure ASCII, so chars == bytes) — this checks the "
    "whole Pandas-UDF plumbing end-to-end, not just the plan shape.",
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    decoded = M.decode_image(M.documents_as_media(docs))
    return decoded.select("media_id", "n_bytes", "byte_sum")


@register(
    "multimodal_png_roundtrip",
    oracle="""
WITH g AS (SELECT doc_id AS media_id,
                  8 + doc_id % 9 AS width,
                  8 + doc_id % 7 AS height
           FROM documents),
px AS (SELECT media_id, width, height,
              [ (media_id * 31 + i) % 256
                for i in range(0, width * height) ] AS p
       FROM g)
SELECT media_id, 'png' AS format, width, height,
       CAST(width * height AS BIGINT) AS n_pixels,
       CAST(list_sum(p) AS BIGINT) AS pixel_sum,
       CAST(list_aggregate(p, 'min') AS BIGINT) AS pixel_min,
       CAST(list_aggregate(p, 'max') AS BIGINT) AS pixel_max
FROM px ORDER BY media_id
""",
    doc="REAL image codec round-trip through the multimodal pipeline: "
    "deterministic per-doc grayscale pixels (a formula DuckDB can "
    "replay) -> encode_png_gray (real PNG: IHDR/IDAT/IEND, cycling "
    "None/Sub/Up scanline filters, zlib deflate) in one mapInPandas "
    "stage -> decode_media (CRC-verified chunk parse, inflate, full "
    "un-filtering) in a second -> pixel statistics. The oracle "
    "re-derives width/height/sum/min/max straight from the generative "
    "formula, so a green row proves the DECODED PIXEL CONTENT is "
    "byte-exact — any encoder/decoder/filter bug breaks the sum. "
    "Payloads never leave their task (no shuffle); at 100 TB the "
    "decode stage runs after filters so only surviving rows decode.",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gen = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(8) + F.col("doc_id") % 9).cast("int").alias("width"),
        (F.lit(8) + F.col("doc_id") % 7).cast("int").alias("height"),
    ).withColumn(
        "pixels",
        F.transform(
            F.sequence(
                F.lit(0), (F.col("width") * F.col("height") - 1).cast("int")
            ),
            lambda i: ((F.col("media_id") * 31 + i) % 256).cast("int"),
        ),
    )
    decoded = M.decode_media(M.png_encode_pixels(gen))
    return decoded.select(
        "media_id",
        "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_values").alias("n_pixels"),
        F.col("value_sum").alias("pixel_sum"),
        F.col("value_min").alias("pixel_min"),
        F.col("value_max").alias("pixel_max"),
    ).orderBy("media_id")


@register(
    "multimodal_jpeg_roundtrip",
    oracle="""
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 9 AS BIGINT) AS width,
       CAST(8 + doc_id % 7 AS BIGINT) AS height,
       CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS BIGINT) AS n_pixels,
       TRUE AS within_tol
FROM documents ORDER BY media_id
""",
    doc="REAL lossy image codec through the multimodal pipeline: "
    "deterministic per-doc smooth gradients (pixel = 20 + id%40 + "
    "2*col + 3*row, values <= 128 so no wrap edge) -> encode_jpeg_gray "
    "(baseline JFIF: quality-scaled Annex K quantization, FDCT, "
    "zigzag, standard-table Huffman with byte stuffing) -> "
    "decode_jpeg_gray (generic DQT/DHT/SOF0 parse, Huffman decode, "
    "dequantize, IDCT) -> per-image max abs pixel error, all inside "
    "ONE mapInPandas stage that runs the codec once per Arrow batch "
    "over same-shape image stacks (payloads never shuffle). JPEG "
    "is lossy, so unlike multimodal_png_roundtrip the gate is an "
    "ERROR BOUND: within_tol pins max_abs_err <= 4, a fixed "
    "deterministic fact (the exhaustive sweep of all 9*7*40 "
    "(width, height, seed) classes the formula can produce measured "
    "worst-case 2 at quality 90). The oracle "
    "re-derives dims and pixel counts from the formula and pins the "
    "bound TRUE; any codec regression (quantizer, Huffman table, "
    "filter, stuffing) blows the bound or the dims and flips the "
    "hash. Cites reference gap: the reference has no media codecs — "
    "this is driver-mandated extension surface "
    "(operators/multimodal.py).",
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # Pixels are generated task-side, inside the codec's mapInPandas:
    # only (media_id, width, height) cross the Arrow boundary, never a
    # per-pixel array. No terminal orderBy: the oracle digest is
    # order-insensitive, and a range-partitioned sort would run the
    # whole codec subtree a second time to sample its bounds.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gen = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(8) + F.col("doc_id") % 9).cast("int").alias("width"),
        (F.lit(8) + F.col("doc_id") % 7).cast("int").alias("height"),
    )
    checked = M.jpeg_gradient_roundtrip(gen, quality=90)
    return checked.select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        (F.col("max_abs_err") <= 4).alias("within_tol"),
    )


@register(
    "multimodal_jpeg_progressive_roundtrip",
    oracle="""
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 9 AS BIGINT) AS width,
       CAST(8 + doc_id % 7 AS BIGINT) AS height,
       CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS BIGINT) AS n_pixels,
       TRUE AS within_tol,
       TRUE AS matches_sequential
FROM documents ORDER BY media_id
""",
    doc="REAL PROGRESSIVE (SOF2) JPEG codec through the multimodal "
    "pipeline. Encoder: a 5-scan script exercising the FULL "
    "progressive feature set (ITU T.81 G.1.2) — DC first scan at "
    "successive-approximation precision Al=1, DC refinement bit "
    "scan, two AC spectral-selection bands (1-5, 6-63) at Al=1 with "
    "EOB-run coding over a fixed flat-8 Huffman table (the Annex K "
    "baseline table has no code space for EOBn symbols — "
    "operators/multimodal._prog_ac_table documents the Kraft "
    "arithmetic), and one AC refinement scan emitting "
    "newly-significant coefficients plus positional correction bits. "
    "Decoder: the generic multi-scan SOF2 core (interleaved or "
    "single-component DC scans, per-component AC scans, EOBn/ZRL/"
    "correction bits, table redefinition, restarts) dispatched from "
    "the same marker parse as baseline. The gate is TWO pins: "
    "within_tol (max_abs_err <= 4, the gray baseline bound — same "
    "gradient formula as multimodal_jpeg_roundtrip) and "
    "matches_sequential — progressive-decoded pixels must be "
    "BYTE-IDENTICAL to the sequential baseline decode at the same "
    "quality, a deterministic algebraic fact (each first scan drops "
    "exactly the one bit its refinement restores, so coefficient "
    "arrays coincide), verified exhaustively over all 2520 "
    "(width, height, seed) classes plus 300 adversarial "
    "noise/flat/checker images at qualities 5-100. All four codec "
    "passes run in ONE mapInPandas stage, once per Arrow batch; "
    "payloads never shuffle. Cites reference gap: the reference has "
    "no media codecs — driver-mandated extension surface.",
)
def multimodal_jpeg_progressive_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # Pixels generated inside the codec's mapInPandas and no terminal
    # orderBy, for the reasons given in multimodal_jpeg_roundtrip.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gen = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(8) + F.col("doc_id") % 9).cast("int").alias("width"),
        (F.lit(8) + F.col("doc_id") % 7).cast("int").alias("height"),
    )
    checked = M.jpeg_gradient_roundtrip(gen, quality=90, progressive=True)
    return checked.select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        (F.col("max_abs_err") <= 4).alias("within_tol"),
        "matches_sequential",
    )


@register(
    "multimodal_jpeg_color_roundtrip",
    oracle="""
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 9 AS BIGINT) AS width,
       CAST(8 + doc_id % 7 AS BIGINT) AS height,
       CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS BIGINT) AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN '444' ELSE '420' END AS subsampling,
       TRUE AS within_tol
FROM documents ORDER BY media_id
""",
    doc="REAL COLOR JPEG codec through the multimodal pipeline, in "
    "BOTH sampling modes: deterministic per-doc smooth RGB "
    "gradients (R = 20 + id%40 + 2x + 3y, G = 10 + (id%40)//2 + 3x "
    "+ 2y, B = 40 + id%20 + x + 4y; all <= 129, no wrap edges) -> "
    "encode_jpeg_rgb (BT.601 RGB->YCbCr, Annex K luminance AND "
    "chrominance tables, per-component DC predictors) alternating "
    "by doc parity between 4:4:4 (one block per component per MCU) "
    "and 4:2:0 (chroma 2x2 box-averaged, 4 Y + Cb + Cr per 16x16 "
    "MCU — the libjpeg default for real-world color files) -> "
    "decode_jpeg_rgb (generic sampled multi-component parse, "
    "replicate-upsample, YCbCr->RGB) -> per-image max abs channel "
    "error, all inside ONE mapInPandas stage that runs the codec "
    "once per Arrow batch (payloads never shuffle). within_tol pins "
    "max_abs_err <= 4 for 4:4:4 and <= 6 "
    "for 4:2:0 — fixed deterministic facts: the exhaustive sweep of "
    "all lcm(9,7,40) = 2520 (width, height, values) classes the "
    "formula can produce measured worst-case 3 / 5 at quality 90 "
    "(tools/jpeg_color_sweep.py). The oracle re-derives dims, "
    "counts, and the parity-assigned mode and pins the bound TRUE; "
    "a regression in either color table, the chroma Huffman pair, "
    "either MCU interleave, the subsample/upsample pair, or the "
    "YCbCr round-trip blows its half's bound and flips the hash. "
    "Cites reference gap: the reference has no media codecs — "
    "driver-mandated extension surface (operators/multimodal.py).",
)
def multimodal_jpeg_color_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # RGB pixels generated inside the codec's mapInPandas and no
    # terminal orderBy, for the reasons given in
    # multimodal_jpeg_roundtrip.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gen = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(8) + F.col("doc_id") % 9).cast("int").alias("width"),
        (F.lit(8) + F.col("doc_id") % 7).cast("int").alias("height"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("444"))
        .otherwise(F.lit("420"))
        .alias("subsampling"),
    )
    checked = M.jpeg_gradient_color_roundtrip(gen, quality=90)
    sub = F.when(F.col("media_id") % 2 == 0, F.lit("444")).otherwise(
        F.lit("420")
    )
    tol = F.when(sub == "444", F.lit(4)).otherwise(F.lit(6))
    return checked.select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        sub.alias("subsampling"),
        (F.col("max_abs_err") <= tol).alias("within_tol"),
    )


@register(
    "embedding_centroids",
    oracle="""
SELECT label, d.dim AS dim, ROUND(AVG(embedding[d.dim]), 6) AS centroid
FROM embeddings, (SELECT unnest(range(1, 65)) AS dim) d
GROUP BY label, d.dim ORDER BY label, dim
""",
    doc="Per-label centroid vectors via posexplode + groupBy-avg: the "
    "k-means-update / class-prototype step. Long form (label, dim, "
    "value) scales to any dimension — the shuffle key is (label, dim) "
    "so no reducer sees a whole vector set; map-side partial avg "
    "means the shuffle carries one partial sum per (label,dim) per "
    "partition.",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        exploded.groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"))
        .orderBy("label", "dim")
    )


@register(
    "text_top_ngrams",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_shingles_sql(3)}) AS gram FROM toks)
SELECT gram, COUNT(*) AS n_docs
FROM sh GROUP BY gram
ORDER BY n_docs DESC, gram LIMIT 20
""",
    doc="Corpus-wide top-20 trigram document frequencies: materialized "
    "tokens -> distinct shingles per doc -> explode -> count -> "
    "deterministic top-k (TakeOrderedAndProject; no global sort). "
    "The vocabulary-statistics building block for contamination "
    "checks and boilerplate detection.",
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", D.tokens(F.col("text")).alias("_t"))
    grams = tok.select(
        F.explode(D.shingles_of_tokens(F.col("_t"), 3)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), "gram")
        .limit(20)
    )


@register(
    "dedup_clusters",
    oracle="""
SELECT COUNT(*) AS n_docs,
       TRUE AS edges_within_components,
       TRUE AS components_min_labeled
FROM documents
""",
    doc="Near-dup cluster assignment: connected components (iterative "
    "min-label propagation, one shuffle per round, localCheckpoint "
    "per round to truncate lineage) over the MinHash-LSH pair graph. "
    "component = min doc_id reachable = the kept representative. "
    "Bound-check oracle: in-Spark, (a) every edge's endpoints carry "
    "the same component id — a failed fixpoint (under-merge) breaks "
    "this; (b) every component id equals the min node labeled with it "
    "— since labels only propagate along edges, (a)+(b) pin the "
    "labeling to exactly min-reachable-id. The oracle re-derives the "
    "n_docs anchor and emits literal TRUE verdicts; union-find parity "
    "is additionally pytest-checked (tests/test_graph.py).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    edges = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    cc = connected_components(edges, "id_a", "id_b")

    ca = cc.select(F.col("node").alias("id_a"), F.col("component").alias("comp_a"))
    cb = cc.select(F.col("node").alias("id_b"), F.col("component").alias("comp_b"))
    edge_check = (
        edges.join(ca, "id_a")
        .join(cb, "id_b")
        .agg(
            F.sum(
                F.when(F.col("comp_a") != F.col("comp_b"), 1).otherwise(0)
            ).alias("n_split_edges"),
            F.count(F.lit(1)).alias("n_edges_labeled"),
            F.sum(
                F.when(F.col("comp_a").isNull() | F.col("comp_b").isNull(), 1)
                .otherwise(0)
            ).alias("n_unlabeled"),
        )
    )
    rep_check = cc.groupBy("component").agg(
        F.min("node").alias("min_node")
    ).agg(
        F.sum(
            F.when(F.col("component") != F.col("min_node"), 1).otherwise(0)
        ).alias("n_bad_reps")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_docs.crossJoin(F.broadcast(edge_check))
        .crossJoin(F.broadcast(rep_check))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_docs",
            (
                (F.coalesce(F.col("n_split_edges"), F.lit(0)) == 0)
                & (F.coalesce(F.col("n_unlabeled"), F.lit(0)) == 0)
                & (F.col("n_edges_labeled") == F.col("n_edges"))
            ).alias("edges_within_components"),
            (F.coalesce(F.col("n_bad_reps"), F.lit(0)) == 0).alias(
                "components_min_labeled"
            ),
        )
    )


@register(
    "embedding_kmeans",
    oracle="""
SELECT COUNT(*) AS n_vectors,
       TRUE AS inertia_monotone,
       TRUE AS assignment_is_argmin,
       TRUE AS sizes_sum_to_n
FROM embeddings
""",
    doc="Deterministic k-means (k=8, Lloyd iterations): centroids are "
    "the only driver-side state (k x dim floats); assignment is a "
    "broadcast argmin projection (zero shuffle of the vectors) and "
    "the update is one (cluster, dim)-keyed partial-agg groupBy per "
    "round. First-k-by-id init keeps runs reproducible. Bound-check "
    "oracle: (a) the per-iteration objective (total min squared "
    "distance) must be non-increasing — Lloyd's convergence guarantee, "
    "violated by any broken assignment or update step; (b) the final "
    "assignment is re-derived through an INDEPENDENT long-form plan "
    "(posexplode + join against a (cluster,dim,val) centroid table + "
    "groupBy sum) and each vector's assigned distance must equal the "
    "re-derived minimum within float tolerance; (c) cluster sizes sum "
    "to n. The oracle re-derives the n_vectors anchor and emits "
    "literal TRUE verdicts.",
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids, history = kmeans_fit(emb, k=8, max_iter=5)
    assigned = assigned.localCheckpoint(eager=False)

    # (a) Lloyd monotonicity of the collected objective history.
    monotone = all(
        history[i + 1] <= history[i] * (1 + 1e-9) + 1e-9
        for i in range(len(history) - 1)
    )

    # (b) Independent argmin re-derivation: long-form squared distance
    # via explode + equi-join + groupBy, a completely different plan
    # (and summation order) than the zip_with/aggregate fold inside
    # kmeans — agreement within tolerance checks the arithmetic, not
    # the plan. Absolute tolerance: embedding values are O(1) over 64
    # dims, so d2 is O(10) and 1e-6 is ~9 significant digits.
    cent_df = spark.createDataFrame(
        [
            (ci, d, float(v))
            for ci, cent in enumerate(centroids)
            for d, v in enumerate(cent)
        ],
        "cluster int, dim int, cval double",
    )
    d2 = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "val"))
        .join(F.broadcast(cent_df), "dim")
        .groupBy("vec_id", "cluster")
        .agg(
            F.sum(
                (F.col("val").cast("double") - F.col("cval"))
                * (F.col("val").cast("double") - F.col("cval"))
            ).alias("d2")
        )
    )
    min_d2 = d2.groupBy("vec_id").agg(F.min("d2").alias("min_d2"))
    argmin_check = (
        assigned.join(d2, ["vec_id", "cluster"])
        .join(min_d2, "vec_id")
        .agg(
            F.sum(
                F.when(F.col("d2") > F.col("min_d2") + 1e-6, 1).otherwise(0)
            ).alias("n_not_argmin"),
            F.count(F.lit(1)).alias("n_assigned"),
        )
    )
    n_vec = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        n_vec.crossJoin(F.broadcast(argmin_check)).select(
            "n_vectors",
            F.lit(bool(monotone)).alias("inertia_monotone"),
            (F.coalesce(F.col("n_not_argmin"), F.lit(0)) == 0).alias(
                "assignment_is_argmin"
            ),
            (F.col("n_assigned") == F.col("n_vectors")).alias("sizes_sum_to_n"),
        )
    )


@register(
    "text_repetition",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
g AS (SELECT doc_id,
             [array_to_string(t[i:i+2], ' ')
              for i in range(1, greatest(len(t)-2, 0)+1)] AS grams,
             greatest(len(t)-2, 0) AS n_trigrams
      FROM toks)
SELECT doc_id,
       CAST(n_trigrams AS BIGINT) AS n_trigrams,
       CAST(CASE WHEN n_trigrams > 0 THEN len(list_distinct(grams))
                 ELSE 0 END AS BIGINT) AS n_distinct_trigrams,
       CASE WHEN n_trigrams > 0
            THEN 1.0 - len(list_distinct(grams))::DOUBLE / n_trigrams
            ELSE 0.0 END AS dup_trigram_frac
FROM g
""",
    doc="Within-document repetition (Gopher rule): fraction of word "
    "trigram occurrences that repeat an earlier occurrence — "
    "boilerplate and degenerate generations score high and get "
    "filtered before training. Pure per-row array arithmetic "
    "(materialized token column per the HOF contract), pipelines into "
    "the scan, no shuffle. Unrounded ratio: both engines divide "
    "identical integers.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", D.tokens(F.col("text")).alias("_t"))
    total = F.greatest(F.size(F.col("_t")) - 2, F.lit(0))
    return tok.select(
        "doc_id",
        total.cast("long").alias("n_trigrams"),
        F.when(total >= 1, F.size(D.shingles_of_tokens(F.col("_t"), 3)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_distinct_trigrams"),
        T.duplicate_ngram_fraction(F.col("_t"), 3).alias("dup_trigram_frac"),
    )


_PII_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{ipv4}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{phone}')) AS BIGINT) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
            '{email}', '[PII]', 'g'),
            '{ipv4}', '[PII]', 'g'),
            '{phone}', '[PII]', 'g')) AS BIGINT) AS scrubbed_len
FROM documents
"""


@register(
    "text_pii_scan",
    oracle=_PII_ORACLE.replace("{email}", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    .replace("{ipv4}", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")
    .replace("{phone}", "\\+?\\d{3}[- .]\\d{3}[- .]\\d{4}\\b"),
    doc="PII scan + scrub: count emails / IPv4s / phone-shaped numbers "
    "per document and report the redacted length. Patterns restricted "
    "to the Java-regex ∩ RE2 dialect (no lookaround/backreferences) "
    "so the DuckDB oracle replays them verbatim. Pure per-row regexp "
    "projections — pipelines into the scan; at 100 TB the scrub runs "
    "before any payload leaves the ingest stage.",
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.pii_count(t, T.PII_EMAIL).cast("long").alias("n_emails"),
        T.pii_count(t, T.PII_IPV4).cast("long").alias("n_ipv4"),
        T.pii_count(t, T.PII_PHONE).cast("long").alias("n_phones"),
        F.length(T.pii_scrub(t)).cast("long").alias("scrubbed_len"),
    )


@register(
    "pack_sequences",
    oracle=f"""
WITH t AS (SELECT doc_id, len({_TOKS_SQL}) AS n_tok FROM documents),
c AS (SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum - n_tok AS BIGINT) AS "offset",
       CAST((cum - n_tok) // 2048 AS BIGINT) AS bin_id
FROM c ORDER BY doc_id
""",
    doc="Sequence packing (concat-then-chunk, budget 2048 tokens): "
    "every document gets its token-stream offset and the chunk its "
    "first token lands in — how pretraining batches are actually "
    "packed. The offset is a distributed two-phase prefix sum "
    "(operators/prefix.py): per-bucket partitioned windows + a "
    "single-partition window over only the bucket totals, never over "
    "rows — the naive global-order window funnels the corpus through "
    "one reducer. Floor-vs-truncate: offsets are non-negative, so "
    "Spark's div == DuckDB's //.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import pack_sequences as pack

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", T.ws_token_count(F.col("text")).cast("long").alias("n_tok")
    )
    packed = pack(
        t, "doc_id", "n_tok", budget=2048,
        bucket=F.expr("doc_id div 64"),
    )
    return packed.select(
        "doc_id", "n_tok", F.col("offset").cast("long").alias("offset"), "bin_id"
    ).orderBy("doc_id")


@register(
    "corpus_contamination",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_shingles_sql(8)}) AS gram FROM toks),
ev AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 50 = 0),
hits AS (SELECT s.doc_id, COUNT(*) AS n
         FROM sh s JOIN ev USING (gram)
         WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n, 0) AS BIGINT) AS n_shared_8grams,
       COALESCE(n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id
""",
    doc="Train/eval contamination check: flag training documents "
    "sharing any word 8-gram with a held-out eval slice (docs with "
    "id % 50 == 0 stand in for the benchmark). The industry-standard "
    "n-gram-overlap decontamination (GPT-3/PaLM style). Plan shape: "
    "explode distinct 8-grams once, distinct the eval side, one "
    "gram-keyed equi-join — no document ever compares to another "
    "directly, so it scales as O(total grams), and a hot boilerplate "
    "gram is an AQE-split skew key, not a cross join.",
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", D.tokens(F.col("text")).alias("_t"))
    # Grams travel as xxhash64 LONGS, not ~50-char strings: the gram
    # never reaches the output, and the string-key measurement
    # (SCALING.md addendum) showed string join keys dominating the
    # distinct + equi-join at the sf1 decade. Collision cost
    # ~n^2/2^65; the oracle joins raw gram strings, so a collision
    # that changed a count would flip the gate.
    grams = tok.select(
        "doc_id", F.explode(D.shingles_of_tokens(F.col("_t"), 8)).alias("gram")
    ).select("doc_id", F.xxhash64("gram").alias("gh"))
    eval_grams = (
        grams.filter(F.col("doc_id") % 50 == 0).select("gh").distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(eval_grams, "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        docs.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_shared_8grams"),
            (F.coalesce(F.col("_n"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "eval_contamination_recall",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_shingles_sql(8)}) AS gram FROM toks),
ev AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 50 = 0),
flagged AS (SELECT s.doc_id, COUNT(*) AS n
            FROM sh s JOIN ev USING (gram)
            WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id),
truth AS (
  SELECT DISTINCT d.doc_id
  FROM documents d JOIN documents s
    ON md5(d.text) = md5(s.text || ' dup')
  WHERE d.doc_id % 50 <> 0 AND s.doc_id % 50 = 0),
hit AS (SELECT t.doc_id, f.n FROM truth t JOIN flagged f USING (doc_id))
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM flagged) AS n_flagged,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       ROUND((SELECT COUNT(*) FROM hit) * 1.0
             / (SELECT COUNT(*) FROM truth), 6) AS recall,
       CAST((SELECT MIN(n) FROM hit) AS BIGINT) AS min_truth_shared
""",
    doc="Decontamination EVAL against planted ground truth — the "
    "eval_dedup_recall pattern applied to corpus_contamination: a "
    "training-side doc that is an eval-slice doc's ' dup' copy "
    "contains EVERY 8-gram of that eval doc by construction, so the "
    "md5 join (d, s: md5(d.text) = md5(s.text || ' dup'), s in the "
    "eval slice, d outside it) recovers a truth set the detector "
    "MUST flag — recall below 1.0 means the n-gram decontamination "
    "pipeline (explode, hash keys, eval-side distinct, gram "
    "equi-join) dropped a known-contaminated document. n_flagged "
    "carries the full detection set for context (legitimately wider "
    "than truth: reverse-direction dups, dup-of-dup chains, and "
    "chance 8-gram overlaps are real contamination too); "
    "min_truth_shared is the weakest planted doc's shared-gram "
    "count — the detection margin (>= 3, since the shortest doc has "
    "10 tokens = 3 8-grams). FULL value oracle, no pinned facts: "
    "DuckDB re-derives truth, flags, and margin independently at any "
    "SF. SCALE: the truth join shuffles 8-byte xxhash64 longs ("
    "string-key rule — the key never reaches output, and the "
    "oracle's md5 is its own equality bridge); the "
    "detector is the shipped corpus_contamination path (xxhash64 "
    "gram keys, string-key rule); the summary assembles via 1-row "
    "broadcast cross joins. MEASURED: recall 1.0 at sf0.001-sf0.01 — "
    "and that is the point: unlike SimHash's 0.17 on this corpus "
    "(eval_simhash_recall), exact n-gram decontamination cannot miss "
    "a superset copy.",
)
def eval_contamination_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Truth: training docs (id % 50 != 0) that are ' dup' copies of an
    # EVAL-slice doc (id % 50 == 0) — 8-byte xxhash64 longs shuffle
    # (string-key rule), never text.
    hp = D.content_pair_hashes(docs)  # one text scan for both hashes
    dup_side = hp.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.col("kd").alias("k")
    )
    src_side = hp.filter(F.col("doc_id") % 50 == 0).select(
        F.col("ks").alias("k")
    )
    truth = (
        dup_side.join(src_side, "k")
        .select("doc_id")
        .distinct()
        # Read twice (count + hit join); tiny (~0.1% of docs).
        .localCheckpoint(eager=False)
    )
    # The found set is the SHIPPED detector, not a reimplementation —
    # same contract as eval_dedup_recall running minhash_dedup_pairs.
    flagged = (
        corpus_contamination(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id", "n_shared_8grams")
        .localCheckpoint(eager=False)
    )
    hit = truth.join(flagged, "doc_id")
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    f = flagged.agg(F.count(F.lit(1)).alias("n_flagged"))
    h = hit.agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.min("n_shared_8grams").alias("min_truth_shared"),
    )
    return (
        t.crossJoin(F.broadcast(f))  # 1-row aggregate pairs
        .crossJoin(F.broadcast(h))
        .select(
            "n_truth",
            "n_flagged",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_truth"), 6).alias("recall"),
            "min_truth_shared",
        )
    )


@register(
    "text_rolling_hash",
    oracle=f"""
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(string_split({_NORM_SQL}, ''),
                        c -> CAST(ord(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 2147483647) AS roll_hash
FROM documents
""",
    doc="Rabin-Karp polynomial rolling hash of the normalized text "
    "(base 31 mod 2^31-1) — the fingerprint family that supports O(1) "
    "sliding-window updates. Exact cross-engine oracle: DuckDB "
    "replays the identical fold with list_reduce.",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.rolling_hash(F.col("text")).alias("roll_hash"))


# --------------------------------------------------------------------------
# Sparse (tf-idf) document similarity — the inverted-index counterpart
# of the dense-embedding ANN family above.
# --------------------------------------------------------------------------
@register(
    "doc_tfidf_cosine_topk",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
       FROM toks WHERE term <> '' GROUP BY doc_id, term),
n AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n_docs FROM tf),
df AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY term),
w0 AS (SELECT doc_id, term, tf * ln(n_docs / df) AS w
       FROM tf JOIN df USING (term), n
       WHERE df <= 0.79 * n_docs),
w AS (SELECT doc_id, term, w FROM (
        SELECT doc_id, term, w,
               row_number() OVER (PARTITION BY term
                                  ORDER BY w DESC, doc_id) AS r
        FROM w0)
      WHERE r <= 64),
nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
         FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN nrm na ON na.doc_id = id_a
JOIN nrm nb ON nb.doc_id = id_b
ORDER BY cosine DESC, id_a, id_b
LIMIT 20
""",
    doc="Top-20 most-similar document pairs by tf-idf cosine through "
    "a term-keyed self-equi-join (inverted-index formulation): pair "
    "fanout is sum(df^2) over terms, never n_docs^2. TWO fanout "
    "bounds ship, both mirrored exactly in the oracle: stopword-"
    "grade terms (df > 0.79N) are pruned (quadratic fanout for "
    "near-zero idf weight), and each surviving term keeps only its "
    "64 highest-weight postings (cap_postings — a term-PARTITIONED "
    "window), capping fanout at 64^2 per term. The cap is what keeps "
    "this corpus tractable: its synthetic ~31-term vocabulary makes "
    "df-pruning alone leave near-n^2 pairs (the uncapped form OOMed "
    "local[32] at sf0.1 — measured, not hypothetical). The final "
    "top-k plans as TakeOrderedAndProject on the ROUNDED cosine with "
    "id tiebreaks, so the cutoff is deterministic across engines.",
)
def doc_tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.tfidf import tfidf_topk_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk_pairs(
        docs, "doc_id", "text", k=20, max_df_frac=0.79, per_term_cap=64
    )


# --------------------------------------------------------------------------
# Cross-document boilerplate blocks + Gopher rule-level quality gate.
# --------------------------------------------------------------------------
@register(
    "text_boilerplate_blocks",
    oracle=f"""
WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
blocks AS (SELECT doc_id, source,
                  unnest([md5(array_to_string(t[(i-1)*10+1:(i-1)*10+10], ' '))
                          for i in range(1, greatest(len(t)//10, 0)+1)]) AS h
           FROM toks),
bdf AS (SELECT h, COUNT(DISTINCT doc_id) AS blk_df FROM blocks GROUP BY h)
SELECT source,
       COUNT(*) AS total_blocks,
       COUNT(*) FILTER (WHERE blk_df >= 2) AS boilerplate_blocks,
       COUNT(*) FILTER (WHERE blk_df >= 2)::DOUBLE / COUNT(*)
         AS boilerplate_frac
FROM blocks JOIN bdf USING (h)
GROUP BY source
""",
    doc="C4-style boilerplate removal statistics: documents are cut "
    "into non-overlapping 10-token blocks; a block whose distinct-"
    "document frequency is >= 2 is boilerplate (navigation chrome, "
    "license headers, templated text). Blocks travel as xxhash64 "
    "longs (string-key rule, SCALING.md addendum: an internal "
    "key that never reaches output must be a fixed-width integer "
    "hash — 8-byte longs beat a 32-char md5 hex key through "
    "the repartition+groupBy+join, 10-25x at the sf1 decade), never "
    "raw text; the oracle's md5 blocks are its own equality bridge — "
    "only block EQUALITY crosses engines. The df groupBy and the df "
    "join-back are both block-hash equi-joins with map-side partial "
    "agg — O(distinct blocks) network, the scalable shape at 100 TB. Unrounded count ratio: identical integers "
    "divide identically in both engines.",
)
def text_boilerplate_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    blocks = (
        docs.select(
            "doc_id", "source", D.tokens(F.col("text")).alias("_t")
        )
        .select(
            "doc_id",
            "source",
            F.explode(T.token_blocks(F.col("_t"), 10)).alias("blk"),
        )
        .select("doc_id", "source", F.xxhash64(F.col("blk")).alias("h"))
        # One explicit hash exchange on the block hash, shared by BOTH
        # consumers below (Spark reuses identical exchange subplans):
        # without it the tokenize+block+md5 projection runs twice —
        # once under the df groupBy, once under the join-back — and
        # with it the df groupBy and the h equi-join are both
        # exchange-free on the already-partitioned data.
        .repartition("h")
    )
    bdf = blocks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("blk_df")
    )
    dup = F.when(F.col("blk_df") >= 2, F.lit(1)).otherwise(F.lit(0))
    return (
        blocks.join(bdf, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_blocks"),
            F.sum(dup).alias("boilerplate_blocks"),
            (F.sum(dup) / F.count(F.lit(1))).alias("boilerplate_frac"),
        )
    )


_MWL_SQL = (
    "coalesce(list_sum(list_transform(t, x -> length(x))), 0)::DOUBLE"
    " / len(t)"
)
_DUP3_SQL = """
CASE WHEN greatest(len(t)-2, 0) > 0
     THEN 1.0 - len(list_distinct([array_to_string(t[i:i+2], ' ')
                                   for i in range(1, greatest(len(t)-2, 0)+1)]))::DOUBLE
                / greatest(len(t)-2, 0)
     ELSE 0.0 END
"""


@register(
    "quality_gopher_rules",
    oracle=f"""
WITH toks AS (SELECT doc_id, source, text, {_TOKS_SQL} AS t FROM documents),
r AS (SELECT source,
        (len(t) BETWEEN 10 AND 300) AS r_len,
        ({_MWL_SQL} >= 2.0 AND {_MWL_SQL} <= 12.0) AS r_mwl,
        ({_DUP3_SQL} <= 0.4) AS r_rep,
        ({_SW} >= 1) AS r_stop,
        ((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
           / nullif(length(text), 0) <= 0.1) AS r_sym
      FROM toks)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE r_len AND r_mwl AND r_rep AND r_stop AND r_sym)
         AS n_pass,
       COUNT(*) FILTER (WHERE NOT r_len) AS fail_len,
       COUNT(*) FILTER (WHERE NOT r_mwl) AS fail_mean_word_len,
       COUNT(*) FILTER (WHERE NOT r_rep) AS fail_repetition,
       COUNT(*) FILTER (WHERE NOT r_stop) AS fail_stopword,
       COUNT(*) FILTER (WHERE NOT r_sym) AS fail_symbol
FROM r
GROUP BY source
""",
    doc="Gopher-style rule-level quality gate, reported as per-source "
    "pass/fail counts so curators see WHICH rule rejects a source: "
    "token count in [10, 300], mean word length in [2, 12], duplicate "
    "word-trigram fraction <= 0.4, >= 1 English stopword, symbol "
    "ratio <= 0.1. Every rule is a pure-Catalyst per-row projection "
    "(regexp + array HOFs, identical arithmetic to the DuckDB twin); "
    "the only shuffle is the final per-source partial-combined agg. "
    "Complements text_quality's continuous composite score with the "
    "hard-threshold form used for corpus admission.",
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("_t")
    n_tok = F.size(t)
    sum_len = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mwl = sum_len.cast("double") / n_tok
    tok = docs.select(
        "source", "text", D.tokens(F.col("text")).alias("_t")
    )
    flags = tok.select(
        "source",
        ((n_tok >= 10) & (n_tok <= 300)).alias("r_len"),
        ((mwl >= 2.0) & (mwl <= 12.0)).alias("r_mwl"),
        (T.duplicate_ngram_fraction(t, 3) <= 0.4).alias("r_rep"),
        (T.marker_hits(F.col("text"), T.STOPWORDS_EN) >= 1).alias("r_stop"),
        (T.punct_ratio(F.col("text")) <= 0.1).alias("r_sym"),
    )

    def fails(c: str):
        return F.sum(F.when(~F.col(c), 1).otherwise(0))

    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                F.col("r_len")
                & F.col("r_mwl")
                & F.col("r_rep")
                & F.col("r_stop")
                & F.col("r_sym"),
                1,
            ).otherwise(0)
        ).alias("n_pass"),
        fails("r_len").alias("fail_len"),
        fails("r_mwl").alias("fail_mean_word_len"),
        fails("r_rep").alias("fail_repetition"),
        fails("r_stop").alias("fail_stopword"),
        fails("r_sym").alias("fail_symbol"),
    )


# DuckDB twin of operators.textstats.quality_score over a `text` col.
_QUALITY_EXPR_SQL = f"""
0.35 * (CASE WHEN len({_TOKS_SQL}) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END)
+ 0.25 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
          / nullif(length(text), 0))
+ 0.25 * least(({_SW}::DOUBLE / nullif(len({_TOKS_SQL}), 0)) * 5, 1.0)
+ 0.15 * (1.0 - least(((length(text) - length(regexp_replace(text,
          '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
          / nullif(length(text), 0)) * 4, 1.0))
"""


@register(
    "dedup_cluster_canonical",
    oracle=f"""
WITH RECURSIVE
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(a.s || b.s)) >= 0.8),
sym AS (SELECT id_a AS u, id_b AS v FROM p
        UNION SELECT id_b, id_a FROM p),
reach AS (SELECT u, v FROM sym
          UNION
          SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component
         FROM reach GROUP BY u),
q AS (SELECT doc_id, {_QUALITY_EXPR_SQL} AS quality FROM documents),
m AS (SELECT component, node, quality
      FROM comp JOIN q ON q.doc_id = comp.node),
s AS (SELECT component, MAX(quality) AS qmax,
             COUNT(*) AS n_members
      FROM m GROUP BY component)
SELECT s.component, s.n_members,
       MIN(m.node) AS keep_id,
       ROUND(s.qmax, 6) AS keep_quality
FROM m JOIN s USING (component)
WHERE m.quality = s.qmax
GROUP BY s.component, s.n_members, s.qmax
""",
    doc="Canonical-document selection: MinHash-LSH pair graph -> "
    "connected components (iterative min-label propagation) -> keep "
    "the HIGHEST-quality member per cluster (min doc_id among exact "
    "quality ties — exact duplicates tie by construction). This is "
    "the full end-to-end dedup decision a corpus pipeline applies: "
    "not just finding near-dup pairs but choosing which copy "
    "survives. FULL value-level oracle: DuckDB rebuilds the clusters "
    "via a recursive-CTE transitive closure over the independently "
    "brute-forced exact Jaccard pair set and applies the identical "
    "quality argmax — a strictly stronger check than dedup_clusters' "
    "bound-check anchors. Quality equality joins are safe cross-"
    "engine: both sides compute the identical double from identical "
    "integers.",
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    edges = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    cc = connected_components(edges, "id_a", "id_b")

    quality = docs.select(
        F.col("doc_id"), T.quality_score(F.col("text")).alias("quality")
    )
    members = cc.join(quality, cc.node == quality.doc_id).select(
        "component", "node", "quality"
    )
    stats = members.groupBy("component").agg(
        F.max("quality").alias("qmax"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        members.join(stats, "component")
        .filter(F.col("quality") == F.col("qmax"))
        .groupBy("component", "n_members", "qmax")
        .agg(F.min("node").alias("keep_id"))
        .select(
            "component",
            "n_members",
            "keep_id",
            F.round("qmax", 6).alias("keep_quality"),
        )
    )


@register(
    "ann_pq_adc",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
SELECT query_id,
       CAST(SUM(vec_id) AS BIGINT) AS exact_top10_id_sum,
       ROUND(MIN(cos), 6) AS exact_min_cos,
       TRUE AS recall_ok
FROM r WHERE rank <= 10 GROUP BY query_id ORDER BY query_id
""",
    doc="Product-quantization ANN with asymmetric distance "
    "computation, completing the ANN family (brute / LSH / IVF / "
    "PQ): 4 per-subspace 16-code codebooks compress each vector to "
    "4 bytes (vs 256) — the MEMORY-bound scale path; ADC scoring is "
    "a (sub, code) broadcast equi-join + groupBy sum (the corpus "
    "never shuffles), then the top-150 ADC candidates re-rank by "
    "exact cosine through an id equi-join. Bound-check oracle (same "
    "scheme as ann_ivf): Spark emits the exact brute-force top-10 "
    "anchors DuckDB independently re-derives, plus a recall@10 >= "
    "0.7 verdict for the PQ set.",
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = (
        S.brute_force_topk(emb, q, k=11, salt_buckets=32)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select("query_id", "vec_id", "cos")
    )
    approx = (
        S.pq_topk(emb, q, k=11, m=4, codebook_k=16, refine=150)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    anchors = exact.groupBy("query_id").agg(
        F.sum("vec_id").alias("exact_top10_id_sum"),
        F.round(F.min("cos"), 6).alias("exact_min_cos"),
    )
    return (
        anchors.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "exact_top10_id_sum",
            "exact_min_cos",
            (F.coalesce(F.col("_n_hit"), F.lit(0)) >= 7).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH newb AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
ex AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
exfp AS (SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM ex),
new2 AS (SELECT n.* FROM newb n
         WHERE md5(trim(regexp_replace(regexp_replace(lower(n.text),
               '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))
               NOT IN (SELECT fp FROM exfp)),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(a.s || b.s)) >= 0.8),
sym AS (SELECT id_a AS u, id_b AS v FROM p
        UNION ALL SELECT id_b, id_a FROM p),
bad AS (
  -- a surviving new doc is dropped if it near-dups ANY existing doc,
  -- or a LOWER-id new doc (deterministic greedy-by-id, no recursion)
  SELECT DISTINCT n.doc_id FROM new2 n JOIN sym ON sym.u = n.doc_id
  WHERE sym.v % 5 <> 0 OR (sym.v % 5 = 0 AND sym.v < n.doc_id))
SELECT doc_id, source FROM new2
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
""",
    doc="Incremental corpus ingest dedup — the continuous-pipeline "
    "shape: a NEW batch (doc_id % 5 = 0, a deterministic stand-in "
    "for today's crawl) dedups against the EXISTING corpus without "
    "reprocessing it. Stage 1: exact-content anti-join on "
    "md5(normalized text) — at 100 TB the existing side is just its "
    "persisted fingerprint column, bucketed on fp so the anti-join "
    "is shuffle-free. Stage 2: MinHash-LSH near-dup pairs; a new doc "
    "drops if it pairs at Jaccard >= 0.8 with any existing doc or "
    "any lower-id new doc (greedy-by-id, recursion-free so the "
    "decision is a pure join). FULL value-level oracle: DuckDB "
    "replays both stages with brute-forced exact Jaccard pairs — "
    "LSH recall at this SF is exact (see dedup_minhash_lsh), so a "
    "mismatch means the sketch path dropped or invented a pair.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Anti-join fingerprint = xxhash64 long (string-key rule): _fp
    # never reaches output; the oracle's md5 replay is its own bridge.
    fp = F.xxhash64(D.normalize_text(F.col("text")))
    newb = docs.filter(F.col("doc_id") % 5 == 0)
    ex = docs.filter(F.col("doc_id") % 5 != 0)

    new2 = newb.withColumn("_fp", fp).join(
        ex.select(fp.alias("_fp")).distinct(), "_fp", "left_anti"
    )

    # Two consumers (both union directions) — materialize the pair
    # generation once (same contract as dedup_cluster_canonical).
    pairs = (
        D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    sym = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    bad = (
        new2.select(F.col("doc_id").alias("u"))
        .join(sym, "u")
        .filter(
            (F.col("v") % 5 != 0)
            | ((F.col("v") % 5 == 0) & (F.col("v") < F.col("u")))
        )
        .select(F.col("u").alias("doc_id"))
        .distinct()
    )
    return new2.join(bad, "doc_id", "left_anti").select("doc_id", "source")


@register(
    "multimodal_wav_energy",
    oracle="""
WITH g AS (SELECT doc_id AS media_id, 64 + doc_id % 50 AS n FROM documents),
s AS (SELECT media_id, n,
             [ (media_id * 37 + i * 13) % 2003 - 1001
               for i in range(0, n) ] AS samples
      FROM g)
SELECT media_id,
       16000 AS rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(list_sum(samples) AS BIGINT) AS sample_sum,
       CAST(list_sum([x * x for x in samples]) AS BIGINT) AS energy
FROM s ORDER BY media_id
""",
    doc="REAL audio codec round-trip + feature extraction: "
    "deterministic PCM16 samples (a formula DuckDB replays) -> "
    "encode_wav_pcm16 (RIFF/fmt/data, 16-bit little-endian) in one "
    "mapInPandas stage -> audio_energy (header-validated decode, "
    "integer signal energy = sum of squares) in a second. A green "
    "row proves the DECODED SAMPLES are value-exact — any "
    "encoder/decoder byte-order or offset bug breaks the energy sum. "
    "Payloads never shuffle; at 100 TB featurization runs "
    "decode-side so only the small typed rows move.",
)
def multimodal_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gen = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(64) + F.col("doc_id") % 50).cast("int").alias("n"),
    ).withColumn(
        "samples",
        F.transform(
            F.sequence(F.lit(0), F.col("n") - 1),
            lambda i: (
                (F.col("media_id") * 37 + i * 13) % 2003 - 1001
            ).cast("int"),
        ),
    )
    return M.audio_energy(M.wav_encode_samples(gen)).orderBy("media_id")


@register(
    "multimodal_audio_resample",
    oracle="""
WITH g AS (SELECT doc_id AS media_id, 64 + doc_id % 50 AS n FROM documents),
s AS (SELECT media_id, n,
             [ (media_id * 41 + i * 17) % 2003 - 1001
               for i in range(0, n) ] AS x
      FROM g),
r AS (SELECT media_id, n,
             [ CAST(floor((x[2*i + 1] + x[2*i + 2]) / 2.0) AS BIGINT)
               for i in range(0, n // 2) ] AS y
      FROM s)
SELECT media_id,
       8000 AS rate,
       CAST(n // 2 AS BIGINT) AS n_samples,
       CAST(list_sum(y) AS BIGINT) AS sample_sum,
       CAST(list_sum([v * v for v in y]) AS BIGINT) AS energy
FROM r ORDER BY media_id
""",
    doc="Three REAL codec passes: deterministic PCM16 samples -> "
    "encode_wav_pcm16 (RIFF @16 kHz) -> wav_resample_half (decode, "
    "pair-average box filter + 2:1 decimation, re-encode @8 kHz) -> "
    "audio_energy (header-validated decode, integer stats). The "
    "sample-rate normalization every audio training pipeline runs "
    "before featurization, and a value-exact proof that the encoder "
    "and decoder survive a round-trip THROUGH a transformed payload "
    "(rate halved in the header, floor((a+b)/2) samples — the "
    "oracle replays both formula and filter; int()'s toward-zero "
    "truncation instead of floor would break every negative pair). "
    "Payloads never shuffle; all three passes are scan-side "
    "mapInPandas stages.",
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gen = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(64) + F.col("doc_id") % 50).cast("int").alias("n"),
    ).withColumn(
        "samples",
        F.transform(
            F.sequence(F.lit(0), F.col("n") - 1),
            lambda i: (
                (F.col("media_id") * 41 + i * 17) % 2003 - 1001
            ).cast("int"),
        ),
    )
    return M.audio_energy(
        M.wav_resample_half(M.wav_encode_samples(gen))
    ).orderBy("media_id")


@register(
    "multimodal_image_dhash_dedup",
    oracle="""
WITH g AS (SELECT doc_id AS media_id,
                  8 + doc_id % 9 AS w,
                  8 + doc_id % 7 AS h
           FROM documents),
px AS (SELECT media_id, w, h,
              [ (media_id * 31 + i) % 256
                for i in range(0, w * h) ] AS p
       FROM g),
rs AS (SELECT media_id,
              [ p[ ((k // 9) * h // 8) * w + ((k % 9) * w // 9) + 1 ]
                for k in range(0, 72) ] AS q
       FROM px),
hashed AS (
  SELECT media_id,
         CAST(list_sum(
           [ CASE WHEN q[(k // 8) * 9 + (k % 8) + 1]
                     < q[(k // 8) * 9 + (k % 8) + 2]
                  THEN 1 << (k % 32) ELSE 0 END
             for k in range(0, 32) ]) AS BIGINT) AS dhash_hi,
         CAST(list_sum(
           [ CASE WHEN q[(k // 8) * 9 + (k % 8) + 1]
                     < q[(k // 8) * 9 + (k % 8) + 2]
                  THEN 1 << (k % 32) ELSE 0 END
             for k in range(32, 64) ]) AS BIGINT) AS dhash_lo
  FROM rs)
SELECT dhash_hi, dhash_lo,
       COUNT(*) AS n_images,
       CAST(MIN(media_id) AS BIGINT) AS keep_id
FROM hashed
GROUP BY dhash_hi, dhash_lo
HAVING COUNT(*) > 1
ORDER BY dhash_hi, dhash_lo, keep_id
""",
    doc="Image near-duplicate detection by perceptual hash, the "
    "visual twin of text fingerprint dedup, with every codec stage "
    "REAL: deterministic grayscale images (DuckDB-replayable "
    "formula) -> encode_png_gray -> resize_image to the 9x8 dHash "
    "grid (decode, integer nearest-neighbor resample, re-encode) -> "
    "image_dhash (decode again, adjacent-pixel gradient bits packed "
    "into two 32-bit halves) -> groupBy(hash) keeping min-id per "
    "bucket. The oracle replays pixel generation, the EXACT resize "
    "index map ((r*h)//8, (c*w)//9) and the bit packing in SQL — a "
    "green row proves three codec passes bit-exact. Payloads stay "
    "inside their tasks (three chained mapInPandas, no shuffle "
    "until the 16-byte hashes); hamming-band joins extend it to "
    "near-miss pairs exactly as simhash bands do.",
)
def multimodal_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gen = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(8) + F.col("doc_id") % 9).cast("int").alias("width"),
        (F.lit(8) + F.col("doc_id") % 7).cast("int").alias("height"),
    ).withColumn(
        "pixels",
        F.transform(
            F.sequence(
                F.lit(0), (F.col("width") * F.col("height") - 1).cast("int")
            ),
            lambda i: ((F.col("media_id") * 31 + i) % 256).cast("int"),
        ),
    )
    hashed = M.image_dhash(
        M.resize_image(M.png_encode_pixels(gen), width=9, height=8)
    )
    return (
        hashed.groupBy("dhash_hi", "dhash_lo")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("media_id").cast("bigint").alias("keep_id"),
        )
        .filter(F.col("n_images") > 1)
        .orderBy("dhash_hi", "dhash_lo", "keep_id")
    )


@register(
    "embedding_covariance",
    oracle="""
WITH idx AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
cells AS (
  SELECT a.i AS i, b.i AS j,
         SUM(e.embedding[a.i + 1]::DOUBLE * e.embedding[b.i + 1]::DOUBLE)
           AS sp,
         COUNT(*) AS n
  FROM embeddings e, idx a, idx b
  GROUP BY 1, 2
),
m AS (
  SELECT i.i AS i,
         SUM(e.embedding[i.i + 1]::DOUBLE) / COUNT(*) AS mu
  FROM embeddings e, idx i GROUP BY 1
)
SELECT c.i AS i, c.j AS j,
       ROUND(c.sp / c.n - ma.mu * mb.mu, 6) + 0.0 AS cov
FROM cells c JOIN m ma ON ma.i = c.i JOIN m mb ON mb.i = c.j
ORDER BY c.i, c.j
""",
    doc="Distributed 64x64 population covariance of the embedding "
    "table in long form — the Gram-matrix computation under PCA / "
    "whitening / ZCA. One double-posexplode outer-product pass "
    "partial-aggregates to d^2 cells per partition BEFORE the "
    "shuffle, so exchange volume is dimension-bounded, never "
    "row-bounded; means join back as two broadcast d-row dims. "
    "Elements cast to double BEFORE multiplying on both engines "
    "(fp32-product-then-fp64-sum rounds differently in the last "
    "ulp). operators/pca.py feeds these cells to a DataFrame-only "
    "power iteration for the top principal component, "
    "numpy-verified in tests/test_pca.py.",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.pca import covariance_long

    emb = load_table(spark, sf_dir, "embeddings")
    # + 0.0 collapses IEEE -0.0 (DuckDB ROUND keeps the sign of a
    # negative underflow; Spark's drops it) so the value digest of a
    # zero cell is engine-identical.
    return (
        covariance_long(emb, "embedding")
        .select(
            "i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
        )
        .orderBy("i", "j")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
WITH dims AS (SELECT unnest(embedding) AS x,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings),
st AS (SELECT pos, CAST(MIN(x) AS DOUBLE) AS mn,
              CAST(MAX(x) AS DOUBLE) AS mx
       FROM dims GROUP BY pos),
pk AS (SELECT list(struct_pack(mn := mn, mx := mx) ORDER BY pos) AS st
       FROM st),
per AS (
  SELECT label,
         list_sum([CASE WHEN st[i].mx = st[i].mn THEN 0.0
                   ELSE floor((CAST(embedding[i] AS DOUBLE) - st[i].mn)
                              * 255 / (st[i].mx - st[i].mn) + 0.5)
                   END for i in range(1, len(embedding) + 1)]) AS codesum,
         list_max([CASE WHEN st[i].mx = st[i].mn THEN 0.0
                   ELSE floor((CAST(embedding[i] AS DOUBLE) - st[i].mn)
                              * 255 / (st[i].mx - st[i].mn) + 0.5)
                   END for i in range(1, len(embedding) + 1)]) AS cmax,
         list_sum([pow(CAST(embedding[i] AS DOUBLE)
                       - (st[i].mn
                          + (CASE WHEN st[i].mx = st[i].mn THEN 0.0
                             ELSE floor((CAST(embedding[i] AS DOUBLE)
                                         - st[i].mn) * 255
                                        / (st[i].mx - st[i].mn) + 0.5)
                             END) * (st[i].mx - st[i].mn) / 255), 2)
                   for i in range(1, len(embedding) + 1)]) AS sqerr
  FROM embeddings CROSS JOIN pk)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(codesum) AS BIGINT) AS code_checksum,
       CAST(MAX(cmax) AS BIGINT) AS max_code,
       ROUND(SUM(sqerr) * 1000, 4) AS sq_err_sum_x1k
FROM per GROUP BY label ORDER BY label
""",
    doc="INT8 scalar quantization (SQ8) of the embedding table — the "
    "standard vector-store compression (4x smaller than fp32, the "
    "step below product quantization's ann_pq_adc): per-DIMENSION "
    "min/max over the corpus (a d-row aggregate off one posexplode "
    "pass, broadcast back as a single 64-struct array), then each "
    "vector quantizes per-element to code = floor((x-mn)*255/"
    "(mx-mn) + .5) in a pure scan-side projection. floor(v+.5) "
    "replaces round() because the engines' round() half-rules "
    "differ; all arithmetic is fp64 with identical operation order, "
    "so the CODES are bit-exact cross-engine — proven by the "
    "integer code_checksum and the max_code<=255 range check — "
    "while reconstruction error ships as a rounded sum. At scale "
    "this is one tiny stats broadcast + one linear pass; nothing "
    "shuffles but the d-row stats and the label-bounded summary.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.selectExpr("posexplode(embedding) AS (pos, x)")
    stats = dims.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    packed = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("st")
    )

    def _code(x, s):
        mn = s.getField("mn").cast("double")
        mx = s.getField("mx").cast("double")
        return F.when(mx == mn, F.lit(0.0)).otherwise(
            F.floor(
                (x.cast("double") - mn) * 255 / (mx - mn) + F.lit(0.5)
            ).cast("double")
        )

    def _sqerr(x, s):
        mn = s.getField("mn").cast("double")
        mx = s.getField("mx").cast("double")
        recon = mn + _code(x, s) * (mx - mn) / 255
        return F.pow(x.cast("double") - recon, F.lit(2.0))

    # posexplode's pos is 0-based; element_at is 1-based.
    st_at = lambda i: F.element_at(F.col("st"), i + 1)  # noqa: E731
    per = emb.crossJoin(F.broadcast(packed)).select(
        "label",
        F.aggregate(
            F.transform("embedding", lambda x, i: _code(x, st_at(i))),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("codesum"),
        F.array_max(
            F.transform("embedding", lambda x, i: _code(x, st_at(i)))
        ).alias("cmax"),
        F.aggregate(
            F.transform("embedding", lambda x, i: _sqerr(x, st_at(i))),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("sqerr"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("codesum").cast("bigint").alias("code_checksum"),
            F.max("cmax").cast("bigint").alias("max_code"),
            F.round(F.sum("sqerr") * 1000, 4).alias("sq_err_sum_x1k"),
        )
    )


@register(
    "text_bm25_search",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 AVG(len) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS f FROM tok
       WHERE term IN ('spark', 'join', 'stream') GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         SUM(ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
             * tf.f * 2.2
             / (tf.f + 1.2 * (0.25 + 0.75 * dl.len / stats.avgdl)))
           AS score
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 6) AS bm25
FROM scored
ORDER BY ROUND(score, 6) DESC, doc_id
LIMIT 10
""",
    doc="BM25 ranked retrieval (k1=1.2, b=0.75, the Robertson/"
    "Lucene idf with +1 floor) for the query {spark, join, stream}: "
    "term frequencies for ONLY the query terms (scan-side IN "
    "filter), document frequencies from that same tiny tf set, "
    "length normalization from a corpus doc-length aggregate, "
    "corpus stats as a broadcast 1-row scalar — every join is a "
    "term or doc_id equi-join and the top-10 plans as "
    "TakeOrderedAndProject. ONE tokenize pass computes "
    "doc length and all query-term frequencies as array "
    "expressions per row (size(filter(tokens, = t)) — no explode, "
    "no (doc, term) shuffle at all), then stack() unpivots the "
    "tiny per-doc row; at 100 TB the per-doc counts table is "
    "O(n_docs x query_len), never O(total tokens). Ranking "
    "compares ROUNDED scores with a doc_id tiebreak on BOTH "
    "engines, so float accumulation drift cannot reorder the "
    "boundary. The full-index twin at 100 TB is the persisted "
    "postings layout of operators/tfidf.py.",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import dedup as D

    k1, b = 1.2, 0.75
    qterms = ["spark", "join", "stream"]
    docs = load_table(spark, sf_dir, "documents")
    tokc = docs.select("doc_id", D.tokens(F.col("text")).alias("_t"))

    def _term_count(term: str):
        # NB: the filter lambda must be unary — a second parameter
        # would be bound to the ELEMENT INDEX by the HOF protocol.
        return (
            F.size(F.filter("_t", lambda x: x == F.lit(term)))
            .cast("long")
            .alias(f"f_{term}")
        )

    per_doc = tokc.select(
        "doc_id",
        F.size("_t").alias("len"),
        *[_term_count(t) for t in qterms],
    )
    # Three consumers (corpus stats, the unpivot, and through it the
    # df agg) of a 4-ints-per-doc table: materialize once so the
    # tokenize pass runs exactly once.
    per_doc = per_doc.localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("len").alias("avgdl"),
    )
    stack_args = ", ".join(f"'{t}', f_{t}" for t in qterms)
    tf = per_doc.selectExpr(
        "doc_id",
        "len",
        f"stack({len(qterms)}, {stack_args}) AS (term, f)",
    ).filter(F.col("f") > 0)
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score_term = (
        idf
        * F.col("f")
        * (k1 + 1.0)
        / (
            F.col("f")
            + k1 * (1.0 - b + b * F.col("len") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(score_term).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


@register(
    "text_keyword_extraction",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS f FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.f * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6)
           AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE tf.doc_id < 20
)
SELECT doc_id, term, tfidf FROM scored
QUALIFY row_number() OVER
  (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 3
ORDER BY doc_id, tfidf DESC, term
""",
    doc="Per-document keyword extraction: top-3 terms by tf-idf "
    "(smoothed idf ln((N+1)/(df+1))) for the scored docs. Corpus df "
    "comes from ALL documents; only the scored docs' term rows "
    "survive to ranking, which plans as WindowGroupLimit (per-doc "
    "k=3 kept before the shuffle). Ranking compares ROUNDED scores "
    "with a term tiebreak on both engines — drift-proof ordering, "
    "same rule as text_bm25_search.",
)
def text_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hdfs_parquet_importer_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(D.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("f"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    n = tf.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 20)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("f")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), "term"
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


@register(
    "dedup_containment",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks)
SELECT a.doc_id AS id_small, b.doc_id AS id_big,
       ROUND(len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(a.s)), 6) AS containment
FROM sh a JOIN sh b
  ON a.doc_id != b.doc_id
WHERE len(list_distinct(a.s)) <= len(list_distinct(b.s))
  AND NOT (len(list_distinct(a.s)) = len(list_distinct(b.s))
           AND a.doc_id > b.doc_id)
  AND len(list_intersect(a.s, b.s))::DOUBLE
        / len(list_distinct(a.s)) >= 0.9
ORDER BY id_small, id_big
""",
    doc="Broder CONTAINMENT near-dup pairs (|A n B| / |A| >= 0.9, "
    "smaller-set side normalized): the asymmetric twin of "
    "dedup_ngram_jaccard that catches doc-inside-doc relations — "
    "a quote or concatenation contains its source with high "
    "containment but LOW Jaccard (the union is dominated by the "
    "big doc), so resemblance-only dedup misses it. Each unordered "
    "pair is emitted once, oriented small->big (shingle-set size, "
    "doc_id tiebreak on equal sizes). Labeled O(n^2) correctness "
    "baseline like its Jaccard sibling; the scale path reuses the "
    "SAME MinHash-LSH banding (candidate generation is identical — "
    "only the verify formula changes).",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        F.col("doc_id"), D.tokens(F.col("text")).alias("_t")
    ).select(
        "doc_id",
        F.array_distinct(
            D.shingles_of_tokens(F.col("_t"), 3)
        ).alias("s"),
    )
    a = sh.select(F.col("doc_id").alias("id_small"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_big"), F.col("s").alias("sb"))
    size_a, size_b = F.size("sa"), F.size("sb")
    cont = (
        F.size(F.array_intersect("sa", "sb")).cast("double") / size_a
    )
    return (
        a.join(b, F.col("id_small") != F.col("id_big"))
        .filter(
            (size_a <= size_b)
            & ~((size_a == size_b) & (F.col("id_small") > F.col("id_big")))
        )
        .filter(cont >= 0.9)
        .select(
            "id_small",
            "id_big",
            F.round(cont, 6).alias("containment"),
        )
        .orderBy("id_small", "id_big")
    )


@register(
    "eval_langid_confusion",
    oracle=f"""
WITH s AS (SELECT lang, text,
  {_EN} AS en_hits, {_DE} AS de_hits, {_ES} AS es_hits, {_FR} AS fr_hits,
  {_HAN} AS han_chars
FROM documents),
pred AS (
  SELECT lang AS actual,
    CASE WHEN text IS NULL THEN 'und'
         WHEN han_chars > 0 THEN 'zh'
         WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
         WHEN en_hits >= de_hits AND en_hits >= es_hits
              AND en_hits >= fr_hits THEN 'en'
         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
         WHEN es_hits >= fr_hits THEN 'es'
         ELSE 'fr' END AS predicted
  FROM s)
SELECT actual, predicted, COUNT(*) AS n,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*))
               OVER (PARTITION BY actual) AS DOUBLE), 6) AS row_share
FROM pred GROUP BY actual, predicted
ORDER BY actual, predicted
""",
    doc="Classifier evaluation AT SCALE, eating our own dog food: "
    "the confusion matrix of text_langid's marker-argmax heuristic "
    "against the ground-truth lang label, with per-actual recall "
    "shares. One scan pass computes prediction per row (pure "
    "Catalyst regex arithmetic), one groupBy builds the matrix "
    "(bounded by |langs|^2), the row-share window runs over the "
    "matrix itself. This is the standard distributed model-eval "
    "shape — swap in any UDF-scored prediction column and the plan "
    "is unchanged. The diagonal IS the per-language recall.",
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("actual"),
        T.lang_id(F.col("text")).alias("predicted"),
    )
    counts = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("actual")
    return (
        counts.select(
            "actual",
            "predicted",
            "n",
            F.round(
                F.col("n") / F.sum("n").over(w).cast("double"), 6
            ).alias("row_share"),
        )
        .orderBy("actual", "predicted")
    )


@register(
    "pack_strategy_waste",
    oracle=f"""
WITH toks AS (SELECT {_TOKS_SQL} AS t FROM documents),
mg AS ({_BPE_MERGES_SQL}),
t AS (
  SELECT n FROM (
    SELECT CAST(list_sum([{_BPE_NTOK_SQL} for w in t if w != ''])
                AS BIGINT) AS n
    FROM toks CROSS JOIN mg)
  WHERE n >= 1
),
base AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
         CAST(SUM((n + 2047) // 2048) AS BIGINT) AS perdoc_seqs,
         CAST(SUM((n - 1) // 2048) AS BIGINT) AS full_chunks
  FROM t
),
tails AS (
  SELECT ((n - 1) % 2048) + 1 AS tail FROM t
),
bands AS (
  SELECT (tail + 255) // 256 AS band, COUNT(*) AS cnt
  FROM tails GROUP BY 1
),
bucketed AS (
  SELECT CAST(SUM((cnt + (8 // band) - 1) // (8 // band)) AS BIGINT)
           AS tail_seqs
  FROM bands
)
SELECT * FROM (
  SELECT 'concat_chunk' AS strategy,
         CAST((total_tokens + 2047) // 2048 AS BIGINT) AS n_sequences,
         total_tokens,
         ROUND(total_tokens
               / (((total_tokens + 2047) // 2048) * 2048.0), 6)
           AS utilization
  FROM base
  UNION ALL
  SELECT 'pad_bucketed',
         full_chunks + tail_seqs,
         total_tokens,
         ROUND(total_tokens
               / ((full_chunks + tail_seqs) * 2048.0), 6)
  FROM base, bucketed
  UNION ALL
  SELECT 'pad_per_doc', perdoc_seqs, total_tokens,
         ROUND(total_tokens / (perdoc_seqs * 2048.0), 6)
  FROM base
) ORDER BY strategy
""",
    doc="Padding-waste comparison of the three sequence-packing "
    "strategies a pretraining pipeline chooses between, at budget "
    "L=2048, on REAL BPE token counts (the "
    "per-document counts come from the same learned-merge encode "
    "fold as pack_bpe_sequences, not a whitespace estimate — the "
    "waste numbers now reflect the actual tokenizer): "
    "(1) pad_per_doc — each document padded to its own "
    "ceil(n/L) sequences (the naive collator); (2) pad_bucketed — "
    "full L-chunks emitted unpadded, tail fragments grouped into "
    "256-token length bands and packed floor(L/band_width) to a "
    "sequence (fixed-shape batching); (3) concat_chunk — the "
    "pack_sequences stream layout, one padded tail for the whole "
    "corpus. After the scan-side encode projection, everything is "
    "integer arithmetic over ONE token-count pass: two 1-row "
    "aggregates plus a band-bounded (<=8 rows) groupBy — no "
    "windows, no joins; utilization = total/(n_seq*L) is the only "
    "double, ROUND(6). Zero-token documents (possible in a real "
    "corpus) pack no sequences and are filtered identically on "
    "both engines — their (n-1) div L would otherwise floor "
    "differently (Spark div truncates, DuckDB // floors).",
)
def pack_strategy_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import bpe
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = bpe.learn_merges(docs, "text", k=16)
    # Eager checkpoint: the doc claims ONE token-count pass, but
    # without it the encode-fold subtree feeds base AND tails, each
    # referenced by multiple union branches — the optimizer keeps a
    # copy per branch and the fold executed ~6x per run. Checkpointing
    # the one-long-per-doc count table makes the single pass real.
    t = (
        bpe.doc_token_counts(docs, ["doc_id"], "text", merges)
        .select(F.col("n_tokens_bpe").cast("long").alias("n"))
        .filter(F.col("n") >= 1)
        .localCheckpoint(eager=False)
    )
    base = t.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum(F.expr("(n + 2047) div 2048")).cast("long").alias(
            "perdoc_seqs"
        ),
        F.sum(F.expr("(n - 1) div 2048")).cast("long").alias(
            "full_chunks"
        ),
    )
    bands = (
        t.select(
            (((F.col("n") - 1) % 2048 + 1 + 255) / 256)
            .cast("long")
            .alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # floor(L / band_width) tails per sequence = 8 div band.
    tail_seqs = bands.agg(
        F.sum(
            F.expr("(cnt + (8 div band) - 1) div (8 div band)")
        )
        .cast("long")
        .alias("tail_seqs")
    )
    b = base.crossJoin(F.broadcast(tail_seqs))
    util = lambda seqs: F.round(  # noqa: E731
        F.col("total_tokens") / (seqs * F.lit(2048.0)), 6
    )
    concat_seqs = F.expr("(total_tokens + 2047) div 2048").cast("long")
    buck_seqs = (F.col("full_chunks") + F.col("tail_seqs")).cast("long")
    rows = (
        b.select(
            F.lit("concat_chunk").alias("strategy"),
            concat_seqs.alias("n_sequences"),
            "total_tokens",
            util(concat_seqs).alias("utilization"),
        )
        .unionAll(
            b.select(
                F.lit("pad_bucketed"),
                buck_seqs,
                "total_tokens",
                util(buck_seqs),
            )
        )
        .unionAll(
            b.select(
                F.lit("pad_per_doc"),
                F.col("perdoc_seqs").cast("long"),
                "total_tokens",
                util(F.col("perdoc_seqs")),
            )
        )
    )
    return rows.orderBy("strategy")


@register(
    "eval_packing_regret",
    oracle=f"""
WITH planted AS (
  SELECT [256, 512, 1024, 2048][
           (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 4) + 1
         ] AS len
  FROM documents
),
pc AS (SELECT len, COUNT(*) AS cnt FROM planted GROUP BY len),
pb AS (
  SELECT CAST(SUM(len * cnt) AS BIGINT) AS total,
         CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(SUM((cnt + (8 // ((len + 255) // 256)) - 1)
                  // (8 // ((len + 255) // 256))) AS BIGINT) AS bucketed
  FROM pc
),
toks AS (SELECT {_TOKS_SQL} AS t FROM documents),
mg AS ({_BPE_MERGES_SQL}),
t AS (
  SELECT n FROM (
    SELECT CAST(list_sum([{_BPE_NTOK_SQL} for w in t if w != ''])
                AS BIGINT) AS n
    FROM toks CROSS JOIN mg)
  WHERE n >= 1
),
rb AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM((n + 2047) // 2048) AS BIGINT) AS perdoc_seqs,
         CAST(SUM((n - 1) // 2048) AS BIGINT) AS full_chunks
  FROM t
),
rtails AS (SELECT ((n - 1) % 2048) + 1 AS tail FROM t),
rbands AS (SELECT (tail + 255) // 256 AS band, COUNT(*) AS cnt
           FROM rtails GROUP BY 1),
rbuck AS (SELECT CAST(SUM((cnt + (8 // band) - 1) // (8 // band)) AS BIGINT)
            AS tail_seqs FROM rbands),
rows_ AS (
  SELECT 'planted_divisor' AS workload, 'pad_per_doc' AS strategy,
         n_docs AS n_sequences, (total + 2047) // 2048 AS bound_seqs,
         total
  FROM pb
  UNION ALL
  SELECT 'planted_divisor', 'pad_bucketed', bucketed,
         (total + 2047) // 2048, total FROM pb
  UNION ALL
  SELECT 'planted_divisor', 'greedy_divisor', (total + 2047) // 2048,
         (total + 2047) // 2048, total FROM pb
  UNION ALL
  SELECT 'real_bpe', 'pad_per_doc', perdoc_seqs,
         (total + 2047) // 2048, total FROM rb
  UNION ALL
  SELECT 'real_bpe', 'pad_bucketed', full_chunks + tail_seqs,
         (total + 2047) // 2048, total FROM rb, rbuck
  UNION ALL
  SELECT 'real_bpe', 'concat_chunk', (total + 2047) // 2048,
         (total + 2047) // 2048, total FROM rb
)
SELECT workload, strategy,
       CAST(n_sequences AS BIGINT) AS n_sequences,
       CAST(bound_seqs AS BIGINT) AS bound_seqs,
       ROUND(n_sequences / (1.0 * bound_seqs), 6) AS regret,
       ROUND(total / (n_sequences * 2048.0), 6) AS utilization
FROM rows_
ORDER BY workload, strategy
""",
    doc="Packing-efficiency EVAL against an optimal bound "
    "(pack_strategy_waste reports utilization ~0.95 but never "
    "against an optimum — this query closes that gap on both "
    "a provably-tight and a real workload). Budget L=2048. "
    "WORKLOAD 'planted_divisor': each doc gets a planted length "
    "256*2^(ascii(md5(doc_id)[0]) mod 4) in {256,512,1024,2048} — a "
    "divisor chain, so largest-first greedy packs with ZERO internal "
    "fragmentation (induction: after placing all items of each size "
    "s, every bin's leftover is a multiple of s, and every smaller "
    "size divides s — so each next class fills leftovers exactly "
    "before opening bins) and the LP lower bound ceil(total/L) IS "
    "the no-split optimum. Regret is therefore EXACT here: "
    "pad_per_doc pays ~2.1x (one bin per doc at mean len ~960), "
    "pad_bucketed's 256-token banding lands within a few "
    "part-filled bins of optimal, greedy_divisor achieves 1.0 by "
    "construction. WORKLOAD 'real_bpe': the same three-strategy "
    "comparison as pack_strategy_waste on REAL learned-BPE token "
    "counts, now reported as regret vs the same ceil(total/L) lower "
    "bound (tight for concat_chunk, a valid floor for the no-split "
    "strategies — the planted workload calibrates how close "
    "banding gets when the bound IS achievable). SCALE: planted leg "
    "is one scan-side md5 projection -> 4-row class groupBy -> "
    "1-row arithmetic agg; real leg reuses the one-pass BPE encode "
    "projection (broadcast 16-rule merge table) -> two bounded "
    "aggregates + a <=8-row band groupBy; the only cross joins are "
    "1-row broadcast totals. No windows, no driver loops; every "
    "strategy count is integer arithmetic, so the oracle matches "
    "exactly (regret/utilization are ROUND(6) doubles of "
    "identical-integer quotients).",
)
def eval_packing_regret(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import bpe
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Planted divisor-chain lengths: identical md5-derived class on
    # both engines (md5 of the decimal doc_id string; ascii of its
    # first hex char mod 4 picks the size class).
    cls = (
        F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 4
    )
    planted = docs.select(
        F.element_at(
            F.array(F.lit(256), F.lit(512), F.lit(1024), F.lit(2048)),
            (cls + 1).cast("int"),
        )
        .cast("long")
        .alias("len")
    )
    pc = planted.groupBy("len").agg(F.count(F.lit(1)).alias("cnt"))
    pb = pc.agg(
        F.sum(F.col("len") * F.col("cnt")).cast("long").alias("total"),
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum(
            F.expr(
                "(cnt + (8 div ((len + 255) div 256)) - 1)"
                " div (8 div ((len + 255) div 256))"
            )
        )
        .cast("long")
        .alias("bucketed"),
    )
    # Real-BPE leg: same machinery as pack_strategy_waste. The encode
    # fold is the expensive part and its output here is ONE long per
    # doc — checkpoint it eagerly so the fold runs once, not once per
    # union branch (rb feeds three strategy rows and rbands a fourth;
    # without this the optimizer re-executes the fold per subtree).
    merges = bpe.learn_merges(docs, "text", k=16)
    t = (
        bpe.doc_token_counts(docs, ["doc_id"], "text", merges)
        .select(F.col("n_tokens_bpe").cast("long").alias("n"))
        .filter(F.col("n") >= 1)
        .localCheckpoint(eager=False)
    )
    rb = t.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.expr("(n + 2047) div 2048")).cast("long").alias(
            "perdoc_seqs"
        ),
        F.sum(F.expr("(n - 1) div 2048")).cast("long").alias(
            "full_chunks"
        ),
    )
    rbands = (
        t.select(
            (((F.col("n") - 1) % 2048 + 1 + 255) / 256)
            .cast("long")
            .alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rbuck = rbands.agg(
        F.sum(F.expr("(cnt + (8 div band) - 1) div (8 div band)"))
        .cast("long")
        .alias("tail_seqs")
    )
    rbj = rb.crossJoin(F.broadcast(rbuck))
    bound = F.expr("(total + 2047) div 2048").cast("long")

    def _row(src: DataFrame, workload: str, strategy: str, nseq) -> DataFrame:
        nseq = nseq.cast("long")
        return src.select(
            F.lit(workload).alias("workload"),
            F.lit(strategy).alias("strategy"),
            nseq.alias("n_sequences"),
            bound.alias("bound_seqs"),
            F.round(nseq / bound, 6).alias("regret"),
            F.round(F.col("total") / (nseq * F.lit(2048.0)), 6).alias(
                "utilization"
            ),
        )

    rows = (
        _row(pb, "planted_divisor", "pad_per_doc", F.col("n_docs"))
        .unionAll(_row(pb, "planted_divisor", "pad_bucketed", F.col("bucketed")))
        .unionAll(_row(pb, "planted_divisor", "greedy_divisor", bound))
        .unionAll(_row(rb, "real_bpe", "pad_per_doc", F.col("perdoc_seqs")))
        .unionAll(
            _row(
                rbj,
                "real_bpe",
                "pad_bucketed",
                F.col("full_chunks") + F.col("tail_seqs"),
            )
        )
        .unionAll(_row(rb, "real_bpe", "concat_chunk", bound))
    )
    return rows.orderBy("workload", "strategy")


@register(
    "ann_mips_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_inner_product(q.qv::DOUBLE[], e.embedding::DOUBLE[])
           AS dot
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, vec_id, ROUND(dot, 6) AS dot, rank,
       TRUE AS reduction_agrees
FROM r WHERE rank <= 10
""",
    doc="Maximum-inner-product search (MIPS) top-10 — retrieval where "
    "magnitude matters (un-normalized rerankers, recommender dot "
    "scores), NOT cosine: argmax dot(q,x). The classic reduction "
    "(Bachrach et al. 2014 / Shrivastava & Li 2014) augments "
    "x -> [x, sqrt(M^2-|x|^2)] (M = corpus max norm, one broadcast "
    "1-row aggregate) and q -> [q, 0], making every candidate a "
    "constant-norm vector so cos(aug_q, aug_x) = dot(q,x)/(|q| M) — "
    "rank-equivalent to raw dot, which is what lets the existing "
    "cosine LSH/IVF index structures serve MIPS. The plan is the "
    "same two-phase salted exact top-k as ann_cosine_topk (partial "
    "per salt bucket, final over k x buckets survivors), scored by "
    "dot; a second rank over the identical survivor set orders by "
    "the augmented cosine, and reduction_agrees asserts the two "
    "rankings coincide IN-PLAN — if the reduction algebra or the "
    "augmentation ever broke rank order, the oracle (brute-force raw "
    "dot in DuckDB, TRUE literal) would fail on the boolean, not "
    "just on ordering.",
)
def ann_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    mx = emb.agg(F.max(S.norm(F.col("embedding"))).alias("m"))
    scored = (
        ensure_parallelism(emb)
        .join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .crossJoin(F.broadcast(mx))
        .select(
            "query_id",
            "vec_id",
            S.dot(F.col("query_vec"), F.col("embedding")).alias("dot"),
            (
                S.dot(F.col("query_vec"), F.col("embedding"))
                / (S.norm(F.col("query_vec")) * F.col("m"))
            ).alias("aug_cos"),
        )
    )
    salt = F.pmod(F.col("vec_id"), F.lit(32))
    partial_w = Window.partitionBy("query_id", salt).orderBy(
        F.desc("dot"), F.asc("vec_id")
    )
    final_w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("vec_id")
    )
    aug_w = Window.partitionBy("query_id").orderBy(
        F.desc("aug_cos"), F.asc("vec_id")
    )
    return (
        scored.withColumn("_prn", F.row_number().over(partial_w))
        .filter(F.col("_prn") <= 10)
        .withColumn("rank", F.row_number().over(final_w))
        .withColumn("_arn", F.row_number().over(aug_w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "vec_id",
            F.round("dot", 6).alias("dot"),
            "rank",
            (F.col("rank") == F.col("_arn")).alias("reduction_agrees"),
        )
    )


@register(
    "vocab_growth_heaps",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
uni AS (SELECT term, MIN(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(t) AS term FROM tok)
        WHERE term != '' GROUP BY term),
bi AS (SELECT g, MIN(doc_id) AS first_doc
       FROM (SELECT doc_id,
                    unnest([array_to_string(t[i:i+1], ' ')
                            for i in range(1, greatest(len(t)-1, 0)+1)])
                      AS g
             FROM tok WHERE len(t) >= 2)
       GROUP BY g),
ks AS (SELECT unnest([64, 128, 256, 512]) AS k)
SELECT k AS n_docs_prefix,
       CAST((SELECT COUNT(*) FROM uni WHERE first_doc < k) AS BIGINT)
         AS vocab_unigrams,
       CAST((SELECT COUNT(*) FROM bi WHERE first_doc < k) AS BIGINT)
         AS vocab_bigrams
FROM ks ORDER BY k
""",
    doc="Heaps'-law vocabulary growth: distinct unigram and bigram "
    "type counts over growing corpus prefixes (doc_id < k for k in "
    "64..512) — the curve that sizes tokenizer vocabularies and "
    "predicts novel-type rates at 100x the corpus (Heaps 1978: "
    "V(n) ~ K n^beta; the unigram curve here saturates — synthetic "
    "closed vocabulary — while bigrams keep growing, and comparing "
    "the two IS the diagnostic). One pass: explode to types, "
    "MIN(doc_id) partial-agg per type (the only shuffle, keyed by "
    "type), then every prefix count reads the tiny firsts table "
    "against the 4-row k list — prefix counts are NOT 4 corpus "
    "passes, and never re-scan the documents.",
)
def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", D.tokens(F.col("text")).alias("t"))
    uni = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    n = F.greatest(F.size("t") - 1, F.lit(0))
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", F.lit(1), n),
                    F.slice("t", F.lit(2), n),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("g"),
        )
        .groupBy("g")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    ks = spark.createDataFrame([(64,), (128,), (256,), (512,)], "k int")
    ucnt = (
        uni.crossJoin(F.broadcast(ks))
        .filter(F.col("first_doc") < F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("vocab_unigrams"))
    )
    bcnt = (
        bi.crossJoin(F.broadcast(ks))
        .filter(F.col("first_doc") < F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("vocab_bigrams"))
    )
    return (
        ks.join(ucnt, "k", "left")
        .join(bcnt, "k", "left")
        .select(
            F.col("k").alias("n_docs_prefix"),
            F.coalesce("vocab_unigrams", F.lit(0)).alias("vocab_unigrams"),
            F.coalesce("vocab_bigrams", F.lit(0)).alias("vocab_bigrams"),
        )
        .orderBy("n_docs_prefix")
    )


@register(
    "dedup_substring_span",
    oracle=f"""
WITH toks AS (SELECT doc_id,
              list_filter({_TOKS_SQL}, x -> x <> '') AS t
              FROM documents),
base AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens
         FROM toks WHERE len(t) > 0),
g AS (
  SELECT doc_id, n_tokens, u.pos AS pos, u.gh AS gh
  FROM (SELECT doc_id, n_tokens,
               unnest([{{'pos': i - 1,
                        'gh': md5(array_to_string(t[i:i+7], ' '))}}
                       for i in range(1, greatest(len(t) - 7, 0) + 1)]) AS u
        FROM base)
),
gd AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
        FROM g JOIN gd USING (gh))
),
cnt AS (SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY 1)
SELECT b.doc_id, b.n_tokens,
       COALESCE(c.dup_tokens, 0) AS dup_tokens,
       ROUND(COALESCE(c.dup_tokens, 0) * 1.0 / b.n_tokens, 6) AS dup_frac
FROM base b LEFT JOIN cnt c USING (doc_id)
ORDER BY dup_frac DESC, b.doc_id LIMIT 20
""",
    doc="Exact duplicated-SPAN fraction per document (Lee et al. "
    "2022, 'Deduplicating Training Data Makes Language Models "
    "Better' — public paper; their suffix-array metric restated on "
    "bounded windows): a token position counts as duplicated when "
    "any word 8-gram covering it also occurs in another document; "
    "report dup_tokens/n_tokens for the 20 most-contaminated docs. "
    "Differs from dedup_ngram_jaccard (whole-doc set similarity): "
    "this measures WHERE and HOW MUCH text is copied, the statistic "
    "the span-removal pass of a dedup pipeline is driven by. Scale "
    "shape: shingles ship as fixed-width xxhash64 LONG keys (never "
    "raw text, and not md5 STRINGS — measured "
    "the 32-char string key 10-25x slower at the sf1 decade: string "
    "keys dominate the checkpoint, hash-agg, and join) into one "
    "(gh -> distinct-doc count) partial-agg; duplicated "
    "positions are the union of overlapping [pos, pos+7] intervals, "
    "computed as explode + DISTINCT — per-doc bounded (<= n_tokens "
    "rows), never pairwise-quadratic; a 64-bit-collision false "
    "positive marks one extra gram duplicated at ~n^2/2^65 (~1e-7 "
    "at sf1), and the md5-keyed oracle's independent collision "
    "class would flip the gate on a real divergence. Oracle replays "
    "the identical construction (md5 keys — same equality classes); "
    "counts are integers, the one double is a single "
    "division, ROUND(6), ties broken by doc_id.",
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.tokenize import doc_tokens
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Zero-token docs (text normalizing to "") are excluded on BOTH
    # sides: they cannot carry a duplicated span, and 0/0 rounds
    # differently across engines (NULL vs NaN).
    base = doc_tokens(docs).select(
        "doc_id",
        "tokens",
        F.size("tokens").cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    # (doc, pos, gram-hash) — one explode per 8-gram start; feeds the
    # duplicate-key aggregate AND the coverage join, so materialize.
    g = (
        base.select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.expr(
                    "transform("
                    "  filter(sequence(0, greatest(size(tokens) - 8, 0)),"
                    "         i -> i <= size(tokens) - 8),"
                    "  i -> named_struct("
                    "    'pos', i,"
                    "    'gh', xxhash64(array_join(slice(tokens, i + 1, 8), ' '))))"
                )
            ).alias("s"),
        )
        .select("doc_id", "n_tokens", "s.pos", "s.gh")
        .localCheckpoint(eager=False)
    )
    gd = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    cov = (
        g.join(gd, "gh")
        .select(
            "doc_id", F.explode(F.sequence("pos", F.col("pos") + 7)).alias("p")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy(F.desc("dup_frac"), "doc_id")
        .limit(20)
    )


@register(
    "multimodal_video_framesample",
    oracle="""
WITH g AS (SELECT doc_id AS media_id,
                  2 + doc_id % 6 AS n_frames,
                  16 + (doc_id % 3) * 8 AS width,
                  16 + (doc_id % 2) * 8 AS height
           FROM documents),
f AS (SELECT media_id, width, height,
             unnest(range(0, n_frames, 2)) AS frame_idx
      FROM g)
SELECT media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height,
       CAST(('0x' || substr(sha256(media_id || ':' || frame_idx), 1, 2))::INT
            AS BIGINT) AS min_gray,
       CAST(('0x' || substr(sha256(media_id || ':' || frame_idx), 1, 2))::INT
            AS BIGINT) AS max_gray
FROM f ORDER BY media_id, frame_idx
""",
    doc="REAL video frame sampling (a real container, not the "
    "synthetic SGMM one): each document becomes an "
    "AVI/MJPEG container (operators/multimodal.py encode_avi_mjpeg — "
    "real RIFF hdrl/movi/idx1 structure) holding 2 + doc_id % 6 "
    "grayscale baseline-JPEG frames of (16 + id%3*8) x (16 + id%2*8); "
    "the sampling stage PARSES the container (header validation, "
    "MJPEG demux, idx1 cross-check), keeps every 2nd frame, and runs "
    "the real JPEG decoder on kept frames only (decode-after-filter), "
    "emitting decoded-pixel extrema. Frame i is FLAT at gray level "
    "sha256('id:i')[0] encoded at quality 100 — all-ones quant table, "
    "DC-only blocks — so decode is provably EXACT and the oracle "
    "re-derives min_gray = max_gray = the sha byte in SQL: a green "
    "row proves container write, parse, demux, stride, and the full "
    "JPEG decode path byte-for-byte, with no pinned facts. Non-MJPEG "
    "codecs (inter-frame territory) remain NotImplementedError by "
    "name. SCALE: containers are born and die task-side "
    "(mapInPandas), 1-to-many frame expansion happens inside the "
    "task, payload bytes never shuffle; at 100 TB the same operator "
    "reads payload columns from parquet with the payload pruned on "
    "non-video queries.",
)
def multimodal_video_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import multimodal as M
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # Container build + parse + demux + frame decode are fused into
    # ONE mapInPandas (the unfused chain ships every AVI payload
    # Python -> JVM -> Python through two Arrow crossings), with no
    # presentation orderBy. At 100 TB
    # payloads come from parquet and the unfused avi_frame_sample
    # operator stands unchanged.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return M.mjpeg_framesample_fused(docs, every_n=2)


@register(
    "embedding_hard_negatives",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id, e.label AS neg_label,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
  FROM q, embeddings e WHERE e.label <> q.ql),
r AS (SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, rank, vec_id, neg_label, ROUND(cos, 6) AS cos
FROM r WHERE rank <= 3 ORDER BY query_id, rank
""",
    doc="Hard-negative mining for contrastive training (the triplet/ "
    "InfoNCE data-prep step): for each anchor vector, the 3 most "
    "cosine-similar candidates with a DIFFERENT label — the "
    "near-miss examples that actually move a contrastive loss, as "
    "opposed to random negatives. Same scale shape as "
    "ann_cosine_topk: broadcast(anchors) x one pass over the "
    "candidate corpus (the label inequality rides the broadcast "
    "join's filter — self-matches drop for free since self shares "
    "its own label), then the salted two-phase top-k so no reducer "
    "sees a full candidate set. At 100 TB the exact pass swaps in "
    "the IVF/LSH candidate generators from operators/similarity.py "
    "unchanged — mining only needs candidates, the label filter and "
    "top-k are identical. Ties broken by vec_id; ROUND(6) cosine.",
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("ql"),
    )
    scored = (
        ensure_parallelism(emb)
        .join(F.broadcast(q))
        .filter(F.col("label") != F.col("ql"))
        .select(
            "query_id",
            "vec_id",
            F.col("label").alias("neg_label"),
            S.cosine(F.col("qv"), F.col("embedding")).alias("cos"),
        )
    )
    salt = F.pmod(F.col("vec_id"), F.lit(32))
    pw = Window.partitionBy("query_id", salt).orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    fw = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("_prn", F.row_number().over(pw))
        .filter(F.col("_prn") <= 3)
        .withColumn("rank", F.row_number().over(fw))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "rank", "vec_id", "neg_label",
            F.round("cos", 6).alias("cos"),
        )
        .orderBy("query_id", "rank")
    )


# --- URL canonicalization + canonical-form dedup --------------------

# The documents table carries no URL column, so (like text_pii_scan's
# synthetic PII) each doc derives a deterministic MESSY url from its
# doc_id, identically in Spark and DuckDB: page = doc_id % 37 is the
# logical page, h = page % 3 the host, v = doc_id % 5 the spelling
# variant (case/default-port/tracking-params/slashes/fragment/param
# order). 37 ⟂ 5, so every page sees all five variants.
_URL_SYNTH_SQL = """
SELECT doc_id,
       CASE doc_id % 5
         WHEN 0 THEN 'HTTPS://Example' || ((doc_id % 37) % 3) || '.COM:443//a/'
                     || (doc_id % 37) || '?utm_source=feed&x=1&b=2#top'
         WHEN 1 THEN 'https://example' || ((doc_id % 37) % 3) || '.com/a/'
                     || (doc_id % 37) || '/?b=2&x=1'
         WHEN 2 THEN 'http://EXAMPLE' || ((doc_id % 37) % 3) || '.com:80/a/'
                     || (doc_id % 37) || '?x=1&b=2&utm_campaign=c'
         WHEN 3 THEN 'https://example' || ((doc_id % 37) % 3) || '.com:8443/a/'
                     || (doc_id % 37) || '?x=1&b=2'
         ELSE 'https://example' || ((doc_id % 37) % 3) || '.com/a/'
                     || (doc_id % 37) || '?fbclid=abc123&x=1&b=2#frag'
       END AS raw_url
FROM documents
"""


def _synth_raw_url() -> F.Column:
    page = (F.col("doc_id") % 37).cast("string")
    h = ((F.col("doc_id") % 37) % 3).cast("string")
    v = F.col("doc_id") % 5
    return (
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTPS://Example"), h, F.lit(".COM:443//a/"), page,
                F.lit("?utm_source=feed&x=1&b=2#top"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://example"), h, F.lit(".com/a/"), page,
                F.lit("/?b=2&x=1"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("http://EXAMPLE"), h, F.lit(".com:80/a/"), page,
                F.lit("?x=1&b=2&utm_campaign=c"),
            ),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("https://example"), h, F.lit(".com:8443/a/"), page,
                F.lit("?x=1&b=2"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example"), h, F.lit(".com/a/"), page,
                F.lit("?fbclid=abc123&x=1&b=2#frag"),
            )
        )
    )


def _url_canon_oracle() -> str:
    from hdfs_parquet_importer_spark.operators.urls import canonicalize_url_sql

    return f"""
WITH raw AS ({_URL_SYNTH_SQL})
SELECT doc_id, raw_url, {canonicalize_url_sql('raw_url')} AS canon_url
FROM raw
"""


@register(
    "url_canonicalize",
    oracle=_url_canon_oracle(),
    doc="URL canonicalization (operators/urls.py): lowercase "
    "scheme/host, strip default ports and fragments, collapse "
    "duplicate and trailing slashes, drop utm_*/ref/fbclid/gclid "
    "tracking params, sort the survivors — the standard crawl "
    "pre-dedup stage. Pure per-row Catalyst regexp/array expressions "
    "(zero UDFs, zero shuffles); the DuckDB twin replays the exact "
    "rule pipeline via canonicalize_url_sql.",
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.urls import canonicalize_url

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _synth_raw_url().alias("raw_url"),
    ).withColumn("canon_url", canonicalize_url(F.col("raw_url")))


def _url_dedup_canon_expr() -> str:
    from hdfs_parquet_importer_spark.operators.urls import canonicalize_url_sql

    return canonicalize_url_sql("raw_url")


@register(
    "dedup_url_canonical",
    oracle=f"""
WITH raw AS ({_URL_SYNTH_SQL}),
canon AS (
  SELECT doc_id, {_url_dedup_canon_expr()} AS canon_url FROM raw
)
SELECT canon_url,
       CAST(COUNT(*) AS BIGINT) AS n_dups,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc
FROM canon
GROUP BY canon_url
ORDER BY n_dups DESC, canon_url
LIMIT 20
""",
    doc="Exact dedup on the CANONICAL url: variants that differ only "
    "in case/port/tracking-params/slashes/fragment/param-order "
    "collapse to one group; a different scheme or a non-default port "
    "stays distinct. One hash-groupBy exchange on the canonical key — "
    "the same shape as dedup_exact, which this stage feeds at crawl "
    "scale. keep_doc = MIN(doc_id) is the deterministic survivor "
    "policy. Top-20 by (n_dups DESC, canon_url) is a total order, so "
    "the LIMIT is deterministic.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.urls import canonicalize_url

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", canonicalize_url(_synth_raw_url()).alias("canon_url")
        )
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
        .orderBy(F.desc("n_dups"), "canon_url")
        .limit(20)
    )


@register(
    "eval_semdedup_recall",
    oracle="""
WITH t AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS va,
         [embedding[i] + 0.005 * ((vec_id + i - 1) % 7 - 3)
          for i in range(1, len(embedding) + 1)] AS vb
  FROM embeddings WHERE vec_id % 10 = 0),
m AS (
  SELECT vec_id,
         list_dot_product(
           list_transform(va, x -> x / sqrt(list_dot_product(va, va))),
           list_transform(vb, x -> x / sqrt(list_dot_product(vb, vb))))
           AS cos,
         (4*CAST(va[1] > 0 AS INT) + 2*CAST(va[2] > 0 AS INT)
          + 1*CAST(va[3] > 0 AS INT))
         = (4*CAST(vb[1] > 0 AS INT) + 2*CAST(vb[2] > 0 AS INT)
            + 1*CAST(vb[3] > 0 AS INT)) AS same3,
         (32*CAST(va[1] > 0 AS INT) + 16*CAST(va[2] > 0 AS INT)
          + 8*CAST(va[3] > 0 AS INT) + 4*CAST(va[4] > 0 AS INT)
          + 2*CAST(va[5] > 0 AS INT) + 1*CAST(va[6] > 0 AS INT))
         = (32*CAST(vb[1] > 0 AS INT) + 16*CAST(vb[2] > 0 AS INT)
            + 8*CAST(vb[3] > 0 AS INT) + 4*CAST(vb[4] > 0 AS INT)
            + 2*CAST(vb[5] > 0 AS INT) + 1*CAST(vb[6] > 0 AS INT))
           AS same6
  FROM t)
SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       ROUND(MIN(cos), 6) AS min_pair_cosine,
       CAST(SUM(CASE WHEN same3 THEN 1 ELSE 0 END) AS BIGINT) AS hit_3,
       ROUND(SUM(CASE WHEN same3 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS recall_3,
       CAST(SUM(CASE WHEN same6 THEN 1 ELSE 0 END) AS BIGINT) AS hit_6,
       ROUND(SUM(CASE WHEN same6 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS recall_6
FROM m
""",
    doc="SemDeDup-recall EVAL against planted TRUE near-duplicates "
    "(the eval_dedup_recall pattern applied to embedding dedup — and "
    "the direct measurement of SCALING.md's argued claim that real "
    "near-dups survive finer SRP buckets far better than the "
    "borderline threshold-0.35 pairs the knob study measured): one "
    "planted near-copy per 10 vectors, v' = v + 0.005*((vec_id + "
    "dim) % 7 - 3) per dimension — a deterministic <=0.015/dim "
    "perturbation both engines replay exactly in double arithmetic. "
    "For each truth pair: the exact semdedup cosine (normalize-then-"
    "dot, the operator's own IEEE form; min over pairs reported as "
    "the planted margin) and whether orig and copy land in the SAME "
    "SRP bucket at bits=3 and bits=6 (sign of the first k dims — "
    "operators/semdedup.srp_bucket). Since every planted cosine "
    "is >> threshold 0.35, a shared bucket IS a detected edge, so "
    "same-bucket fraction = direct-edge detection recall (a lower "
    "bound on component-level recall — chain rescues can only add). "
    "Measured at the gate SF (sf0.01, seed 42): min planted cosine "
    "0.9967, recall 0.96 at bits=3 and 0.94 at bits=6 — vs the knob "
    "study's 24% edge recall on borderline pairs at the same 3->6 "
    "refinement (SCALING.md), the quantified confirmation that the "
    "production bits knob prices out THRESHOLD-pairs, not true "
    "duplicates. "
    "SCALE: planting is a projection; the eval joins 50 fixed pairs "
    "on vec_id and folds one bounded aggregate — no quadratic stage "
    "anywhere, unlike the knob study's full edge scan. ORACLE: the "
    "identical perturbation, cosine form (sequential-fold parity "
    "with list_dot_product), and bucket bit arithmetic replayed in "
    "SQL; bucket ids are compared pairwise, so the oracle inlines "
    "srp_bucket_sql's exact weighted-sign sums for k=3 and k=6.",
)
def eval_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.semdedup import srp_bucket
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    base = emb.filter(F.col("vec_id") % 10 == 0)
    pairs = base.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("va"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + 0.005 * (((F.col("vec_id") + i) % 7 - 3).cast("double")),
        ).alias("vb"),
    )
    na, nb = S.norm(F.col("va")), S.norm(F.col("vb"))
    scored = (
        pairs.withColumn("na", na)
        .withColumn("nb", nb)
        .select(
            S.dot(
                F.transform("va", lambda x: x / F.col("na")),
                F.transform("vb", lambda x: x / F.col("nb")),
            ).alias("cos"),
            (
                srp_bucket(F.col("va"), 3) == srp_bucket(F.col("vb"), 3)
            ).alias("same3"),
            (
                srp_bucket(F.col("va"), 6) == srp_bucket(F.col("vb"), 6)
            ).alias("same6"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.round(F.min("cos"), 6).alias("min_pair_cosine"),
        F.sum(F.col("same3").cast("int")).cast("long").alias("hit_3"),
        F.round(
            F.sum(F.col("same3").cast("int")) / F.count(F.lit(1)), 6
        ).alias("recall_3"),
        F.sum(F.col("same6").cast("int")).cast("long").alias("hit_6"),
        F.round(
            F.sum(F.col("same6").cast("int")) / F.count(F.lit(1)), 6
        ).alias("recall_6"),
    )


@register(
    "dedup_span_removal",
    oracle=f"""
WITH toks AS (SELECT doc_id,
              list_filter({_TOKS_SQL}, x -> x <> '') AS t
              FROM documents),
base AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens
         FROM toks WHERE len(t) > 0),
g AS (
  SELECT doc_id, u.pos AS pos, u.gh AS gh
  FROM (SELECT doc_id,
               unnest([{{'pos': i - 1,
                        'gh': md5(array_to_string(t[i:i+7], ' '))}}
                       for i in range(1, greatest(len(t) - 7, 0) + 1)]) AS u
        FROM base)
),
gd AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT doc_id, list(DISTINCT p) AS ps
  FROM (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
        FROM g JOIN gd USING (gh))
  GROUP BY doc_id
),
cleaned AS (
  SELECT b.doc_id, b.n_tokens,
         [b.t[i] for i in range(1, len(b.t) + 1)
          if NOT list_contains(coalesce(c.ps, CAST([] AS BIGINT[])), i - 1)]
           AS kept
  FROM base b LEFT JOIN cov c USING (doc_id))
SELECT doc_id, n_tokens,
       CAST(len(kept) AS BIGINT) AS kept_tokens,
       CAST(n_tokens - len(kept) AS BIGINT) AS removed_tokens,
       md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
FROM cleaned ORDER BY doc_id
""",
    doc="Duplicated-span REMOVAL — the transformation "
    "dedup_substring_span only measures (Lee et al. 2022's ExactSubstr "
    "dedup applies exactly this: delete the duplicated span, keep the "
    "remainder): every token position covered by a cross-document "
    "duplicated word 8-gram is dropped, the surviving tokens are "
    "re-joined in order, and each document reports kept/removed counts "
    "plus md5 of the cleaned token stream — so the gate proves the "
    "RECONSTRUCTION is byte-exact, not just the counts. Same candidate "
    "machinery as dedup_substring_span (one 8-gram explode, grams "
    "travel as fixed-width hash keys, (gh -> distinct-doc count) "
    "partial agg); the removal step joins the per-doc covered-position "
    "set back and filters by index in a pure Catalyst lambda — "
    "per-task memory is bounded by one document's token count, the "
    "join keys are doc_id, and nothing is pairwise. The internal gram "
    "key is xxhash64 (8-byte long), not an md5 STRING: the sf1 decade "
    "measured 10-25x faster with long keys — 32-char string keys "
    "dominate the checkpoint, hash-agg, and join at scale (the same "
    "key rule as dedup_substring_span). A "
    "64-bit collision marks one extra gram duplicated at ~n^2/2^65 "
    "(~1e-7 at sf1) — the oracle's md5 key has its own independent "
    "collision class, and the gate would catch a divergence. ORACLE: "
    "the identical construction replayed in SQL (md5 keys — same "
    "equality classes), including the empty-cover left join and the "
    "order-preserving comprehension; md5('') documents that a fully-"
    "duplicated doc cleans to the empty string rather than vanishing.",
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.tokenize import doc_tokens
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Tokens are needed twice (8-gram explode + reconstruction) and
    # Spark does not dedupe common subplans — materialize one
    # tokenize pass (same contract as dedup_substring_span's g).
    base = (
        doc_tokens(docs)
        .select(
            "doc_id",
            "tokens",
            F.size("tokens").cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .localCheckpoint(eager=False)
    )
    g = (
        base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform("
                    "  filter(sequence(0, greatest(size(tokens) - 8, 0)),"
                    "         i -> i <= size(tokens) - 8),"
                    "  i -> named_struct("
                    "    'pos', i,"
                    "    'gh', xxhash64(array_join(slice(tokens, i + 1, 8), ' '))))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.gh")
        .localCheckpoint(eager=False)
    )
    gd = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    covset = (
        g.join(gd, "gh")
        .select(
            "doc_id",
            F.explode(F.sequence("pos", F.col("pos") + 7)).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("p")).alias("cov"))
    )
    kept = F.filter(
        "tokens", lambda x, i: ~F.array_contains(F.col("cov"), i)
    )
    return (
        base.join(covset, "doc_id", "left")
        .withColumn("cov", F.coalesce("cov", F.array().cast("array<int>")))
        .select(
            "doc_id",
            "n_tokens",
            kept.alias("kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("kept").cast("long").alias("kept_tokens"),
            (F.col("n_tokens") - F.size("kept")).cast("long").alias(
                "removed_tokens"
            ),
            F.md5(F.array_join("kept", " ")).alias("kept_md5"),
        )
    )


@register(
    "eval_dim_truncation_recall",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
dims AS (SELECT unnest([16, 32]) AS n_dims),
full_s AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
full_r AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           FROM full_s),
exact AS (SELECT query_id, vec_id FROM full_r WHERE rank <= 10),
tr_s AS (
  SELECT d.n_dims, q.query_id, e.vec_id,
         list_cosine_similarity((q.qv[1:d.n_dims])::DOUBLE[],
                                (e.embedding[1:d.n_dims])::DOUBLE[]) AS cos
  FROM dims d, q, embeddings e WHERE e.vec_id <> q.query_id),
tr_r AS (SELECT *, row_number() OVER
           (PARTITION BY n_dims, query_id ORDER BY cos DESC, vec_id) AS rank
         FROM tr_s),
tr AS (SELECT n_dims, query_id, vec_id FROM tr_r WHERE rank <= 10),
hits AS (SELECT t.n_dims, t.query_id, COUNT(*) AS n_hit
         FROM tr t JOIN exact e
           ON e.query_id = t.query_id AND e.vec_id = t.vec_id
         GROUP BY t.n_dims, t.query_id)
SELECT d.n_dims, q.query_id,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       ROUND(COALESCE(h.n_hit, 0) / 10.0, 6) AS recall
FROM dims d CROSS JOIN q
LEFT JOIN hits h ON h.n_dims = d.n_dims AND h.query_id = q.query_id
ORDER BY d.n_dims, q.query_id
""",
    doc="Dimension-truncation retrieval EVAL (the Matryoshka / MRL "
    "question, Kusupati et al. 2022: how much recall does serving a "
    "PREFIX of each embedding cost?): recall@10 of exact cosine "
    "retrieval over the first 16 and 32 of 64 dimensions against the "
    "full-dimension exact top-10, per query. Unlike the pinned-fact "
    "oracles of eval_ann_recall / eval_simhash_recall, BOTH sides "
    "here are deterministic brute-force top-k that DuckDB re-derives "
    "independently at ANY scale factor — a full value oracle with no "
    "pins, the strongest tier in the eval matrix. The measurement "
    "completes the ANN eval family along the third axis: "
    "eval_ann_recall prices the INDEX approximation, "
    "eval_semdedup_recall the BUCKETING, this the REPRESENTATION "
    "(prefix truncation = 4x/2x smaller vectors and proportionally "
    "cheaper dot products — the standard first-stage/rerank split). "
    "SCALE: ONE brute pass scores all three widths (segmented "
    "left-to-right folds share the prefix arithmetic bit-identically "
    "with the old per-width cosines) into a single salted two-phase "
    "top-k over a broadcast query set partitioned by (n_dims, "
    "query_id); hit "
    "sets join on (query_id, vec_id); the per-(dims, query) counts "
    "are window-free bounded aggregates. Ties broken by vec_id on "
    "both engines; only set MEMBERSHIP crosses the engine boundary, "
    "never a floating-point score. KNOWN FRAGILITY: the "
    "membership gate still assumes Spark's and DuckDB's cosine agree "
    "on the ORDER of near-ties at the rank-10 boundary — two "
    "candidates within ~1 ulp could rank oppositely across engines "
    "and flip one set element at some other SF. Measured margin "
    "(DuckDB, the oracle's own CTEs): min |cos(rank10)-cos(rank11)| "
    "across all (dims, query) cells is 2.3e-4 / 1.5e-4 / 2.0e-5 at "
    "sf0.001/0.01/0.1 — 11+ orders above double rounding, so the "
    "gate is safe at every provisioned SF; if a future SF trips the "
    "hash gate here, re-measure this margin before suspecting the "
    "operator.",
)
def eval_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    # ONE scan scores all three retrieval widths (three full
    # brute_force_topk passes would re-read and re-join the
    # candidate set per width). The 16/32/full cosines share their
    # prefix arithmetic via segmented folds: aggregate() accumulates
    # strictly left-to-right, so seeding the next segment's fold with
    # the previous segment's accumulator reproduces the monolithic
    # fold over the sliced array BIT-IDENTICALLY — the same doubles
    # the per-width cosine() produced before.
    def _seg(col: str, start: int, length):
        return F.slice(F.col(col), F.lit(start), length)

    def _seg_dot(start: int, length, init: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                _seg("query_vec", start, length),
                _seg("embedding", start, length),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            init,
            lambda acc, x: acc + x,
        )

    def _seg_ssq(col: str, start: int, length, init: Column) -> Column:
        return F.aggregate(
            _seg(col, start, length),
            init,
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )

    tail = F.size(F.col("embedding")) - F.lit(32)
    d16 = _seg_dot(1, F.lit(16), F.lit(0.0))
    d32 = _seg_dot(17, F.lit(16), d16)
    d64 = _seg_dot(33, tail, d32)
    qs16 = _seg_ssq("query_vec", 1, F.lit(16), F.lit(0.0))
    qs32 = _seg_ssq("query_vec", 17, F.lit(16), qs16)
    qs64 = _seg_ssq("query_vec", 33, tail, qs32)
    es16 = _seg_ssq("embedding", 1, F.lit(16), F.lit(0.0))
    es32 = _seg_ssq("embedding", 17, F.lit(16), es16)
    es64 = _seg_ssq("embedding", 33, tail, es32)

    def _cos(dot: Column, qs: Column, es: Column) -> Column:
        return dot / F.nullif(F.sqrt(qs) * F.sqrt(es), F.lit(0.0))

    legs = F.explode(
        F.array(
            F.struct(
                F.lit(16).cast("int").alias("n_dims"),
                _cos(d16, qs16, es16).alias("cos"),
            ),
            F.struct(
                F.lit(32).cast("int").alias("n_dims"),
                _cos(d32, qs32, es32).alias("cos"),
            ),
            F.struct(
                F.lit(64).cast("int").alias("n_dims"),
                _cos(d64, qs64, es64).alias("cos"),
            ),
        )
    )
    # Self-matches dropped BEFORE ranking: top-10 of the non-self
    # candidates is the same set the old k=11-then-drop-self pass
    # kept (self either occupied one of the 11 slots or none).
    scored = (
        ensure_parallelism(emb)
        .join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", legs.alias("_leg"))
        .select(
            F.col("_leg.n_dims").alias("n_dims"),
            "query_id",
            "vec_id",
            F.col("_leg.cos").alias("cos"),
        )
    )
    # One salted two-phase top-k ranks all (width, query) legs; the
    # 150-row result feeds the truth split AND both hit joins.
    top = (
        S.salted_topk(
            scored,
            ["n_dims", "query_id"],
            "vec_id",
            10,
            [F.desc("cos"), F.asc("vec_id")],
            salt_buckets=32,
        )
        .select("n_dims", "query_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    exact = top.filter(F.col("n_dims") == 64).select("query_id", "vec_id")
    hits = (
        top.filter(F.col("n_dims") != 64)
        .join(F.broadcast(exact), ["query_id", "vec_id"])
        .groupBy("n_dims", "query_id")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    grid = q.select(
        "query_id",
        F.explode(
            F.array(F.lit(16).cast("int"), F.lit(32).cast("int"))
        ).alias("n_dims"),
    )
    return grid.join(F.broadcast(hits), ["n_dims", "query_id"], "left").select(
        "n_dims",
        "query_id",
        F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("_h"), F.lit(0)).cast("long") / F.lit(10.0), 6
        ).alias("recall"),
    )


@register(
    "eval_simhash_recall",
    oracle="""
WITH truth AS (
  SELECT DISTINCT LEAST(d.doc_id, s.doc_id) AS id_a,
                  GREATEST(d.doc_id, s.doc_id) AS id_b
  FROM documents d JOIN documents s
    ON md5(d.text) = md5(s.text || ' dup') AND d.doc_id <> s.doc_id),
pinned(n_hit, avg_hamming, max_hamming) AS (
  VALUES (CAST(4 AS BIGINT), 5.625, CAST(11 AS BIGINT)))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       p.n_hit,
       ROUND(p.n_hit * 1.0
             / (SELECT COUNT(*) FROM truth), 6) AS recall,
       p.avg_hamming, p.max_hamming
FROM pinned p
""",
    doc="SimHash-recall EVAL against the planted-dup truth — the "
    "measurement that completes the dedup-eval matrix (exact: "
    "trivially 1.0; MinHash: eval_dedup_recall measured 1.0; "
    "SemDeDup: eval_semdedup_recall 0.96/0.94) and documents "
    "SimHash's HONEST boundary: a single appended token (' dup') "
    "perturbs the +-1 vote of EVERY fingerprint bit, and on this "
    "corpus's short documents (~40 tokens, narrow vote margins) it "
    "flips 5.6 bits on average — so the shipped Hamming<=3 banding "
    "detects only 4 of 24 planted pairs (recall 0.17, max distance "
    "11, min 0 where the token was already present). The SAME truth "
    "set is fully recovered by MinHash-LSH (eval_dedup_recall: "
    "recall 1.0): vote margins scale with document length, so "
    "SimHash is the right tool for LONG near-identical documents "
    "(its classic web-page use), while shingle-based MinHash "
    "dominates for short-document single-edit dups — route by "
    "length, do not raise max_hamming (the 4-chunk pigeonhole caps "
    "at 3; re-banding to catch distance 11 would admit ~anything). "
    "SCALE: fingerprints are computed ONLY for truth-pair members "
    "(a left-semi join, ~2x planted count), per-pair work is one "
    "XOR/bit_count; three 1-row aggregates assemble the row. "
    "ORACLE: n_truth re-derived independently via the oracle's own "
    "md5 join (the Spark side joins on xxhash64 longs — string-key "
    "rule — since only content equality crosses engines); the "
    "hamming-side values are PINNED FIXED FACTS at the gate SF "
    "(deterministic xxhash64 fingerprints, same contract as "
    "eval_ann_recall's pinned per-index hits) — a fingerprint or "
    "banding regression moves them and flips the gate. Pins hold at "
    "sf0.01 only; at other SFs the Spark side still reports true "
    "values.",
)
def eval_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Truth pairs join on 8-byte xxhash64 longs (string-key rule:
    # k never reaches output; the oracle's md5 is its own bridge).
    hp = D.content_pair_hashes(docs)  # one text scan for both hashes
    dup_side = hp.select("doc_id", F.col("kd").alias("k"))
    src_side = hp.select(
        F.col("doc_id").alias("src_id"), F.col("ks").alias("k")
    )
    truth = (
        dup_side.join(src_side, "k")
        .filter(F.col("doc_id") != F.col("src_id"))
        .select(
            F.least("doc_id", "src_id").alias("id_a"),
            F.greatest("doc_id", "src_id").alias("id_b"),
        )
        .distinct()
        # Read three times (member semi-join + both fingerprint
        # joins); tiny (~5% of docs).
        .localCheckpoint(eager=False)
    )
    members = (
        truth.select(F.col("id_a").alias("doc_id"))
        .union(truth.select(F.col("id_b")))
        .distinct()
    )
    fp = D.simhash_fingerprints(
        docs.join(members, "doc_id", "left_semi"), "doc_id", "text"
    ).localCheckpoint(eager=False)
    fa = fp.select(F.col("id").alias("id_a"), F.col("fp").alias("fa"))
    fb = fp.select(F.col("id").alias("id_b"), F.col("fp").alias("fb"))
    h = (
        truth.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming")
        )
    )
    return h.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.sum((F.col("hamming") <= 3).cast("int")).cast("long").alias("n_hit"),
        F.round(
            F.sum((F.col("hamming") <= 3).cast("int")) / F.count(F.lit(1)), 6
        ).alias("recall"),
        F.round(F.avg("hamming"), 6).alias("avg_hamming"),
        F.max("hamming").cast("long").alias("max_hamming"),
    )
