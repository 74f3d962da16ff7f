"""Corpus mixing, splitting and stratified-sampling operators.

The data-mixing half of a training-data pipeline: once documents are
deduplicated and quality-scored, the remaining decisions are WHICH
rows go into the run (stratified sampling, per-domain quotas), HOW the
corpus splits into train/val/test, and whether sources leak content
into each other. Everything here is built on one primitive — a
DETERMINISTIC hash coin, ``substr(md5(key), 1, 4)`` compared against a
hex threshold — because at 100 TB a sampling decision must be:

* reproducible across runs/retries (no RNG state, no seed plumbing);
* evaluable per-row in the scan stage (a pure projection + filter —
  no shuffle, no global pass, trivially parallel on 1000 executors);
* portable (the SAME predicate runs in any engine, which is also what
  makes an exact value-level DuckDB oracle possible — Bernoulli
  ``df.sample`` is only statistically checkable, see
  ``sample_bernoulli``).

fraction f -> threshold hex(floor(f * 16^4)) zero-padded to 4 chars;
md5 is uniform on the prefix, so P(prefix < thr) = f up to 2^-16.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators import dedup as D
from hdfs_parquet_importer_spark.operators.util import ensure_parallelism
from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.queries.llm import (
    _BPE_MERGES_SQL,
    _BPE_NTOK_SQL,
    _NORM_SQL,
    _TOKS_SQL,
    _bpe_encode_sql,
    _bpe_ntok_sql,
    _shingles_sql,
)
from hdfs_parquet_importer_spark.tables import load_table


def hash_coin(key: Column) -> Column:
    """First 4 hex chars of md5(key as string) — a uniform [0,1) coin
    with 2^-16 resolution, identical in Spark and DuckDB."""
    return F.substring(F.md5(key.cast("string")), 1, 4)


def frac_threshold(f: float) -> str:
    """Hex threshold t with P(hash_coin < t) == floor(f * 16^4) / 16^4
    (int() truncates — callers get the next-lower 2^-16 step, never a
    larger-than-f probability, not round()).

    The comparison is LEXICOGRAPHIC on 4-char lowercase hex, so the
    threshold must stay 4 chars: f == 1.0 would format to the 5-char
    '10000', which sorts BELOW almost every hash ('4abc' > '10000')
    and would silently select nothing. 'g' sorts above every hex
    digit, so it is the keep-everything sentinel.
    """
    n = int(f * 0x10000)
    if n >= 0x10000:
        return "g"
    return format(n, "04x")


@register(
    "sample_stratified",
    oracle="""
SELECT lang,
       COUNT(*) AS n_sampled,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < CASE WHEN lang = 'en' THEN '4000' ELSE '8000' END
GROUP BY lang ORDER BY lang
""",
    doc="Stratified sampling with per-stratum rates (downweight the "
    "overrepresented language: en 25%, others 50%) via the md5 hash "
    "coin — deterministic, seedless, reproducible across engines, "
    "which is why the oracle can check EXACT sampled id/char sums "
    "rather than statistical bounds. Pure scan-stage projection + "
    "filter; the only shuffle is the 5-row final agg.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(frac_threshold(0.25))).otherwise(
        F.lit(frac_threshold(0.5))
    )
    return (
        docs.filter(hash_coin(F.col("doc_id")) < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_sampled"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_train_eval_split",
    oracle="""
SELECT CASE WHEN h < 'e666' THEN 'train'
            WHEN h < 'f333' THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
FROM (SELECT lang, n_chars,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
      FROM documents)
GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="Deterministic 90/5/5 train/val/test split on the md5 hash "
    "coin: membership is a pure function of doc_id, so any job (or "
    "engine) re-derives the same split without a membership table — "
    "the property that keeps a 100 TB split consistent across the "
    "dozens of jobs that consume it. Output: per (split, lang) doc "
    "and char counts (also the skew audit: a language's val share "
    "should track its corpus share).",
)
def corpus_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = hash_coin(F.col("doc_id"))
    split = (
        F.when(h < frac_threshold(0.9), "train")
        .when(h < frac_threshold(0.95), "val")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
        .orderBy("split", "lang")
    )


@register(
    "mix_domain_quota",
    oracle="""
WITH ranked AS (
  SELECT source, n_chars, doc_id,
         SUM(n_chars) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM ranked WHERE cum <= 3000
GROUP BY source ORDER BY source
""",
    doc="Per-domain quota capping (data-mixture weights as char "
    "budgets): within each source, order docs by the md5 coin (a "
    "deterministic shuffle, so the kept set is an unbiased sample of "
    "the source) and keep rows while the running char total stays "
    "under the quota. The running sum orders by the FULL md5 (not "
    "the 4-hex coin prefix): prefix collisions within a source would "
    "let the two engines order collided rows differently and diverge "
    "the running sum right at the quota boundary — sf0.1 already has "
    "7 such diverging groups. The cum is not a per-source window "
    "(parallelism capped at n_sources — one hot source serializes "
    "through ONE task at 100 TB) but the GROUPED two-phase prefix sum "
    "(operators/prefix.py group_cols): local cumsums partition by "
    "(source, md5-leading-byte bucket) — up to 256-way parallel "
    "inside every source — and the serialized base pass is one-row "
    "bucket totals PER SOURCE, windowed per source in parallel. The "
    "bucket COUNT is scale-aware: "
    "adaptive_bucket_count targets ~2k rows per bucket, so tiny "
    "inputs collapse to 1 bucket (= the plain per-source window, no "
    "two-phase machinery cost) while big inputs fan out to 256; "
    "values are bucket-count-independent, so the cum = exclusive "
    "offset + n_chars stays bit-identical to the window form "
    "(integer sums) and the oracle is unchanged.",
)
def mix_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import (
        adaptive_bucket_count,
        md5_byte_bucket,
        prefix_sums,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "source",
        "n_chars",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    # Parquet-metadata count: one cheap job to size the bucketing.
    n_buckets = adaptive_bucket_count(docs.count())
    cum = prefix_sums(
        keyed,
        ["k", "doc_id"],
        ["n_chars"],
        bucket=md5_byte_bucket(F.col("k"), n_buckets),
        out_cols=["off"],
        group_cols=["source"],
    )
    return (
        cum.filter(F.col("off") + F.col("n_chars") <= 3000)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


@register(
    "mix_temperature_sampling",
    oracle="""
WITH shares AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars_total
  FROM documents GROUP BY source),
rates AS (
  SELECT source, chars_total,
         sqrt(CAST((SELECT MIN(chars_total) FROM shares) AS DOUBLE)
              / chars_total) AS rate
  FROM shares)
SELECT d.source, r.chars_total AS chars_before,
       COUNT(*) AS n_kept,
       CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept,
       CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
FROM documents d JOIN rates r ON d.source = r.source
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT
      < r.rate * 65536.0
GROUP BY d.source, r.chars_total ORDER BY d.source
""",
    doc="Temperature (alpha=0.5) source sampling — the multilingual-"
    "pretraining mix rule (XLM-R-style alpha sampling): keep rate "
    "per source = sqrt(smallest_source_chars / source_chars), so "
    "expected kept chars scale with sqrt(share) — overrepresented "
    "sources are damped, the smallest keeps everything, relative "
    "order is preserved. Every arithmetic step on the parity path "
    "is IEEE-correctly-rounded (int sums exact; one divide, one "
    "sqrt, one multiply), so both engines derive bit-identical "
    "rates and the md5 integer coin picks IDENTICAL rows — an exact "
    "oracle, not a bound check. Plan: per-source totals are one "
    "partial-agg shuffle into a tiny rates dim, broadcast back; the "
    "keep decision is a scan-side filter; no row-proportional state "
    "anywhere.",
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shares = docs.groupBy("source").agg(F.sum("n_chars").alias("chars_total"))
    mn = shares.agg(F.min("chars_total").alias("_mn"))
    rates = shares.crossJoin(F.broadcast(mn)).select(
        "source",
        "chars_total",
        F.sqrt(F.col("_mn").cast("double") / F.col("chars_total")).alias("rate"),
    )
    coin = F.conv(hash_coin(F.col("doc_id")), 16, 10).cast("long")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(coin < F.col("rate") * 65536.0)
        .groupBy("source", F.col("chars_total").alias("chars_before"))
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


@register(
    "corpus_source_overlap",
    oracle=f"""
WITH toks AS (SELECT source, {_TOKS_SQL} AS t FROM documents),
sg AS (SELECT DISTINCT source, gram
       FROM (SELECT source, unnest({_shingles_sql(8)}) AS gram FROM toks))
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="Cross-source leakage matrix: source pairs sharing word "
    "8-grams (mirror-site / syndicated-content detection — such pairs "
    "defeat per-source dedup sharding). Plan: distinct (source, gram) "
    "FIRST — the join operates on one row per source per gram, so a "
    "boilerplate gram fans out at most n_sources^2, never n_docs^2 — "
    "then a gram-keyed equi-join (AQE splits residual hot grams). "
    "Scales as O(total distinct grams), like corpus_contamination. "
    "Profiled: the self-join's ReusedExchange is intact and the "
    "join+agg is <5% of runtime — tokenize+shingle+distinct "
    "dominates, so in-doc grams array_distinct before the explode "
    "to shrink the distinct shuffle.",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenize + shingle is the compute-heavy stage; a small input
    # arriving as one partition would pin it to one core.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", D.tokens(F.col("text")).alias("_t"))
    # shingles_of_tokens is already array_distinct-ed per row
    # (operators/dedup.py), so in-doc repeat grams dedupe JVM-side
    # before the explode with no extra pass (a second array_distinct
    # here would be redundant).
    # Grams travel as xxhash64 LONGS through the distinct and the
    # self-join — the gram text never reaches the output, and the
    # string-key measurement (SCALING.md addendum) showed ~50-char
    # join keys dominating exactly these two exchanges at the sf1
    # decade. Collision cost ~n^2/2^65; the oracle joins raw gram
    # strings, so a collision that moved a count would flip the gate.
    sg = (
        toks.select(
            "source",
            F.explode(D.shingles_of_tokens(F.col("_t"), 8)).alias("gram"),
        )
        .select("source", F.xxhash64("gram").alias("gh"))
        .distinct()
        # Both self-join sides read this subtree; without the
        # checkpoint the tokenize+shingle+distinct pipeline executes
        # twice (the broadcast side's BroadcastExchange blocks
        # exchange reuse — seen in the plan audit).
        .localCheckpoint(eager=False)
    )
    a = sg.select(F.col("source").alias("source_a"), "gh")
    b = sg.select(F.col("source").alias("source_b"), "gh")
    return (
        a.join(b, "gh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register(
    "text_df_top_terms",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
dt AS (SELECT DISTINCT doc_id, term
       FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks)
       WHERE length(term) >= 3)
SELECT term, COUNT(*) AS df
FROM dt GROUP BY term ORDER BY df DESC, term LIMIT 10
""",
    doc="Corpus document frequency: top-10 terms (>=3 chars, shared "
    "normalization with the dedup stack) by number of containing "
    "docs — the DF side of TF-IDF and the vocabulary-pruning input. "
    "array_distinct BEFORE explode bounds the shuffle at one row per "
    "doc-term; partial aggregation reduces each partition to its "
    "local term counts before the exchange. Total order (df DESC, "
    "term) makes the LIMIT boundary deterministic.",
)
def text_df_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    terms = docs.select(
        F.explode(
            F.filter(
                F.array_distinct(D.tokens(F.col("text"))),
                lambda t: F.length(t) >= 3,
            )
        ).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(10)
    )


@register(
    "pipeline_corpus_prep",
    oracle=f"""
WITH quality AS (
  SELECT doc_id, lang, source, n_chars,
         md5({_NORM_SQL}) AS fp,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
  FROM documents
  WHERE n_chars BETWEEN 100 AND 2000
    AND len({_TOKS_SQL}) >= 20),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM quality) WHERE rn = 1),
train AS (SELECT * FROM deduped WHERE h < 'e666'),
sampled AS (
  SELECT * FROM train
  WHERE h < CASE WHEN lang = 'en' THEN '8000' ELSE 'g' END),
quota AS (
  SELECT * FROM (
    SELECT *, SUM(n_chars) OVER (
        PARTITION BY source
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM sampled) WHERE cum <= 2000)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM quota GROUP BY lang ORDER BY lang
""",
    doc="End-to-end corpus preparation — the whole training-data "
    "flow as ONE composed lazy plan: quality gate (length bounds + "
    "min token count) -> exact dedup keeping the first doc per "
    "normalized fingerprint -> train-split membership -> stratified "
    "downsampling of the dominant language -> per-source char-budget "
    "quota. Every stage is deterministic (md5 coin), so the oracle "
    "replays the identical five-stage CTE chain and checks exact "
    "per-language outputs. Plan: the quality filter and all three "
    "hash predicates evaluate scan-side; the only shuffles are the "
    "dedup window on fp (fingerprints are near-unique, so its "
    "partitions stay tiny) and the quota stage, which rides the "
    "GROUPED two-phase prefix machinery so a hot source never "
    "serializes through one window task (AQE skew-splitting "
    "applies to joins, not window partitions). No stage "
    "materializes: Catalyst pipelines the filters into one pass.",
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.filter(
        F.col("n_chars").between(100, 2000)
        & (F.size(D.tokens(F.col("text"))) >= 20)
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        # Dedup fingerprint = xxhash64 long (string-key rule): fp
        # only partitions the keep-first window and never reaches
        # output; the coin h stays md5 — the oracle replays the SAME
        # substr(md5) selection, so the coin's VALUE crosses engines.
        F.xxhash64(D.normalize_text(F.col("text"))).alias("fp"),
        hash_coin(F.col("doc_id")).alias("h"),
    )
    dedup_w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    train = deduped.filter(F.col("h") < frac_threshold(0.9))
    # 'g' = frac_threshold(1.0)'s keep-everything sentinel: a literal
    # 'ffff' silently drops docs whose coin is exactly 'ffff' — the
    # hazard frac_threshold documents.
    keep_rate = F.when(F.col("lang") == "en", F.lit("8000")).otherwise(
        F.lit(frac_threshold(1.0))
    )
    sampled = train.filter(F.col("h") < keep_rate)
    # Quota via the GROUPED two-phase prefix machinery, not a per-source
    # window (a plain Window.partitionBy('source') running sum
    # serializes a hot source through ONE task — the shape
    # mix_domain_quota avoids the same way; AQE skew-splitting applies
    # to joins, not window partitions). Full-md5 order (not the 4-hex
    # coin prefix) keeps the running sum's row order identical across
    # engines even on prefix collisions. prefix_sums is exclusive; the
    # window's inclusive cum == off + n_chars.
    from hdfs_parquet_importer_spark.operators.prefix import (
        adaptive_bucket_count,
        md5_byte_bucket,
        prefix_sums,
    )

    keyed = sampled.withColumn("k", F.md5(F.col("doc_id").cast("string")))
    n_buckets = adaptive_bucket_count(docs.count())
    cum = prefix_sums(
        keyed,
        ["k", "doc_id"],
        ["n_chars"],
        bucket=md5_byte_bucket(F.col("k"), n_buckets),
        out_cols=["off"],
        group_cols=["source"],
    )
    kept = cum.filter(F.col("off") + F.col("n_chars") <= 2000)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


@register(
    "vocab_coverage",
    oracle=f"""
WITH tok AS (SELECT unnest({_TOKS_SQL}) AS term FROM documents),
cnt AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term),
ranked AS (
  SELECT term, n,
         SUM(n) OVER (ORDER BY n DESC, term
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER () AS total
  FROM cnt)
SELECT term, CAST(n AS BIGINT) AS n_occurrences,
       ROUND(cum / total, 6) AS cum_coverage
FROM ranked ORDER BY n_occurrences DESC, term LIMIT 20
""",
    doc="Vocabulary construction: top terms by corpus occurrence with "
    "the cumulative token-coverage curve (the Zipf plot every "
    "tokenizer build starts from — pick vocab size where coverage "
    "flattens). Counts are exact integers and coverage is one "
    "division of exact ints, so cross-engine FP accumulation order "
    "can't bite. Scale shape: NO window ever sees the full term "
    "table (raw web-scale token vocabularies hit 1e8-1e9 distinct "
    "strings) — the top-20 is a TakeOrderedAndProject over the "
    "partial-agg term counts, the grand total is one scalar agg "
    "broadcast in as a 1-row join, and the cumulative sum runs over "
    "only the 20 surviving rows (limit-bounded single task). AQE "
    "exchange reuse dedupes the shared term-count subplan. Total "
    "order (n DESC, term) pins the LIMIT boundary.",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(D.tokens(F.col("text"))).alias("term"))
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = cnt.orderBy(F.desc("n"), "term").limit(20)
    total = cnt.agg(F.sum("n").alias("_total"))
    # Cumulative sum over the 20 post-limit survivors only.
    w_cum = (
        Window.orderBy(F.desc("n"), "term")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.withColumn("cum", F.sum("n").over(w_cum))
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            F.col("n").alias("n_occurrences"),
            F.round(F.col("cum") / F.col("_total"), 6).alias("cum_coverage"),
        )
    )


@register(
    "text_mean_token_df",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term)
SELECT t.doc_id, COUNT(*) AS n_toks,
       CAST(SUM(df) AS BIGINT) AS sum_df,
       ROUND(CAST(SUM(df) AS BIGINT) / COUNT(*), 6) AS mean_df
FROM tok t JOIN dfreq USING (term)
WHERE t.doc_id < 50 GROUP BY t.doc_id ORDER BY t.doc_id
""",
    doc="Commonness quality proxy: per-document mean document-"
    "frequency of its tokens — the integer-exact cousin of unigram "
    "log-probability scoring (low mean-DF = rare-token-heavy = "
    "gibberish candidate; FP log sums would hash-diverge across "
    "engines on accumulation order, integer DF sums cannot). Corpus "
    "DF is computed over ALL docs, then joined to only the scored "
    "docs' tokens on the vocab-bounded term key; both aggs partial-"
    "combine before their shuffles.",
)
def text_mean_token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(D.tokens(F.col("text"))).alias("term"))
    dfreq = tok.groupBy("term").agg(
        F.count_distinct(F.col("doc_id")).alias("df")
    )
    scored = tok.filter(F.col("doc_id") < 50).join(dfreq, "term")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("df").alias("sum_df"),
        )
        .select(
            "doc_id",
            "n_toks",
            "sum_df",
            F.round(F.col("sum_df") / F.col("n_toks"), 6).alias("mean_df"),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_weighted",
    oracle="""
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT
      < least(1.0, n_chars / 500.0) * 65536.0
GROUP BY lang ORDER BY lang
""",
    doc="Importance-weighted sampling: each document's keep "
    "probability is proportional to its quality weight (here "
    "min(1, n_chars/500) as the stand-in score) — the DoReMi-style "
    "quality-weighted mix, still fully deterministic: the md5 coin's "
    "16-bit prefix as an integer is compared against weight*65536. "
    "Spark reads the prefix with conv(hex,16,10), DuckDB with a "
    "'0x'-cast; both sides then do the identical double multiply, so "
    "the oracle checks exact kept sums. Same scan-side, shuffle-free "
    "selection as the uniform coin.",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    coin = F.conv(hash_coin(F.col("doc_id")), 16, 10).cast("long")
    p = F.least(F.lit(1.0), F.col("n_chars") / 500.0)
    return (
        docs.filter(coin < p * 65536.0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("lang")
    )


@register(
    "bpe_top_merges",
    oracle=f"""
WITH toks AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents),
pairs AS (SELECT unnest([w[i:i+1] for i in range(1, len(w))]) AS pair
          FROM toks WHERE len(w) >= 2)
SELECT pair, COUNT(*) AS n_occurrences
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 10
""",
    doc="The first BPE merge decision, as a corpus-scale counting "
    "job: every adjacent character pair inside every word occurrence "
    "is counted and the 10 most frequent pairs surface (count desc, "
    "pair asc tiebreak). This is exactly the distributed workload of "
    "tokenizer training — each merge round of BPE is one such "
    "pair-count pass over the (re-paired) corpus. Explode + "
    "partial-combined groupBy: the shuffle carries one row per "
    "distinct pair per partition (pair alphabet is bounded), and the "
    "top-10 plans as TakeOrderedAndProject. Counts are integers — "
    "exact cross-engine parity.",
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(D.tokens(F.col("text"))).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(10)
    )


# Shared by the two BPE-encode queries below: the top-16 merge table
# learned exactly like bpe_top_merges, as a DuckDB priority-ordered
# list — and the encode fold applied to one framed word string. The
# fold is IDENTICAL to operators/bpe.py::encode_framed: a nested
# list_reduce — outer over merge rules in priority order, inner the
# canonical greedy token fold on the separator-framed string (see
# that module's docstring for why this is a fold, not replace()).
# Both accumulators are VARCHAR, which is what keeps DuckDB's
# no-initializer list_reduce type-homogeneous via list_prepend.
# The DuckDB BPE twins (_BPE_MERGES_SQL, _bpe_encode_sql, ...) are
# defined in queries/llm.py next to _TOKS_SQL and imported above —
# llm.py's BPE-fed packing comparison shares them and this module
# already imports from llm.


@register(
    "tokenize_bpe_encode",
    oracle=f"""
WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
mg AS ({_BPE_MERGES_SQL}),
enc AS (
  SELECT source,
         len([w for w in t if w != '']) AS n_words,
         CAST(list_sum([len(w) for w in t if w != '']) AS BIGINT)
           AS n_chars,
         CAST(list_sum([{_BPE_NTOK_SQL} for w in t if w != ''])
              AS BIGINT) AS n_tok
  FROM toks CROSS JOIN mg
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens_bpe,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tok), 6)
         AS chars_per_token
FROM enc GROUP BY source ORDER BY source
""",
    doc="BPE tokenizer ENCODE — the missing half of the tokenizer "
    "loop (bpe_top_merges learns merges; this applies them): the "
    "top-16 merge table is learned in one corpus pair-count pass, "
    "broadcast as a single array row, and folded over every word — "
    "one canonical greedy token-fold pass per rule in priority order "
    "on a separator-framed string (operators/bpe.py — exact BPE "
    "greedy semantics incl. aaaa->[aa,aa] chains, all inside "
    "whole-stage codegen, zero UDFs). The encode pass is a pure "
    "per-row projection: no explode, no shuffle until the final "
    "per-source aggregate. Output: per-source REAL token counts and "
    "the chars-per-token compression the merge table achieves "
    "(~1.25x at this corpus). DuckDB replays the identical fold via "
    "list_reduce, so every count is integer-exact cross-engine.",
)
def tokenize_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import bpe

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = bpe.learn_merges(docs, "text", k=16)
    per_doc = bpe.doc_token_counts(docs, ["doc_id", "source"], "text", merges)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens_bpe").alias("n_tokens_bpe"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_tokens_bpe"), 6
            ).alias("chars_per_token"),
        )
        # No terminal presentation orderBy: the driver digest is
        # order-insensitive, and the rangepartitioning sample pass
        # cost 2.1 s on a 5-row result.
    )


@register(
    "pack_bpe_sequences",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
mg AS ({_BPE_MERGES_SQL}),
enc AS (
  SELECT doc_id,
         CAST(list_sum([{_BPE_NTOK_SQL} for w in t if w != ''])
              AS BIGINT) AS n_tok
  FROM toks CROSS JOIN mg
),
off AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS o
  FROM enc
)
SELECT CAST(o // 2048 AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM off GROUP BY 1 ORDER BY 1 LIMIT 10
""",
    doc="Sequence packing fed by REAL tokenizer output: per-document "
    "token counts come from the BPE encode fold (not a whitespace "
    "estimate), then operators/prefix.py pack_sequences assigns "
    "every document its stream offset and 2048-token training-chunk "
    "id via the two-phase bucketed prefix sum — no global-order "
    "window. Output is the first 10 chunk bins (docs starting in the "
    "bin, their token mass, id range). The oracle recomputes the same "
    "encode "
    "in DuckDB and takes the single-node window cumsum it is "
    "allowed that Spark is not.",
)
def pack_bpe_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import bpe
    from hdfs_parquet_importer_spark.operators.prefix import pack_sequences

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = bpe.learn_merges(docs, "text", k=16)
    per_doc = bpe.doc_token_counts(docs, ["doc_id"], "text", merges)
    packed = pack_sequences(
        per_doc,
        "doc_id",
        "n_tokens_bpe",
        budget=2048,
        bucket=F.floor(F.col("doc_id") / 256),
    )
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_bpe").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
        .limit(10)
    )


_SWEEP_KS = (0, 4, 8, 16)

_SWEEP_ORACLE = (
    "WITH toks AS (SELECT doc_id, " + _TOKS_SQL + " AS t FROM documents),\n"
    "mg AS (" + _BPE_MERGES_SQL + ")\n"
    + "\nUNION ALL\n".join(
        f"""
SELECT {k} AS k_merges,
       CAST(SUM(list_sum([{_bpe_ntok_sql(f"merges[1:{k}]")}
                          for w in t if w != ''])) AS BIGINT)
         AS n_tokens,
       ROUND(CAST(SUM(list_sum([len(w) for w in t if w != '']))
                  AS DOUBLE)
             / SUM(list_sum([{_bpe_ntok_sql(f"merges[1:{k}]")}
                             for w in t if w != ''])), 6)
         AS chars_per_token
FROM toks CROSS JOIN mg
"""
        for k in _SWEEP_KS
    )
    + "\nORDER BY k_merges"
)


@register(
    "tokenize_bpe_vocab_sweep",
    oracle=_SWEEP_ORACLE,
    doc="Tokenizer-design sweep: corpus token count and compression "
    "at merge-table sizes K in {0, 4, 8, 16} — the marginal-utility "
    "curve (each doubling of the merge budget buys less compression) "
    "that decides how large a vocabulary is worth training. The "
    "encode fold runs over the frequency-weighted DISTINCT-WORDS "
    "table (vocabulary-sized, the Sennrich trainer reduction — the "
    "sweep outputs corpus totals only, so weighted per-word counts "
    "sum to the identical integers), each word folding all four "
    "table prefixes (slice of the single broadcast 16-rule array), "
    "then explodes the 4-element (k, count) struct array and "
    "re-aggregates by k. K=0 is the character baseline (tokens == "
    "chars, so chars_per_token == 1 exactly — a built-in "
    "self-check). Integer-exact cross-engine via the same nested "
    "fold as tokenize_bpe_encode.",
)
def tokenize_bpe_vocab_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import bpe

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = bpe.learn_merges(docs, "text", k=16)
    # The sweep's output is corpus totals only, so the encode
    # fold runs on the frequency-weighted DISTINCT-WORDS table (the
    # same Sennrich reduction tokenize_bpe_multiround already rides)
    # instead of once per word occurrence x 4 prefixes — identical
    # integer sums, vocabulary-sized fold work (guide §8: decide with
    # small rows).
    words = bpe.word_counts(docs, "text")
    entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("k_merges"),
                (
                    F.col("wn")
                    * bpe.token_count(
                        F.col("w"), F.slice(F.col("merges"), 1, k)
                    )
                ).alias("n_tok"),
            )
            for k in _SWEEP_KS
        ]
    )
    per = words.crossJoin(F.broadcast(merges)).select(
        (F.col("wn") * F.length("w")).alias("n_chars"),
        F.explode(entries).alias("e"),
    )
    return (
        per.groupBy(F.col("e.k_merges").alias("k_merges"))
        .agg(
            F.sum("e.n_tok").alias("n_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("e.n_tok"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("k_merges")
    )


_MR_ROUNDS = 8


def _mr_round_cte(k: int) -> str:
    """Round-``k`` CTE of the multi-round trainer replay: encode the
    vocab under the rules adopted so far (``r{k-1}``), recount
    weighted adjacent token pairs, adopt the top one (count DESC,
    pair ASC) — the exact loop of bpe.learn_merges_iterative, as a
    LEFT JOIN so an exhausted corpus carries the table unchanged."""
    prev = f"r{k - 1}" if k > 1 else "m0"
    enc = _bpe_encode_sql("merges")
    return f"""
r{k} AS (
  SELECT CASE WHEN p.pair IS NULL THEN m.merges
              ELSE list_append(m.merges, p.pair) END AS merges
  FROM {prev} m LEFT JOIN (
    SELECT pair FROM (
      SELECT unnest([ts[i] || ' ' || ts[i+1]
                     for i in range(1, len(ts))]) AS pair, wn
      FROM (SELECT list_filter(string_split({enc}, '.'),
                               t -> t != '') AS ts, wn
            FROM bpe_words, {prev})
    ) GROUP BY pair ORDER BY SUM(wn) DESC, pair LIMIT 1
  ) p ON TRUE
)"""


_MULTIROUND_ORACLE = (
    f"WITH toks AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents),\n"
    "bpe_words AS (SELECT w, COUNT(*) AS wn FROM toks\n"
    "              WHERE w != '' GROUP BY w),\n"
    "m0 AS (SELECT CAST([] AS VARCHAR[]) AS merges),"
    + ",".join(_mr_round_cte(k) for k in range(1, _MR_ROUNDS + 1))
    + "\nSELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"""
SELECT {k} AS merge_round, merges[{k}] AS rule,
       CAST(SUM(wn * ({_bpe_ntok_sql(f"merges[1:{k}]")})) AS BIGINT)
         AS n_tokens,
       ROUND(CAST(SUM(wn * len(w)) AS DOUBLE)
             / SUM(wn * ({_bpe_ntok_sql(f"merges[1:{k}]")})), 6)
         AS chars_per_token
FROM bpe_words, r{_MR_ROUNDS} GROUP BY 1, 2
"""
        for k in range(1, _MR_ROUNDS + 1)
    )
    + ") ORDER BY merge_round"
)


@register(
    "tokenize_bpe_multiround",
    oracle=_MULTIROUND_ORACLE,
    doc="Multi-round BPE merge LEARNING (real "
    "BPE re-counts pair frequencies after every adopted merge, so "
    "later rules build on earlier outputs: the corpus learns rules "
    "like 'ta ble'): bpe.learn_merges_iterative runs 8 Sennrich "
    "trainer rounds over the frequency-weighted DISTINCT-WORDS "
    "table (vocabulary-sized working set — the loop's cost is "
    "independent of corpus row count; the 1-row merge state is "
    "localCheckpoint-ed per round like pagerank). Output: one row "
    "per round — the rule adopted, the corpus token count under the "
    "table's first k rules, and the compression curve. The oracle "
    "replays the IDENTICAL loop in DuckDB as 8 chained CTEs (each "
    "re-encoding via the shared nested-list_reduce fold and "
    "adopting the same count-DESC/pair-ASC top pair), so every rule "
    "string and token count is integer-exact cross-engine.",
)
def tokenize_bpe_multiround(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import bpe

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = bpe.learn_merges_iterative(docs, "text", rounds=_MR_ROUNDS)
    words = bpe.word_counts(docs, "text")
    m = F.col("merges")
    entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("merge_round"),
                # try_element_at: a low-diversity corpus can
                # exhaust merge pairs before _MR_ROUNDS, leaving the
                # merges array short — element_at would abort the
                # whole query under ANSI where the oracle's LEFT JOIN
                # yields NULL rule.
                F.try_element_at(m, F.lit(k)).alias("rule"),
                (
                    F.col("wn")
                    * bpe.token_count(F.col("w"), F.slice(m, 1, k))
                ).alias("n_tok"),
            )
            for k in range(1, _MR_ROUNDS + 1)
        ]
    )
    per = words.crossJoin(F.broadcast(merges)).select(
        (F.col("wn") * F.length("w")).alias("n_chars"),
        F.explode(entries).alias("e"),
    )
    return (
        per.groupBy(
            F.col("e.merge_round").alias("merge_round"),
            F.col("e.rule").alias("rule"),
        )
        .agg(
            F.sum("e.n_tok").alias("n_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("e.n_tok"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("merge_round")
    )


@register(
    "mix_epoch_order",
    oracle="""
WITH e0 AS (SELECT 0 AS epoch, doc_id,
              md5('0:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
e1 AS (SELECT 1 AS epoch, doc_id,
              md5('1:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
r0 AS (SELECT epoch, doc_id,
              row_number() OVER (ORDER BY k, doc_id) AS pos FROM e0),
r1 AS (SELECT epoch, doc_id,
              row_number() OVER (ORDER BY k, doc_id) AS pos FROM e1)
SELECT epoch, doc_id, pos FROM r0 WHERE pos <= 10
UNION ALL
SELECT epoch, doc_id, pos FROM r1 WHERE pos <= 10
""",
    doc="Deterministic per-epoch corpus shuffling — the data-order "
    "randomization every training run needs, with NO RNG state and "
    "NO global-order window: each epoch orders documents by "
    "md5(epoch:doc_id), and the global position comes from "
    "dist_rank's two-phase bucketed prefix sums (operators/"
    "prefix.py), bucketed on the hash's leading byte (monotone in "
    "the hash, ~256-way parallel). Reproducible across runs and "
    "engines; epochs permute independently. The first 10 positions "
    "of two epochs ship as the verifiable sample.",
)
def mix_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import dist_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = None
    for epoch in (0, 1):
        keyed = docs.select(
            F.lit(epoch).alias("epoch"),
            "doc_id",
            F.md5(
                F.concat(
                    F.lit(f"{epoch}:"), F.col("doc_id").cast("string")
                )
            ).alias("k"),
        )
        ranked = dist_rank(
            keyed,
            ["k", "doc_id"],
            F.conv(F.substring(F.col("k"), 1, 2), 16, 10).cast("long"),
            out_col="pos",
        ).filter(F.col("pos") <= 10)
        out = ranked if out is None else out.unionByName(ranked)
    return out.select("epoch", "doc_id", "pos")


@register(
    "mix_kl_divergence",
    oracle="""
WITH sl AS (SELECT source, lang, CAST(COUNT(*) AS DOUBLE) AS c_sl
            FROM documents GROUP BY source, lang),
st AS (SELECT source, SUM(c_sl) AS tot_s FROM sl GROUP BY source),
lt AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS c_l
       FROM documents GROUP BY lang),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tot FROM documents),
t AS (SELECT sl.source, sl.lang,
             (sl.c_sl / st.tot_s)
               * ln((sl.c_sl / st.tot_s) / (lt.c_l / g.tot)) AS term
      FROM sl JOIN st USING (source) JOIN lt USING (lang) CROSS JOIN g),
f AS (SELECT source, lang,
             SUM(term) OVER (PARTITION BY source ORDER BY lang
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum,
             COUNT(*) OVER (PARTITION BY source) AS n_langs,
             row_number() OVER (PARTITION BY source ORDER BY lang) AS rn
      FROM t)
SELECT source, n_langs, ROUND(cum, 6) AS kl_nats
FROM f WHERE rn = n_langs ORDER BY source
""",
    doc="Mixing diagnostic: per-source KL divergence (nats) of the "
    "source's language distribution from the corpus-wide one — the "
    "number a mixture designer watches to see which sources skew the "
    "blend (same shape as per-source token-distribution KL; lang "
    "keeps the support compact). All inputs are exact integer counts; "
    "the only float work is the final p*ln(p/q) terms, folded in "
    "SORTED lang order on both engines (Spark: aggregate over "
    "sort_array(collect_list(struct(lang, term))); DuckDB: running "
    "SUM ordered by lang, last row) so accumulation order is pinned, "
    "then ROUND(6) absorbs sub-ulp libm-vs-JVM ln() drift. Scale: "
    "three hash aggs + a broadcast lang dim (distribution support is "
    "vocabulary-bounded) + a 1-row grand-total broadcast scalar; the "
    "per-source fold array is |langs| elements, never rows.",
)
def mix_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("c_sl")
    )
    st = sl.groupBy("source").agg(F.sum("c_sl").alias("tot_s"))
    lt = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("c_l")
    )
    g = docs.agg(F.count(F.lit(1)).cast("double").alias("tot"))

    p = F.col("c_sl") / F.col("tot_s")
    q = F.col("c_l") / F.col("tot")
    t = (
        sl.join(st, "source")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(g))
        .select("source", "lang", (p * F.log(p / q)).alias("term"))
    )
    folded = F.aggregate(
        F.sort_array(F.collect_list(F.struct("lang", "term"))),
        F.lit(0.0),
        lambda acc, x: acc + x["term"],
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.round(folded, 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


@register(
    "sample_k_per_group",
    oracle="""
SELECT source, doc_id, lang
FROM documents
QUALIFY row_number() OVER
  (PARTITION BY source
   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 3
ORDER BY source, doc_id
""",
    doc="Deterministic fixed-size-per-group sampling (the reservoir "
    "shape): exactly 3 documents per source, chosen by ranking on "
    "the md5 coin with a doc_id tiebreak — a seeded, reproducible "
    "draw that never collects a group to one machine. Plans as "
    "WindowGroupLimit: each partition keeps only its 3 smallest "
    "coins per group BEFORE the shuffle, so per-group state is O(k) "
    "regardless of group size — this is how you cut a fixed-size "
    "eval set per domain out of 100 TB. Contrast with "
    "sample_stratified (per-stratum RATE, unbounded count).",
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("source", "doc_id", "lang")
        .orderBy("source", "doc_id")
    )


@register(
    "quality_unigram_logprob",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM tf)
SELECT t.doc_id,
       COUNT(*) AS n_toks,
       ROUND(SUM(-log2(tf.c / tot.n)) / COUNT(*), 4) AS bits_per_token
FROM tok t JOIN tf USING (term) CROSS JOIN tot
WHERE t.doc_id < 50
GROUP BY t.doc_id ORDER BY t.doc_id
""",
    doc="Unigram cross-entropy quality score (bits/token) — the "
    "CCNet/Gopher-style LM-perplexity filter with the LM stubbed to "
    "the corpus unigram model: low bits = common-word text, high "
    "bits = rare-token-heavy gibberish. Same inverted plan shape as "
    "text_mean_token_df (corpus term counts over ALL docs, joined "
    "back to the scored docs' tokens on the vocab-bounded term key, "
    "grand total as a broadcast 1-row scalar) but scoring the "
    "actual information content. Per-doc log sums accumulate in "
    "engine-dependent order; the drift is ~1e-13 relative on "
    "<=200-term docs, absorbed by ROUND(4) — the mean-DF twin stays "
    "the integer-exact variant.",
)
def quality_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(D.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = tf.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        tok.filter(F.col("doc_id") < 50)
        .join(tf, "term")
        .crossJoin(F.broadcast(tot))
    )
    bits = -F.log2(F.col("c") / F.col("n"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.sum(bits) / F.count(F.lit(1)), 4).alias(
                "bits_per_token"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id, unnest({_shingles_sql(5)}) AS g
  FROM toks WHERE len(t) >= 5
),
first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
SELECT grams.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN first_seen.first_doc = grams.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN first_seen.first_doc = grams.doc_id
                      THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM grams JOIN first_seen USING (g)
WHERE grams.doc_id < 50
GROUP BY grams.doc_id ORDER BY grams.doc_id
""",
    doc="N-gram novelty in ingestion order: per document, the "
    "fraction of its distinct 5-gram shingles whose FIRST corpus "
    "occurrence (min doc_id) is this document — the diminishing-"
    "returns curve dedup-aware crawl curation watches (novelty "
    "collapsing toward 0 means the crawl is re-reading the web). "
    "First-seen assignment is one min-aggregate over the gram "
    "vocabulary; scoring joins the scored docs' grams back on the "
    "GRAM equi-key. A doc whose every gram first appears in an "
    "earlier doc scores 0 even if no single document contains it "
    "wholesale — novelty is finer than document-level dedup. "
    "Integer counts; exact ratio parity.",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", D.tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 5
    )
    grams = toks.select(
        "doc_id",
        # shingles_of_tokens already dedupes per row (no second
        # array_distinct needed).
        F.explode(D.shingles_of_tokens(F.col("t"), 5)).alias("g"),
        # Grams travel as xxhash64 LONGS through the first-seen
        # aggregate and the join (gram text never reaches the output;
        # string-key rule, SCALING.md addendum). Collision cost
        # ~n^2/2^65 — a collision marking a gram non-novel would flip
        # the raw-string-keyed oracle's gate.
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    first_seen = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    scored = grams.filter(F.col("doc_id") < 50).join(first_seen, "gh")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
            F.round(
                novel / F.count(F.lit(1)).cast("double"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "mix_source_dup_rate",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, source, md5({_NORM_SQL}) AS f FROM documents
),
sizes AS (SELECT f, COUNT(*) AS n FROM fp GROUP BY f)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN sizes.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_dup_group,
       ROUND(SUM(CASE WHEN sizes.n > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM fp JOIN sizes USING (f)
GROUP BY source ORDER BY source
""",
    doc="Per-source duplication diagnostics: the share of each "
    "source's documents whose normalized-text fingerprint is shared "
    "with at least one other document — the dashboard number that "
    "tells you WHICH feed is flooding the corpus with copies "
    "(dedup_exact lists the groups; this attributes them). "
    "Fingerprint group sizes fold once (map-side), join back on the "
    "fingerprint equi-key, one ratio per source. A doc counts as "
    "in-dup-group even when its twin lives in a DIFFERENT source — "
    "cross-source contamination shows up in both sources' rates.",
)
def mix_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Fingerprint = xxhash64 long, not md5 hex (string-key rule):
    # f is a groupBy + join-back key that never reaches output, and
    # the oracle's md5 fingerprint is its own equality bridge.
    fp = docs.select(
        "source", F.xxhash64(D.normalize_text(F.col("text"))).alias("f")
    )
    sizes = fp.groupBy("f").agg(F.count(F.lit(1)).alias("n"))
    in_dup = F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
    return (
        fp.join(sizes, "f")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            in_dup.cast("bigint").alias("n_in_dup_group"),
            F.round(
                in_dup / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "mix_upsample_rare",
    oracle="""
WITH shares AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                FROM documents GROUP BY source),
mx AS (SELECT MAX(n) AS mx FROM shares),
f AS (SELECT source, n,
             least(4, greatest(1, mx // n)) AS factor
      FROM shares, mx),
up AS (SELECT d.source, d.doc_id,
              unnest(range(1, f.factor + 1)) AS copy
       FROM documents d JOIN f USING (source))
SELECT u.source,
       ANY_VALUE(f.n) AS n_before,
       CAST(ANY_VALUE(f.factor) AS BIGINT) AS factor,
       CAST(COUNT(*) AS BIGINT) AS n_after,
       CAST(SUM(u.doc_id) AS BIGINT) AS id_sum
FROM up u JOIN f ON u.source = f.source
GROUP BY u.source ORDER BY u.source
""",
    doc="Rare-domain upsampling — the other half of corpus mixing "
    "next to mix_temperature_sampling's downsampling: each source "
    "repeats ceil-ish (largest_source // n, integer division so "
    "both engines branch identically) times, capped at 4 epochs — "
    "the 'repeat small high-quality domains up to k epochs' rule "
    "every pretraining mix uses (replication factors are policy, "
    "the cap keeps memorization bounded). Plan: per-source counts "
    "fold to a SOURCE-bounded factor dim that broadcasts back; the "
    "replication itself is explode(sequence(1, factor)) — a "
    "scan-side row generator, no shuffle, no join amplification; "
    "the verification aggregate re-reduces per source. At 100 TB "
    "the explode multiplies only rare sources (bounded by the 4x "
    "cap), and the factor table stays tiny.",
)
def mix_upsample_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shares = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    mx = shares.agg(F.max("n").alias("mx"))
    f = shares.crossJoin(F.broadcast(mx)).select(
        "source",
        "n",
        F.least(
            F.lit(4).cast("long"),
            F.greatest(F.lit(1).cast("long"), F.expr("mx div n")),
        ).alias("factor"),
    )
    up = docs.select("source", "doc_id").join(F.broadcast(f), "source").select(
        "source",
        "doc_id",
        "n",
        "factor",
        F.explode(F.sequence(F.lit(1), F.col("factor"))).alias("copy"),
    )
    return (
        up.groupBy("source")
        .agg(
            F.first("n").alias("n_before"),
            F.first("factor").cast("bigint").alias("factor"),
            F.count(F.lit(1)).cast("bigint").alias("n_after"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("source")
    )


@register(
    "quality_ccnet_buckets",
    oracle=f"""
WITH tok AS (
  SELECT * FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
  WHERE term <> ''),
tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM tf),
pd AS (
  SELECT t.doc_id,
         ROUND(SUM(-log2(tf.c / tot.n)) / COUNT(*), 6) AS bits
  FROM tok t JOIN tf USING (term) CROSS JOIN tot
  GROUP BY t.doc_id
),
rk AS (
  SELECT doc_id, bits, ntile(3) OVER (ORDER BY bits, doc_id) AS b
  FROM pd
)
SELECT d.source,
       CASE rk.b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       ROUND(AVG(rk.bits), 4) AS avg_bits
FROM rk JOIN documents d USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="CCNet-style head/middle/tail corpus partition: score EVERY "
    "document by unigram cross-entropy (bits/token, the "
    "quality_unigram_logprob machinery over the full corpus instead "
    "of a demo slice), cut the corpus into perplexity terciles, and "
    "report the source x bucket mix — the table a pretraining data "
    "recipe starts from. The tercile — textbook ntile(3) OVER "
    "(ORDER BY bits), i.e. every doc through one task — rides "
    "operators/prefix.py dist_rank + ntile_from_rank against a "
    "broadcast 1-row count (bit-equal to ntile, proven in "
    "events_rfm_segmentation), bucketed on floor(bits*8): monotone "
    "in the rank order with ~80 occupied cells. Per-doc bits are "
    "ROUND(6)-ed BEFORE ranking so the rank order is engine-"
    "independent; the oracle keeps the naive global-ntile, "
    "token-instance formulation. ONE tokenize pass — the "
    "(doc_id, term, n) shared intermediate (operators/tokenize.py) "
    "feeds both corpus tf (re-aggregation) and the scoring join, "
    "with term weights replacing per-instance log sums.",
)
def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import (
        dist_rank,
        ntile_from_rank,
    )

    from hdfs_parquet_importer_spark.operators.tokenize import (
        corpus_term_counts,
        doc_term_counts,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # ONE tokenize pass over the corpus, not one for tf and one for
    # scoring. The
    # shared intermediate is the (doc_id, term, n) table
    # (operators/tokenize.py); materialized once, it feeds BOTH the
    # vocab-bounded corpus tf (a re-aggregation, not a corpus pass)
    # and the per-doc scoring join.
    # `source` rides the tokenize aggregation and the scoring groupBy
    # as a carried per-doc column, so no docs join sits under the
    # final rollup. corpus tf is
    # a groupBy(term) re-aggregation — the extra column changes
    # nothing there.
    doc_tf = doc_term_counts(docs, carry=("source",)).localCheckpoint(
        eager=False
    )
    tf = corpus_term_counts(doc_tf)
    tot = tf.agg(F.sum("c").cast("double").alias("ntot"))
    pd = (
        doc_tf.join(tf, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.sum(-F.col("n") * F.log2(F.col("c") / F.col("ntot")))
                / F.sum("n"),
                6,
            ).alias("bits")
        )
    )
    # pd's bits column is a ROUND(6) over a SHUFFLED double sum;
    # dist_rank reads pd through two independent branches (local
    # windows + bucket totals) and nrow is a third. Re-executions can
    # accumulate in different orders, and a boundary-straddling sum
    # could then round differently per branch — inconsistent rank
    # bases. Materialize the scores ONCE so every consumer sees the
    # same doubles (same reason events_rfm checkpoints its aggregate).
    # EAGER: double-sum subtree with multiple consumers — a lazy
    # checkpoint admits a cache race where two stages compute the
    # subtree independently and shuffle-merge order could round a
    # boundary-straddling sum differently per branch.
    pd = pd.localCheckpoint(eager=True)
    ranked = dist_rank(
        pd, ["bits", "doc_id"], F.floor(F.col("bits") * 8), out_col="r"
    )
    nrow = pd.agg(F.count(F.lit(1)).alias("n_total"))
    bucketed = ranked.crossJoin(F.broadcast(nrow)).withColumn(
        "b", ntile_from_rank(F.col("r"), F.col("n_total"), 3)
    )
    lab = (
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
    )
    return bucketed.groupBy("source", lab.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("bits"), 4).alias("avg_bits"),
    )


@register(
    "text_perplexity_bigram",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+1], ' ')
                 for i in range(1, greatest(len(t) - 1, 0) + 1)]) AS g
  FROM toks WHERE len(t) >= 2
),
c2 AS (SELECT g, COUNT(*) AS c FROM bg GROUP BY g),
c1 AS (SELECT split_part(g, ' ', 1) AS w1, COUNT(*) AS cp
       FROM bg GROUP BY 1)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(SUM(-log2(CAST(c2.c AS DOUBLE) / c1.cp)) / COUNT(*), 4)
         AS bits_per_bigram
FROM bg
JOIN c2 USING (g)
JOIN c1 ON c1.w1 = split_part(bg.g, ' ', 1)
WHERE bg.doc_id < 50
GROUP BY bg.doc_id ORDER BY bg.doc_id
""",
    doc="Bigram-LM cross-entropy scoring (bits/bigram) — the "
    "context-aware upgrade of quality_unigram_logprob: "
    "p(w2|w1) = c(w1 w2) / c(w1 *), both counts from ONE corpus "
    "bigram pass (the conditional's denominator is the bigram table "
    "re-grouped by its prefix, not a separate token count — exactly "
    "the MLE normalizer). Bigrams are the NON-distinct n=2 shingle "
    "stream (an LM counts occurrences; dedup's distinct shingles "
    "would skew the estimate), so the transform is inlined rather "
    "than reusing dedup.shingles_of_tokens. Scored docs join back "
    "on the gram/prefix equi-keys; per-doc log sums drift ~1e-13, "
    "absorbed by ROUND(4).",
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", D.tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    # Non-distinct bigram stream (see doc): same slice/join pattern as
    # dedup.shingles_of_tokens minus the array_distinct.
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.array_join(F.slice(F.col("t"), i, 2), " "),
    )
    bg = toks.select("doc_id", F.explode(grams).alias("g"))
    c2 = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    c1 = bg.select(
        F.substring_index("g", " ", 1).alias("w1")
    ).groupBy("w1").agg(F.count(F.lit(1)).alias("cp"))
    scored = (
        bg.filter(F.col("doc_id") < 50)
        .join(c2, "g")
        .withColumn("w1", F.substring_index("g", " ", 1))
        .join(c1, "w1")
    )
    bits = -F.log2(F.col("c").cast("double") / F.col("cp"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(bits) / F.count(F.lit(1)), 4).alias(
                "bits_per_bigram"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "mix_quota_by_quality",
    oracle="""
WITH scored AS (
  SELECT source, doc_id, n_chars,
         1.0 - CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    AS DOUBLE) / length(text) AS neg_alpha
  FROM documents WHERE length(text) > 0),
ranked AS (
  SELECT source, doc_id, n_chars, neg_alpha,
         SUM(n_chars) OVER (
           PARTITION BY source ORDER BY neg_alpha, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM scored)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       ROUND(AVG(1.0 - neg_alpha), 6) AS avg_alpha_kept
FROM ranked WHERE cum <= 3000
GROUP BY source ORDER BY source
""",
    doc="Quality-greedy per-domain quota (the curation upgrade of "
    "mix_domain_quota's unbiased-sample quota: spend each source's "
    "char budget on its BEST documents first — how a mixture recipe "
    "with per-domain budgets actually selects): order docs within "
    "each source by alphabetic-character ratio DESCENDING (one regex "
    "pass; integer-lengths division, so the score is bit-identical "
    "cross-engine), keep while the running char total fits. The "
    "running sum rides the GROUPED two-phase prefix sum "
    "(operators/prefix.py group_cols, bucketed on floor(64x the "
    "descending-order key) — 64-way parallel inside every source, no "
    "per-source single-task window). cum = exclusive offset + "
    "n_chars, same algebra as mix_domain_quota.",
)
def mix_quota_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast(
        "double"
    ) / F.length("text")
    # Empty/NULL text is EXCLUDED up front (it carries no quota-worthy
    # content): a NULL neg_alpha would otherwise produce a NULL bucket
    # that prefix_sums' final equi-join silently drops while its
    # n_chars still inflates every later bucket's base offset — and
    # the oracle's NULLS-LAST window would disagree besides.
    scored = docs.filter(F.length("text") > 0).select(
        "source",
        "doc_id",
        "n_chars",
        (F.lit(1.0) - alpha).alias("neg_alpha"),
    )
    cum = prefix_sums(
        scored,
        ["neg_alpha", "doc_id"],
        ["n_chars"],
        bucket=F.floor(F.col("neg_alpha") * 64),
        out_cols=["off"],
        group_cols=["source"],
    )
    return (
        cum.filter(F.col("off") + F.col("n_chars") <= 3000)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
            F.sum("doc_id").alias("id_sum"),
            F.round(F.avg(F.lit(1.0) - F.col("neg_alpha")), 6).alias(
                "avg_alpha_kept"
            ),
        )
    )


@register(
    "pack_sorted_stream",
    oracle=f"""
WITH mg AS ({_BPE_MERGES_SQL}),
enc AS (
  SELECT doc_id,
         CAST(list_sum([{_BPE_NTOK_SQL} for w in t if w != ''])
              AS BIGINT) AS n
  FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents) CROSS JOIN mg
),
ok AS (SELECT doc_id, n FROM enc WHERE n >= 1),
by_id AS (
  SELECT n, COALESCE(SUM(n) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
  FROM ok),
by_len AS (
  SELECT n, COALESCE(SUM(n) OVER (ORDER BY n DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
  FROM ok)
SELECT * FROM (
  SELECT 'by_id' AS strategy, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN o // 2048 != (o + n - 1) // 2048
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
         ROUND(SUM(CASE WHEN o // 2048 != (o + n - 1) // 2048
                   THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS straddle_rate
  FROM by_id
  UNION ALL
  SELECT 'len_desc', COUNT(*),
         CAST(SUM(CASE WHEN o // 2048 != (o + n - 1) // 2048
                  THEN 1 ELSE 0 END) AS BIGINT),
         ROUND(SUM(CASE WHEN o // 2048 != (o + n - 1) // 2048
                   THEN 1.0 ELSE 0.0 END) / COUNT(*), 6)
  FROM by_len
) ORDER BY strategy
""",
    doc="Chunk-boundary fragmentation of the concat-then-chunk stream "
    "under two document orders, on REAL BPE token counts: a document "
    "straddling a 2048-token chunk border is split across training "
    "sequences (attention can't see the whole doc), so packing "
    "recipes sort long-docs-first to push fragmentation into fewer, "
    "longer documents. Both orders ride the two-phase bucketed "
    "prefix sum (by_id buckets on doc_id ranges; len_desc on the "
    "NEGATED token count, monotone in the descending order), so the "
    "comparison itself is the scale path, not a window. Straddle "
    "test (o div L != (o+n-1) div L) uses non-negative operands only "
    "— Spark's truncating div and DuckDB's flooring // agree; "
    "zero-token docs are filtered identically on both engines.",
)
def pack_sorted_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import bpe
    from hdfs_parquet_importer_spark.operators.prefix import prefix_sum

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = bpe.learn_merges(docs, "text", k=16)
    per_doc = (
        bpe.doc_token_counts(docs, ["doc_id"], "text", merges)
        .select("doc_id", F.col("n_tokens_bpe").alias("n"))
        .filter(F.col("n") >= 1)
        # Two independent orderings consume the same encode pass:
        # materialize once (same convention as text_bm25_search).
        .localCheckpoint(eager=False)
    )
    straddle = (
        F.expr("o div 2048") != F.expr("(o + n - 1) div 2048")
    ).cast("double")

    def leg(df, order_cols, bucket, label):
        off = prefix_sum(df, order_cols, "n", bucket, out_col="o")
        return off.agg(
            F.lit(label).alias("strategy"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(straddle.cast("long")).alias("n_straddlers"),
            F.round(F.sum(straddle) / F.count(F.lit(1)), 6).alias(
                "straddle_rate"
            ),
        )
    by_id = leg(per_doc, "doc_id", F.floor(F.col("doc_id") / 256), "by_id")
    by_len = leg(
        per_doc.withColumn("neg_n", -F.col("n")),
        ["neg_n", "doc_id"],
        F.floor(F.col("neg_n") / 16),
        "len_desc",
    )
    return by_id.unionByName(by_len).orderBy("strategy")


@register(
    "text_kneser_ney_bigram",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
bg AS (
  SELECT unnest([array_to_string(t[i:i+1], ' ')
                 for i in range(1, greatest(len(t) - 1, 0) + 1)]) AS g
  FROM toks WHERE len(t) >= 2),
c2 AS (SELECT g, COUNT(*) AS c FROM bg GROUP BY g),
ctx AS (SELECT split_part(g, ' ', 1) AS w1, CAST(SUM(c) AS BIGINT) AS cp,
               COUNT(*) AS n1f
        FROM c2 GROUP BY 1),
cont AS (SELECT split_part(g, ' ', 2) AS w2, COUNT(*) AS n1b
         FROM c2 GROUP BY 1),
nbg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_types FROM c2)
SELECT c2.g AS bigram, CAST(c2.c AS BIGINT) AS c,
       ROUND((c2.c - 0.75) / ctx.cp
             + 0.75 * ctx.n1f / ctx.cp * (cont.n1b / nbg.n_types), 6)
         AS p_kn
FROM c2
JOIN ctx ON ctx.w1 = split_part(c2.g, ' ', 1)
JOIN cont ON cont.w2 = split_part(c2.g, ' ', 2)
CROSS JOIN nbg
ORDER BY c DESC, bigram LIMIT 15
""",
    doc="Interpolated Kneser-Ney bigram probabilities (discount "
    "D=0.75) — the smoothing every count-based LM actually ships "
    "(Kneser & Ney 1995; Chen & Goodman 1999): "
    "P(w2|w1) = (c(w1w2)-D)/c(w1.) + D*N1+(w1.)/c(w1.) * "
    "N1+(.w2)/|bigram types|, where the continuation weight counts "
    "DISTINCT contexts, not occurrences. All four count tables "
    "derive from ONE corpus bigram pass re-grouped three ways "
    "(by gram, by prefix, by suffix) — partial-agg shuffles on "
    "gram-sized keys, broadcast of the 1-row type count; no row "
    "explosion beyond the token stream itself. Top-15 most frequent "
    "bigrams ship with exact counts and ROUND(6) smoothed "
    "probability (pure integer-derived arithmetic, identical "
    "operation order both engines; max(c-D,0) is omitted because "
    "every counted bigram has c >= 1 > D).",
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(D.tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    n = F.greatest(F.size("t") - 1, F.lit(0))
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", F.lit(1), n),
                F.slice("t", F.lit(2), n),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("g")
    )
    c2 = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    ctx = (
        c2.withColumn("w1", F.substring_index("g", " ", 1))
        .groupBy("w1")
        .agg(F.sum("c").alias("cp"), F.count(F.lit(1)).alias("n1f"))
    )
    cont = (
        c2.withColumn("w2", F.substring_index("g", " ", -1))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("n1b"))
    )
    nbg = c2.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    p_kn = (F.col("c") - 0.75) / F.col("cp") + F.lit(0.75) * F.col(
        "n1f"
    ) / F.col("cp") * (F.col("n1b") / F.col("n_types"))
    return (
        c2.withColumn("w1", F.substring_index("g", " ", 1))
        .withColumn("w2", F.substring_index("g", " ", -1))
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nbg))
        .select(
            F.col("g").alias("bigram"),
            "c",
            F.round(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.desc("c"), "bigram")
        .limit(15)
    )


@register(
    "quality_dsir_weights",
    oracle=f"""
WITH tok AS (
  SELECT * FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
  WHERE term <> ''),
fb AS (
  SELECT doc_id, substr(md5(term), 1, 2) AS b, COUNT(*) AS n
  FROM tok GROUP BY 1, 2
),
tgt AS (
  SELECT f.b, CAST(SUM(f.n) AS BIGINT) AS ct
  FROM fb f JOIN documents d USING (doc_id)
  WHERE d.source = 'src0' GROUP BY 1
),
raw AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cr FROM fb GROUP BY 1),
tots AS (
  SELECT (SELECT SUM(ct) FROM tgt) AS tt,
         (SELECT SUM(cr) FROM raw) AS rt,
         (SELECT COUNT(*) FROM raw) AS v
),
w AS (
  SELECT r.b,
         ln((COALESCE(t.ct, 0) + 1.0) / (tots.tt + tots.v))
         - ln((r.cr + 1.0) / (tots.rt + tots.v)) AS w
  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots
),
sc AS (
  SELECT f.doc_id,
         ROUND(SUM(f.n * w.w) / SUM(f.n), 6) AS logw,
         CAST(SUM(f.n) AS BIGINT) AS n_tokens
  FROM fb f JOIN w USING (b) JOIN documents d USING (doc_id)
  WHERE d.source <> 'src0' GROUP BY 1
)
SELECT sc.doc_id, d.source, sc.n_tokens, sc.logw
FROM sc JOIN documents d USING (doc_id)
ORDER BY sc.logw DESC, sc.doc_id LIMIT 20
""",
    doc="DSIR data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling' — public paper): "
    "score every raw document by the hashed-feature importance "
    "log-ratio ln p_target(f) - ln p_raw(f), averaged per token, "
    "against a target domain (source 'src0' as the curated "
    "exemplar); top 20 non-target docs are the ones DSIR would "
    "resample into the training mix. Features are md5-prefix hash "
    "buckets of unigrams (256 buckets; the paper hashes n-grams to a "
    "fixed 10k table for exactly this reason) with add-1 smoothing — "
    "the whole trick for 100 TB is that hashing makes BOTH "
    "distributions FIXED-WIDTH (256 rows) regardless of vocabulary "
    "growth, so the weight table is always broadcastable and scoring "
    "is one broadcast join + partial-agg over the shared "
    "(doc_id, term, n) intermediate (operators/tokenize.py) — no "
    "vocab-sized shuffle anywhere. Per-doc feature vectors are "
    "<= 256 entries, so the doc-side aggregate is bounded too. "
    "ROUND(6) before the ORDER BY; ties broken by doc_id.",
)
def quality_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.quality_clf import (
        hashed_doc_features,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # One tokenize pass; the hashed-bucket projection collapses the
    # vocab dimension immediately after (256 features), so everything
    # downstream is either 256-row (broadcast) or per-doc-bounded.
    # The projection is the SHARED operators/quality_clf
    # .hashed_doc_features — DSIR and the NB classifier must score
    # over the SAME feature space, and a single definition makes that
    # equivalence structural instead of two copies that must stay
    # byte-identical. `source` rides the aggregation as a carried
    # column instead of a join back (identical integer bucket counts).
    doc_b = hashed_doc_features(docs, carry=("source",)).localCheckpoint(
        eager=False
    )
    # Weight table via the SHARED operators/quality_clf
    # .dsir_log_weights (eval_dsir_recall measures this exact
    # definition, so it lives in one place — same contract as
    # hashed_doc_features).
    from hdfs_parquet_importer_spark.operators.quality_clf import (
        dsir_log_weights,
    )

    w = dsir_log_weights(doc_b, F.col("source") == "src0")
    sc = (
        doc_b.filter(F.col("source") != "src0")
        .join(F.broadcast(w), "b")
        # Grouping on the carried `source` too: doc_id determines it,
        # so the groups — and the float sum order within each group —
        # are unchanged, and no join back for the source column is
        # needed.
        .groupBy("doc_id", "source")
        .agg(
            F.round(F.sum(F.col("n") * F.col("w")) / F.sum("n"), 6).alias(
                "logw"
            ),
            F.sum("n").alias("n_tokens"),
        )
    )
    return (
        sc.select("doc_id", "source", "n_tokens", "logw")
        .orderBy(F.desc("logw"), "doc_id")
        .limit(20)
    )


@register(
    "eval_dsir_recall",
    oracle=f"""
WITH tok AS (
  SELECT * FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
  WHERE term <> ''),
fb AS (
  SELECT doc_id, substr(md5(term), 1, 2) AS b, COUNT(*) AS n
  FROM tok GROUP BY 1, 2
),
dupdocs AS (
  SELECT DISTINCT d.doc_id FROM documents d JOIN documents s
    ON md5(d.text) = md5(s.text || ' dup') AND d.doc_id <> s.doc_id
),
tgtdocs AS (SELECT doc_id FROM dupdocs WHERE doc_id % 2 = 0),
truth AS (SELECT doc_id FROM dupdocs WHERE doc_id % 2 = 1),
tgt AS (
  SELECT f.b, CAST(SUM(f.n) AS BIGINT) AS ct
  FROM fb f JOIN tgtdocs USING (doc_id) GROUP BY 1
),
raw AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cr FROM fb GROUP BY 1),
tots AS (
  SELECT (SELECT SUM(ct) FROM tgt) AS tt,
         (SELECT SUM(cr) FROM raw) AS rt,
         (SELECT COUNT(*) FROM raw) AS v
),
w AS (
  SELECT r.b,
         ln((COALESCE(t.ct, 0) + 1.0) / (tots.tt + tots.v))
         - ln((r.cr + 1.0) / (tots.rt + tots.v)) AS w
  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots
),
sc AS (
  SELECT f.doc_id, ROUND(SUM(f.n * w.w) / SUM(f.n), 6) AS logw
  FROM fb f JOIN w USING (b)
  WHERE f.doc_id NOT IN (SELECT doc_id FROM tgtdocs) GROUP BY 1
),
k AS (SELECT COUNT(*) AS k FROM truth),
nt AS (SELECT COUNT(*) AS n_nontarget FROM sc),
r AS (SELECT doc_id,
             row_number() OVER (ORDER BY logw DESC, doc_id) AS rk
      FROM sc),
sel AS (SELECT doc_id FROM r CROSS JOIN k WHERE rk <= k.k),
hit AS (SELECT COUNT(*) AS n_hit FROM truth JOIN sel USING (doc_id))
SELECT k.k AS n_truth,
       k.k AS n_selected,
       hit.n_hit AS n_hit,
       CASE WHEN k.k > 0
            THEN ROUND(hit.n_hit * 1.0 / k.k, 6) END AS recall,
       CASE WHEN nt.n_nontarget > 0
            THEN ROUND(k.k * 1.0 / nt.n_nontarget, 6) END AS base_rate,
       CASE WHEN k.k > 0 AND nt.n_nontarget > 0
            THEN ROUND(hit.n_hit * 1.0 * nt.n_nontarget / (k.k * k.k), 6)
       END AS lift
FROM k CROSS JOIN nt CROSS JOIN hit
""",
    doc="DSIR selection EVAL against planted truth "
    "(quality_dsir_weights' selection quality, measured): the "
    "classic held-out-curated-split protocol. The corpus plants "
    "' dup' copies of earlier docs; the copies form a coherent "
    "'curated domain' (shared provenance AND a shared marker "
    "token). Target = the EVEN-doc_id half of the copies (the "
    "curated exemplars DSIR trains its importance weights on); "
    "truth = the held-out ODD-id half; pool = everything outside "
    "the target. A working importance resampler must rank the "
    "held-out curated docs far above random. MEASURED: recall@k "
    "0.36 / 0.25 / 0.86 at sf0.001/0.01/0.1 vs base rates ~0.02-"
    "0.05 (lift 10-36x) — honest boundary: short docs over a "
    "shared vocabulary give the 256-bucket estimator little "
    "per-doc evidence, so small-SF recall is modest and grows with "
    "corpus size. (Design note: a 'copies of src0 docs' truth was "
    "prototyped first and collapses at sf0.1 — the ' dup' marker "
    "token, present in copies but absent from their sources, turns "
    "strongly NEGATIVE when the target is the sources; the held-"
    "out-split form keeps exemplars and truth in the same "
    "distribution, which is also what a real curated set looks "
    "like.) The eval scores the pool with the SHARED "
    "operators/quality_clf.dsir_log_weights table (one definition "
    "for scorer and eval, structurally), takes the top-|truth| by "
    "(logw DESC, doc_id), and reports recall@|truth|, the base "
    "rate a random selector would get, and lift = recall/base_rate "
    "computed from raw integer counts (n_hit*n_nontarget/k^2, "
    "ROUND(6) once — never a ratio of rounded ratios). FULL value "
    "oracle, no pinned facts: DuckDB re-derives weights, scores, "
    "ranks, truth, and all three ratios independently at any SF. "
    "Rank-boundary determinism: logw is ROUND(6)-ed BEFORE ranking "
    "with doc_id tiebreak, the ccnet/dist_rank convention. SCALE: "
    "the dup-pair join shuffles 8-byte xxhash64 longs (string-key "
    "rule; the oracle's md5 is its own bridge); the global top-k "
    "rank rides the bucketed two-phase dist_rank (no single-task "
    "window); weights are a 256-row broadcast; the three counts "
    "assemble via 1-row broadcast cross joins.",
)
def eval_dsir_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import dist_rank
    from hdfs_parquet_importer_spark.operators.quality_clf import (
        dsir_log_weights,
        hashed_doc_features,
    )

    from hdfs_parquet_importer_spark.operators.tokenize import doc_tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Planted curated set: docs that are ' dup' copies of another doc
    # — the pair join shuffles 8-byte xxhash64 longs (string-key
    # rule), never text. Even ids train the weights, odd ids are the
    # held-out truth. ONE text scan for the
    # whole query — the pair hashes ride the SAME projection that
    # tokenizes (the tokenize-once-upstream contract, tokenize.py
    # module docstring), and both the hash self-join and the feature
    # aggregation read the persisted (doc_id, kd, ks, tokens) rows
    # instead of each re-reading the parquet text column. Zero-token
    # docs stay visible to the hash side (the projection is per-doc,
    # no explode above the checkpoint — an explode there would drop
    # them), and still vanish from the feature rows
    # (hashed_doc_features explodes below).
    kd, ks = D.content_pair_hash_cols(F.col("text"))
    base = doc_tokens(
        docs.select("doc_id", "text", kd.alias("kd"), ks.alias("ks")),
        carry=("kd", "ks"),
    ).localCheckpoint(eager=False)
    dupdocs = (
        base.select("doc_id", F.col("kd").alias("kk"))
        .join(
            base.select(
                F.col("doc_id").alias("src_id"), F.col("ks").alias("kk")
            ),
            "kk",
        )
        .filter(F.col("doc_id") != F.col("src_id"))
        .select("doc_id")
        .distinct()
        # Read three times (target marker join + truth count + hit
        # join); tiny (planted share of docs).
        .localCheckpoint(eager=False)
    )
    tgtdocs = dupdocs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "is_tgt", F.lit(True)
    )
    truth = dupdocs.filter(F.col("doc_id") % 2 == 1)
    doc_b = (
        hashed_doc_features(tokens_df=base.select("doc_id", "tokens"))
        .join(F.broadcast(tgtdocs), "doc_id", "left")
        .withColumn("is_tgt", F.coalesce("is_tgt", F.lit(False)))
        .localCheckpoint(eager=False)
    )
    w = dsir_log_weights(doc_b, F.col("is_tgt"))
    # ROUND(6) before ranking so the (logw, doc_id) order is engine-
    # independent (the quality_ccnet_buckets convention).
    sc = (
        doc_b.filter(~F.col("is_tgt"))
        .join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("n") * F.col("w")) / F.sum("n"), 6).alias(
                "logw"
            )
        )
    )
    kn = truth.agg(F.count(F.lit(1)).alias("k"))
    # Scored set is read by dist_rank's two branches AND the count;
    # materialize once so every consumer ranks the same doubles.
    # EAGER: same double-rounding determinism rationale as ccnet's
    # pd checkpoint above.
    scored = sc.withColumn("nlw", -F.col("logw")).localCheckpoint(eager=True)
    ranked = dist_rank(
        scored, ["nlw", "doc_id"], F.floor(F.col("nlw") * 8), out_col="rk"
    )
    sel = (
        ranked.crossJoin(F.broadcast(kn))
        .filter(F.col("rk") <= F.col("k"))
        .select("doc_id")
    )
    n_hit = truth.join(sel, "doc_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_nt = scored.agg(F.count(F.lit(1)).alias("n_nontarget"))
    return (
        kn.crossJoin(F.broadcast(n_hit))
        .crossJoin(F.broadcast(n_nt))
        .select(
            F.col("k").cast("long").alias("n_truth"),
            F.col("k").cast("long").alias("n_selected"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.when(
                F.col("k") > 0, F.round(F.col("n_hit") / F.col("k"), 6)
            ).alias("recall"),
            F.when(
                F.col("n_nontarget") > 0,
                F.round(F.col("k") / F.col("n_nontarget"), 6),
            ).alias("base_rate"),
            F.when(
                (F.col("k") > 0) & (F.col("n_nontarget") > 0),
                F.round(
                    F.col("n_hit")
                    * F.col("n_nontarget")
                    / (F.col("k") * F.col("k")),
                    6,
                ),
            ).alias("lift"),
        )
    )


# Shared CTE prefix for the classifier twins: hashed features, labels,
# NB log-count-ratio weights and bias, per-doc margin + sigmoid —
# replaying operators/quality_clf.py formula-for-formula.
_CLF_SQL_PREFIX = f"""
WITH tok AS (
  SELECT * FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
  WHERE term <> ''),
fb AS (
  SELECT doc_id, substr(md5(term), 1, 2) AS b, COUNT(*) AS n
  FROM tok GROUP BY 1, 2
),
lab AS (SELECT doc_id, (source = 'src0') AS pos FROM documents),
agg AS (
  SELECT f.b,
         SUM(CASE WHEN l.pos THEN f.n ELSE 0 END) AS pn,
         SUM(CASE WHEN l.pos THEN 0 ELSE f.n END) AS nn
  FROM fb f JOIN lab l USING (doc_id) GROUP BY 1
),
tots AS (SELECT SUM(pn) AS pt, SUM(nn) AS nt, COUNT(*) AS v FROM agg),
bias AS (
  SELECT ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM lab WHERE pos)
            / (SELECT COUNT(*) FROM lab WHERE NOT pos)) AS bias
),
w AS (
  SELECT a.b,
         ln((a.pn + 1.0) / (t.pt + t.v))
         - ln((a.nn + 1.0) / (t.nt + t.v)) AS w
  FROM agg a CROSS JOIN tots t
),
sc AS (
  SELECT f.doc_id,
         CAST(SUM(f.n) AS BIGINT) AS n_tokens,
         SUM(f.n * w.w) / SUM(f.n) AS margin,
         1.0 / (1.0 + exp(-((SELECT bias FROM bias)
                            + SUM(f.n * w.w) / SUM(f.n)))) AS prob
  FROM fb f JOIN w USING (b) GROUP BY 1
)"""


def _clf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Spark prefix: train on ALL docs (src0 = positive), score
    every doc, join source back. Mirrors _CLF_SQL_PREFIX."""
    from hdfs_parquet_importer_spark.operators.quality_clf import (
        hashed_doc_features,
        nb_linear_classifier,
        score_documents,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # `source` rides the feature aggregation as a carried per-doc
    # column, so neither doc_id join — labels into training, source
    # back onto scores — is needed.
    # Bucket sums and model weights are integer-derived and identical;
    # labels is still passed for the bias (it counts ALL docs,
    # including zero-token ones feats cannot see) but costs only a
    # one-column scan, never a join.
    feats = hashed_doc_features(docs, carry=("source",)).localCheckpoint(
        eager=False
    )
    labels = docs.select("doc_id", (F.col("source") == "src0").alias("pos"))
    # Trusted closed-form path (model fresh from nb_linear_classifier
    # in the same lineage): validate=False skips the swap-point
    # driver collect that a per-run query path pays on every
    # execution (the operator docstring's documented contract).
    # The checkpoint keeps the <=256-row model single-computed for
    # its two reads (weight join + bias row).
    model = nb_linear_classifier(
        feats, labels, pos_col=F.col("source") == "src0"
    ).localCheckpoint(eager=False)
    return score_documents(feats, model, validate=False, carry=("source",))


@register(
    "quality_classifier_score",
    oracle=_CLF_SQL_PREFIX
    + """
SELECT sc.doc_id, d.source, sc.n_tokens, ROUND(sc.prob, 6) AS prob
FROM sc JOIN documents d USING (doc_id)
WHERE d.source <> 'src0'
ORDER BY prob DESC, sc.doc_id LIMIT 20
""",
    doc="Model-scored quality filter, scoring half: the "
    "classifier-based filtering stage of CCNet/Gopher/LLaMA "
    "data work. A linear classifier over hashed unigram features "
    "(the SAME 256 md5-prefix buckets quality_dsir_weights built) is "
    "trained in closed form as the Naive-Bayes log-count ratio "
    "(NBSVM observation: multinomial NB IS a linear model — Wang & "
    "Manning 2012, public) with source 'src0' as the curated-domain "
    "positives, then every candidate doc is scored "
    "sigmoid(bias + mean-pooled dot product). Top 20 non-src0 docs "
    "by prob. Zero Python UDFs: training is ONE fixed-width (256-"
    "row) aggregation, the weight vector rides ONE broadcast join, "
    "scoring folds into a map-side-combinable agg — at 100 TB no "
    "vocab-sized shuffle exists anywhere, and an offline-trained "
    "fasttext model drops in as a literal weight table without "
    "changing the plan (operators/quality_clf.py). ROUND(6) before "
    "the ORDER BY; ties broken by doc_id.",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _clf_scored(spark, sf_dir)
    return (
        sc.filter(F.col("source") != "src0")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round("prob", 6).alias("prob"),
        )
        .orderBy(F.desc("prob"), "doc_id")
        .limit(20)
    )


@register(
    "quality_classifier_filter",
    oracle=_CLF_SQL_PREFIX
    + """
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ROUND(sc.margin, 6) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       ROUND(SUM(CASE WHEN ROUND(sc.margin, 6) > 0 THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS kept_frac
FROM sc JOIN documents d USING (doc_id)
WHERE d.source <> 'src0'
GROUP BY 1 ORDER BY 1
""",
    doc="Model-scored quality filter, filtering half: per-source "
    "keep rates when the classifier gate is margin > 0 — i.e. keep "
    "docs whose hashed-feature evidence leans MORE curated than the "
    "class prior (threshold on the mean-pooled dot product, "
    "prior-independent, the natural operating point when positives "
    "are a small exemplar set and sigmoid(bias + margin) would sit "
    "far below 0.5 for every doc). The margin is ROUND(6)ed before "
    "the comparison so both engines gate on the identical value "
    "(registry-wide convention for float boundaries). Same "
    "single-broadcast-join scoring plan as "
    "quality_classifier_score; the per-source rollup is one "
    "map-side-combinable agg over |sources| groups.",
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _clf_scored(spark, sf_dir)
    kept = (F.round("margin", 6) > 0).cast("int")
    return (
        sc.filter(F.col("source") != "src0")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.round(F.sum(kept) / F.count(F.lit(1)), 6).alias("kept_frac"),
        )
        .orderBy("source")
    )


_EVAL_CLF_PLANT_SQL = (
    "'click here free offer ' || "
    "repeat('promo' || CAST(doc_id % 5 AS VARCHAR) || ' ', 20) || 'buy now'"
)


@register(
    "eval_classifier_quality",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         {_EVAL_CLF_PLANT_SQL} AS text,
         'planted' AS source
  FROM documents WHERE doc_id % 10 = 0),
tok AS (
  SELECT * FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM corpus)
  WHERE term <> ''),
fb AS (
  SELECT doc_id, substr(md5(term), 1, 2) AS b, COUNT(*) AS n
  FROM tok GROUP BY 1, 2),
lab AS (SELECT doc_id, (source = 'src0') AS pos FROM corpus),
agg AS (
  SELECT f.b,
         SUM(CASE WHEN l.pos THEN f.n ELSE 0 END) AS pn,
         SUM(CASE WHEN l.pos THEN 0 ELSE f.n END) AS nn
  FROM fb f JOIN lab l USING (doc_id) GROUP BY 1),
tots AS (SELECT SUM(pn) AS pt, SUM(nn) AS nt, COUNT(*) AS v FROM agg),
w AS (
  SELECT a.b,
         ln((a.pn + 1.0) / (t.pt + t.v))
         - ln((a.nn + 1.0) / (t.nt + t.v)) AS w
  FROM agg a CROSS JOIN tots t),
sc AS (
  SELECT f.doc_id, SUM(f.n * w.w) / SUM(f.n) AS margin
  FROM fb f JOIN w USING (b) GROUP BY 1),
cand AS (
  SELECT (c.source = 'planted') AS planted,
         (ROUND(sc.margin, 6) <= 0) AS rejected,
         ROUND(sc.margin, 6) AS m6
  FROM sc JOIN corpus c USING (doc_id)
  WHERE c.source <> 'src0'),
cnt AS (
  SELECT CAST(SUM(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT)
           AS n_planted,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN rejected THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rejected,
         CAST(SUM(CASE WHEN planted AND rejected THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
         ROUND(AVG(CASE WHEN planted THEN m6 END), 6)
           AS avg_margin_planted,
         ROUND(AVG(CASE WHEN NOT planted THEN m6 END), 6)
           AS avg_margin_clean
  FROM cand)
SELECT n_planted, n_candidates, n_rejected, n_hit,
       ROUND(n_hit * 1.0 / n_planted, 6) AS reject_recall,
       CASE WHEN n_rejected > 0
            THEN ROUND(n_hit * 1.0 / n_rejected, 6) END
         AS reject_precision,
       avg_margin_planted, avg_margin_clean
FROM cnt
""",
    doc="Classifier-quality EVAL against planted ground truth "
    "(the eval_langid_confusion / "
    "eval_dedup_recall / eval_ann_recall pattern applied to the "
    "quality_classifier_filter gate): deterministically plant one "
    "boilerplate-spam document per 10 corpus docs (fixed junk "
    "vocabulary varied by doc_id % 5, doc_id offset +1000000 so ids "
    "never collide), retrain the SAME closed-form NB log-count-ratio "
    "model on the augmented corpus (src0 = curated positives; "
    "planted docs are ordinary unlabeled negatives, exactly how junk "
    "enters a real CCNet-style crawl), then measure the margin>0 "
    "keep gate as a low-quality DETECTOR on the non-src0 candidate "
    "set: reject_recall (planted docs the gate rejects), "
    "reject_precision (rejected docs that are planted — below 1.0 "
    "because genuine low-scoring corpus docs are also rejected, "
    "which a working filter should do), and the margin distribution "
    "summarized as avg planted vs avg clean margin (the separation "
    "the model achieves). Measured at the gate SF (sf0.01): recall "
    "1.0 (50/50 planted docs rejected), precision 0.641 (78 total "
    "rejections), avg margin -3.28 planted vs +0.03 clean — the "
    "hashed 256-bucket model separates boilerplate spam by >3 nats "
    "despite bucket collisions with real vocabulary. Margins "
    "ROUND(6)ed per doc before gating "
    "and averaging (registry float-boundary convention); the "
    "precision ratio is CASE-guarded on n_rejected > 0 (ANSI-safe). "
    "SCALE: planting is a filter + projection (no shuffle), training "
    "is the same ONE fixed-width 256-bucket pass, scoring the same "
    "single broadcast weight join; the eval adds one |sources|-"
    "bounded final agg. Zero Python. ORACLE: the full chain replayed "
    "rule-identically in SQL over the identical planted corpus.",
)
def eval_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.quality_clf import (
        hashed_doc_features,
        nb_linear_classifier,
        score_documents,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(
            F.lit("click here free offer "),
            F.repeat(
                F.concat(
                    F.lit("promo"),
                    (F.col("doc_id") % 5).cast("string"),
                    F.lit(" "),
                ),
                20,
            ),
            F.lit("buy now"),
        ).alias("text"),
        F.lit("planted").alias("source"),
    )
    corpus = docs.select("doc_id", "text", "source").unionByName(planted)
    # Carry `source` through the feature aggregation — no labels join
    # into training and no source join onto scores (_clf_scored
    # rationale).
    feats = hashed_doc_features(corpus, carry=("source",)).localCheckpoint(
        eager=False
    )
    labels = corpus.select("doc_id", (F.col("source") == "src0").alias("pos"))
    # validate=False: trusted closed-form path, no per-run swap-point
    # driver collect; lazy checkpoint single-computes the
    # <=256-row model for its two reads.
    model = nb_linear_classifier(
        feats, labels, pos_col=F.col("source") == "src0"
    ).localCheckpoint(eager=False)
    sc = score_documents(feats, model, validate=False, carry=("source",))
    cand = sc.filter(F.col("source") != "src0").select(
        (F.col("source") == "planted").alias("planted"),
        (F.round("margin", 6) <= 0).alias("rejected"),
        F.round("margin", 6).alias("m6"),
    )
    cnt = cand.agg(
        F.sum(F.col("planted").cast("int")).cast("long").alias("n_planted"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.col("rejected").cast("int")).cast("long").alias("n_rejected"),
        F.sum((F.col("planted") & F.col("rejected")).cast("int"))
        .cast("long")
        .alias("n_hit"),
        F.round(F.avg(F.when(F.col("planted"), F.col("m6"))), 6).alias(
            "avg_margin_planted"
        ),
        F.round(F.avg(F.when(~F.col("planted"), F.col("m6"))), 6).alias(
            "avg_margin_clean"
        ),
    )
    return cnt.select(
        "n_planted",
        "n_candidates",
        "n_rejected",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_planted"), 6).alias("reject_recall"),
        F.when(
            F.col("n_rejected") > 0,
            F.round(F.col("n_hit") / F.col("n_rejected"), 6),
        ).alias("reject_precision"),
        "avg_margin_planted",
        "avg_margin_clean",
    )


@register(
    "split_leakage_audit",
    oracle="""
WITH RECURSIVE truth AS (
  SELECT DISTINCT LEAST(d.doc_id, s.doc_id) AS id_a,
                  GREATEST(d.doc_id, s.doc_id) AS id_b
  FROM documents d JOIN documents s
    ON md5(d.text) = md5(s.text || ' dup') AND d.doc_id <> s.doc_id),
sym AS (SELECT id_a AS u, id_b AS v FROM truth
        UNION SELECT id_b, id_a FROM truth),
reach AS (
  SELECT u AS node, u AS lab FROM sym
  UNION
  SELECT s.u, r.lab FROM sym s JOIN reach r ON s.v = r.node),
cc AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
canon AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN cc c ON c.node = d.doc_id),
lab AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'
                THEN 'val'
              ELSE 'test' END AS naive_split,
         CASE WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 4)
                < 'e666' THEN 'train'
              WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 4)
                < 'f333' THEN 'val'
              ELSE 'test' END AS cluster_split
  FROM canon),
pl AS (
  SELECT a.naive_split AS na, b.naive_split AS nb,
         a.cluster_split AS ca, b.cluster_split AS cb
  FROM truth t
  JOIN lab a ON a.doc_id = t.id_a
  JOIN lab b ON b.doc_id = t.id_b),
docs_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         ROUND(SUM(CASE WHEN naive_split = 'train' THEN 1 ELSE 0 END)
               * 1.0 / COUNT(*), 6) AS train_frac_naive,
         ROUND(SUM(CASE WHEN cluster_split = 'train' THEN 1 ELSE 0 END)
               * 1.0 / COUNT(*), 6) AS train_frac_cluster
  FROM lab),
pair_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT)
           AS leaked_naive,
         CAST(SUM(CASE WHEN ca <> cb THEN 1 ELSE 0 END) AS BIGINT)
           AS leaked_cluster
  FROM pl)
SELECT n_docs, train_frac_naive, train_frac_cluster,
       n_pairs, leaked_naive, leaked_cluster
FROM docs_agg, pair_agg
""",
    doc="Train/test LEAKAGE audit of split keying — the contamination "
    "mode corpus_train_eval_split's per-doc hash coin cannot prevent: "
    "a near-duplicate pair straddling train and test leaks eval "
    "content into training (the dedup-before-split rule of C4/Pile-"
    "style pipelines). Recovers the planted-dup truth pairs (the "
    "eval_dedup_recall md5 join), closes them transitively with the "
    "shipped connected_components operator (dup-of-dup chains form "
    "real multi-node clusters), assigns every doc a canonical_id "
    "(component min; docs outside any pair are their own), and "
    "compares two 90/5/5 splits: NAIVE keyed on doc_id vs "
    "CLUSTER-keyed on canonical_id. Reports straddling truth pairs "
    "under each — leaked_cluster is structurally ZERO (both members "
    "share a canonical, hence a coin, hence a split; the row proves "
    "the implementation delivers the guarantee) while leaked_naive "
    "sits near the 2*p*(1-p) expectation (~18% of pairs; measured "
    "at the gate SF: 5 of 24 pairs leak naive, 0 leak cluster-keyed, "
    "train fraction 0.892 vs 0.896), plus the "
    "train fractions under both keyings (cluster keying must not "
    "distort the 90/5/5 proportions). SCALE: the truth join shuffles "
    "md5 keys; CC runs on the pair set (~5% of docs, chain-depth "
    "rounds); split assignment is a pure projection; the two 1-row "
    "aggregates broadcast-cross into the summary row. ORACLE: truth, "
    "transitive closure (recursive CTE, min-label), both splits, and "
    "both leak counts replayed rule-identically.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.graph import (
        connected_components,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Truth pairs join on 8-byte xxhash64 longs (string-key rule:
    # the key never reaches output; the oracle's md5 is its own
    # equality bridge — only content equality crosses engines). Both
    # hashes from ONE text scan (content_pair_hashes).
    hp = D.content_pair_hashes(docs)
    dup_side = hp.select("doc_id", F.col("kd").alias("k"))
    src_side = hp.select(
        F.col("doc_id").alias("src_id"), F.col("ks").alias("k")
    )
    pairs = (
        dup_side.join(src_side, "k")
        .filter(F.col("doc_id") != F.col("src_id"))
        .select(
            F.least("doc_id", "src_id").alias("id_a"),
            F.greatest("doc_id", "src_id").alias("id_b"),
        )
        .distinct()
        # Read by CC (which re-reads per round) and the two pair-side
        # label joins below.
        .localCheckpoint(eager=False)
    )
    cc = connected_components(pairs, "id_a", "id_b")
    canon = (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canonical_id"),
        )
    )

    def split3(coin):
        return (
            F.when(coin < frac_threshold(0.9), "train")
            .when(coin < frac_threshold(0.95), "val")
            .otherwise("test")
        )

    lab = canon.select(
        "doc_id",
        split3(hash_coin(F.col("doc_id"))).alias("naive_split"),
        split3(hash_coin(F.col("canonical_id"))).alias("cluster_split"),
    )
    docs_agg = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum((F.col("naive_split") == "train").cast("int"))
            / F.count(F.lit(1)),
            6,
        ).alias("train_frac_naive"),
        F.round(
            F.sum((F.col("cluster_split") == "train").cast("int"))
            / F.count(F.lit(1)),
            6,
        ).alias("train_frac_cluster"),
    )
    # The pair-side split labels are pure functions of the member id
    # (hash_coin) and its canonical id — and every pair member is in
    # cc by construction (pairs built the edge list). So the leak
    # counts need only the TINY cc label table joined twice, not two
    # joins against the all-docs lab table (that shape shuffles every
    # doc's labels through two SortMergeJoins to decorate ~5% of
    # docs' pairs; same values, pair-scale bytes).
    cca = cc.select(
        F.col("node").alias("id_a"), F.col("component").alias("comp_a")
    )
    ccb = cc.select(
        F.col("node").alias("id_b"), F.col("component").alias("comp_b")
    )
    pair_agg = (
        pairs.join(cca, "id_a")
        .join(ccb, "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                (
                    split3(hash_coin(F.col("id_a")))
                    != split3(hash_coin(F.col("id_b")))
                ).cast("int")
            )
            .cast("long")
            .alias("leaked_naive"),
            F.sum(
                (
                    split3(hash_coin(F.col("comp_a")))
                    != split3(hash_coin(F.col("comp_b")))
                ).cast("int")
            )
            .cast("long")
            .alias("leaked_cluster"),
        )
    )
    return docs_agg.crossJoin(F.broadcast(pair_agg))
