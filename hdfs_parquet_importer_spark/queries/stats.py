"""Distributed statistics and sketch operators (driver north_star
extension; the reference is a batch ETL tool — SURVEY.md §2.2 lists no
statistics surface, so everything here is additive).

Design rule shared by the module: every statistic reduces through
ONE partial-aggregable pass over the fact table (map-side combine →
tiny shuffle), never a global sort or an unpartitioned window — the
`stat_spearman_rank` lesson applied throughout. Contingency /
cross tables are materialized only at category granularity (bounded
by the product of distinct-category counts, never by row count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table

_FMT = "yyyy-MM-dd HH:mm:ss"


@register(
    "stat_corr_matrix",
    oracle="""
SELECT ROUND(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
       ROUND(corr(l_quantity, l_discount), 6) + 0.0      AS corr_qty_disc,
       ROUND(corr(l_quantity, l_tax), 6) + 0.0           AS corr_qty_tax,
       ROUND(corr(l_extendedprice, l_discount), 6) + 0.0 AS corr_price_disc,
       ROUND(corr(l_extendedprice, l_tax), 6) + 0.0      AS corr_price_tax,
       ROUND(corr(l_discount, l_tax), 6) + 0.0           AS corr_disc_tax
FROM lineitem
""",
    doc="Pairwise Pearson correlation matrix over the four lineitem "
    "measures, computed in ONE aggregate pass: corr() is an algebraic "
    "aggregate (sums, sums-of-squares, cross-products), so all six "
    "pairs partial-aggregate map-side and the shuffle carries one "
    "6-accumulator row per partition regardless of table size. This "
    "is the plan a 100 TB feature-correlation screen needs — no "
    "per-pair rescan, no collect. ROUND(6) absorbs accumulation-order "
    "float drift between engines.",
)
def stat_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice", "corr_qty_price"),
        ("l_quantity", "l_discount", "corr_qty_disc"),
        ("l_quantity", "l_tax", "corr_qty_tax"),
        ("l_extendedprice", "l_discount", "corr_price_disc"),
        ("l_extendedprice", "l_tax", "corr_price_tax"),
        ("l_discount", "l_tax", "corr_disc_tax"),
    ]
    # + 0.0 collapses IEEE -0.0 (see queries/__init__ docstring).
    return li.agg(
        *[
            (F.round(F.corr(a, b), 6) + F.lit(0.0)).alias(name)
            for a, b, name in pairs
        ]
    )


@register(
    "stat_chi2_independence",
    oracle="""
WITH obs AS (
  SELECT event_type AS t, dayofweek(ts) AS d, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
rm AS (SELECT t, SUM(n) AS rn FROM obs GROUP BY t),
cm AS (SELECT d, SUM(n) AS cn FROM obs GROUP BY d),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM obs),
cells AS (
  SELECT rm.t, cm.d, rm.rn, cm.cn, tot.nn, COALESCE(obs.n, 0) AS o
  FROM rm CROSS JOIN cm CROSS JOIN tot
  LEFT JOIN obs ON obs.t = rm.t AND obs.d = cm.d
)
SELECT ROUND(SUM((o - rn * cn / nn) * (o - rn * cn / nn)
                 / (rn * cn / nn)), 4) AS chi2,
       CAST((COUNT(DISTINCT t) - 1) * (COUNT(DISTINCT d) - 1)
            AS BIGINT) AS dof
FROM cells
""",
    doc="Chi-square test of independence between event_type and "
    "day-of-week. The only full-table pass is the (type, dow) "
    "contingency groupBy (map-side partials); margins, the expected "
    "grid (types x days, bounded by category counts, NOT row count) "
    "and the statistic all derive from that tiny aggregate. The "
    "margin cross join is a broadcast of category-bounded inputs — "
    "at 100 TB the grid is still 5x7. Spark dayofweek() is "
    "1=Sunday..7; DuckDB's is 0=Sunday..6 — the Spark side shifts by "
    "-1 so both grids use the same day ids.",
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.select(
            F.col("event_type").alias("t"),
            (F.dayofweek("ts") - F.lit(1)).alias("d"),
        )
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rm = obs.groupBy("t").agg(F.sum("n").alias("rn"))
    cm = obs.groupBy("d").agg(F.sum("n").alias("cn"))
    tot = obs.agg(F.sum("n").cast("double").alias("nn"))
    cells = (
        rm.crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["t", "d"], "left")
        .withColumn("o", F.coalesce(F.col("n"), F.lit(0)).cast("double"))
        .withColumn("e", F.col("rn") * F.col("cn") / F.col("nn"))
    )
    return cells.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")), 4
        ).alias("chi2"),
        (
            (F.countDistinct("t") - F.lit(1))
            * (F.countDistinct("d") - F.lit(1))
        )
        .cast("bigint")
        .alias("dof"),
    )


@register(
    "stat_entropy_by_source",
    oracle="""
WITH counts AS (
  SELECT source, lang, COUNT(*) AS n
  FROM documents GROUP BY source, lang
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       ROUND(ln(SUM(n)) - SUM(n * ln(n)) / SUM(n), 6) + 0.0 AS lang_entropy
FROM counts
GROUP BY source
ORDER BY source
""",
    doc="Shannon entropy (nats) of each source's language "
    "distribution — the mixing-diagnostics statistic next to "
    "mix_kl_divergence. Uses the algebraic identity "
    "H = ln(N) - (sum n_i ln n_i)/N so the whole computation is two "
    "stacked partial-aggregable groupBys ((source,lang) counts, then "
    "per-source fold) — no p_i column, no second pass to fetch "
    "totals, no window. Shuffle volume is bounded by "
    "|sources| x |langs|.",
)
def stat_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.sum("n").cast("bigint").alias("n_docs"),
            (
                F.round(
                    F.log(F.sum("n"))
                    - F.sum(F.col("n") * F.log("n")) / F.sum("n"),
                    6,
                )
                # -0.0 rule (queries/__init__.py): a single-language
                # source is analytically 0 but fp-negative for ~6% of
                # counts; DuckDB ROUND keeps the sign, Spark drops it.
                + F.lit(0.0)
            ).alias("lang_entropy"),
        )
        .orderBy("source")
    )


@register(
    "stat_rolling_zscore",
    oracle="""
WITH scored AS (
  SELECT user_id, event_id,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         value,
         AVG(value) OVER w AS mu,
         STDDEV_SAMP(value) OVER w AS sd,
         COUNT(*) OVER w AS n_prior
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, ts_s, ROUND(value, 2) AS value,
       ROUND((value - mu) / sd, 4) AS zscore
FROM scored
WHERE n_prior >= 10 AND sd > 1e-9 AND abs((value - mu) / sd) > 2.5
ORDER BY user_id, event_id
""",
    doc="Rolling z-score anomaly detection: each event scored against "
    "the mean/stddev of its user's previous <=19 events (current row "
    "EXCLUDED from the frame — no self-leakage), flagged when "
    "|z| > 2.5 with >= 10 priors. The window partitions by user_id, "
    "so state is per-key and the operator scales linearly with "
    "users — the streaming twin (streaming/pipeline.py:"
    "streaming_rolling_zscore, parity-tested across micro-batch "
    "boundaries) keeps a bounded 19-deep value list per user. Frame "
    "semantics (ROWS BETWEEN 19 "
    "PRECEDING AND 1 PRECEDING) and the (ts, event_id) tiebreak are "
    "identical on both engines; stddev is the sample estimator in "
    "both.",
)
def stat_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, -1)
    )
    scored = ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", _FMT).alias("ts_s"),
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        scored.filter(
            (F.col("n_prior") >= 10)
            & (F.col("sd") > 1e-9)
            & (F.abs(z) > 2.5)
        )
        .select(
            "user_id",
            "event_id",
            "ts_s",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "sketch_countmin_heavy",
    oracle="""
WITH ev AS (SELECT event_type AS t FROM events),
h AS (
  SELECT t, i,
         ('0x' || substr(md5(i::VARCHAR || ':' || t), 1, 8))::BIGINT
           % 64 AS b
  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
),
cells AS (SELECT i, b, COUNT(*) AS c FROM h GROUP BY i, b),
coords AS (SELECT DISTINCT t, i, b FROM h),
est AS (
  SELECT t, MIN(c) AS cms_estimate
  FROM coords JOIN cells USING (i, b) GROUP BY t
),
exact AS (SELECT t, COUNT(*) AS exact_n FROM ev GROUP BY t)
SELECT exact.t AS event_type, exact_n, cms_estimate
FROM exact JOIN est ON est.t = exact.t
ORDER BY event_type
""",
    doc="Count-min sketch (depth 4 x width 64, md5-derived row "
    "hashes) vs exact counts, side by side. The sketch is built as a "
    "groupBy over (row, bucket) — partial counts merge by ADDITION, "
    "which is precisely the CMS merge property, so the same plan "
    "builds one mergeable sketch per partition/day/source and unions "
    "them by re-aggregating, never rescanning. Estimates are "
    "min-over-rows of the probed cells; deterministic hashes make "
    "the sketch bit-identical across engines, so the oracle is exact "
    "value parity (estimate >= exact always holds by construction). "
    "At 100 TB the shuffle carries <=256 cells per partition.",
)
def sketch_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t")
    )
    depth, width = 4, 64

    def bucket(i: int) -> F.Column:
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("t"))), 1, 8
                ),
                16,
                10,
            ).cast("long"),
            F.lit(width),
        )

    hashed = ev.select(
        "t",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), bucket(i).alias("b")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("ib"),
    ).select("t", F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
    cells = hashed.groupBy("i", "b").agg(F.count(F.lit(1)).alias("c"))
    # Probe coordinates derive from the DISTINCT key set (bounded by
    # vocabulary), never a distinct over the exploded event stream —
    # at scale that distinct would shuffle 4x the fact table.
    types = ev.distinct()
    coords = types.select(
        "t",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), bucket(i).alias("b")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("ib"),
    ).select("t", F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
    est = (
        coords.join(cells, ["i", "b"])
        .groupBy("t")
        .agg(F.min("c").alias("cms_estimate"))
    )
    exact = ev.groupBy("t").agg(F.count(F.lit(1)).alias("exact_n"))
    return (
        exact.join(F.broadcast(est), "t")
        .select(
            F.col("t").alias("event_type"), "exact_n", "cms_estimate"
        )
    )


@register(
    "agg_activity_bitmap",
    oracle="""
SELECT user_id,
       CAST(bit_or(1::BIGINT << (day(ts) - 1)) AS BIGINT) AS day_mask,
       CAST(bit_count(bit_or(1::BIGINT << (day(ts) - 1))) AS BIGINT)
         AS n_active_days,
       CAST(MIN(day(ts)) AS BIGINT) AS first_day,
       CAST(MAX(day(ts)) AS BIGINT) AS last_day
FROM events
GROUP BY user_id ORDER BY user_id
""",
    doc="Bitmap activity aggregation — the roaring-bitmap retention "
    "trick at its smallest: each user's active days-of-January fold "
    "into ONE 31-bit mask via bit_or(1 << (day-1)), active-day "
    "count = popcount(mask). bit_or is an algebraic aggregate "
    "(partials OR together), so a month of activity per user "
    "shuffles as a single long regardless of event volume — the "
    "same plan computes N-day retention, WAU/MAU, and cohort "
    "overlap via mask intersection (bit_and) WITHOUT a distinct "
    "count. Integer-exact cross-engine parity.",
)
def agg_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), dayofmonth(ts) - 1)")
    mask = F.bit_or(bit)
    return (
        ev.groupBy("user_id")
        .agg(
            mask.cast("bigint").alias("day_mask"),
            F.bit_count(mask).cast("bigint").alias("n_active_days"),
            F.min(F.dayofmonth("ts")).cast("bigint").alias("first_day"),
            F.max(F.dayofmonth("ts")).cast("bigint").alias("last_day"),
        )
    )


@register(
    "stat_ols_catalyst",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0
         AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="Per-group ordinary least squares entirely JVM-side: "
    "regr_slope / regr_intercept / regr_r2 are built-in algebraic "
    "aggregates (sums, cross-products — the closed-form normal "
    "equations), so the per-flag price~quantity fit runs as ONE "
    "partial-combined groupBy with zero Python. This is the "
    "Catalyst twin of pandas_grouped_regression: same model, no "
    "Arrow transfer, no UDF — the path to prefer at 100 TB whenever "
    "the statistic has an algebraic form. ROUND absorbs "
    "accumulation-order drift.",
)
def stat_ols_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.regr_slope(y, x), 4) + F.lit(0.0)).alias("slope"),
            (F.round(F.regr_intercept(y, x), 4) + F.lit(0.0)).alias(
                "intercept"
            ),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "stat_ks_two_sample",
    oracle="""
WITH c AS (
  SELECT n_chars,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS cb
  FROM documents WHERE lang IN ('en', 'de')
  GROUP BY n_chars
),
cum AS (
  SELECT SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b,
         SUM(ca) OVER () AS n_a, SUM(cb) OVER () AS n_b
  FROM c WINDOW w AS (ORDER BY n_chars
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(MAX(n_a) AS BIGINT) AS n_en,
       CAST(MAX(n_b) AS BIGINT) AS n_de,
       ROUND(MAX(abs(CAST(cum_a AS DOUBLE) / n_a
                     - CAST(cum_b AS DOUBLE) / n_b)), 6) AS ks_stat
FROM cum
""",
    doc="Two-sample Kolmogorov-Smirnov statistic between the English "
    "and German document-length distributions: max ECDF gap over the "
    "distinct n_chars levels. The full-table pass is ONE groupBy on "
    "n_chars carrying both samples' counts as conditional sums; the "
    "cumulative window then runs over the aggregated level table, "
    "whose size is bounded by the LENGTH DOMAIN (values 48-553 here "
    "— a document-length cap, independent of corpus size), the "
    "aggregate-bounded global-window shape the plan gate permits. "
    "ECDF ratios divide identical integers — exact parity; the KS "
    "decision threshold c(alpha)*sqrt((n+m)/nm) is left to the "
    "caller.",
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de")
    )
    c = docs.groupBy("n_chars").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cum = c.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(tot).alias("n_a"),
        F.sum("cb").over(tot).alias("n_b"),
    )
    gap = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a")
        - F.col("cum_b").cast("double") / F.col("n_b")
    )
    return cum.agg(
        F.max("n_a").cast("bigint").alias("n_en"),
        F.max("n_b").cast("bigint").alias("n_de"),
        F.round(F.max(gap), 6).alias("ks_stat"),
    )


@register(
    "stat_autocorrelation",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
  FROM daily
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(corr(n, prev_n), 6) + 0.0 AS lag1_autocorr
FROM lagged WHERE prev_n IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    doc="Lag-1 autocorrelation of each event type's daily volume — "
    "the seasonality/trend diagnostic for capacity planning and "
    "anomaly baselines. The only full-table pass is the (type, day) "
    "count; the lag window runs PARTITIONED per type over the "
    "~30-row day series (aggregate-bounded), and corr() is the "
    "algebraic aggregate again. Integer counts in, ROUND(6)+0.0 "
    "out (the -0.0 rule).",
)
def stat_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "n", F.lag("n").over(w).alias("prev_n")
    ).filter(F.col("prev_n").isNotNull())
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            (F.round(F.corr("n", "prev_n"), 6) + F.lit(0.0)).alias(
                "lag1_autocorr"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "stat_zipf_fit",
    oracle=r"""
WITH tok AS (
  -- canonical normalize_text twin (r11 review: the old '' replacement
  -- JOINED tokens across punctuation where Spark's D.tokens splits)
  SELECT unnest(string_split(trim(regexp_replace(regexp_replace(
           lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
           ' ')) AS term
  FROM documents
),
tf AS (SELECT term, COUNT(*) AS f FROM tok WHERE term != '' GROUP BY term),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, term) AS rnk
  FROM tf
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(regr_slope(ln(f), ln(rnk)), 6) + 0.0 AS zipf_slope,
       ROUND(regr_r2(ln(f), ln(rnk)), 6) AS fit_r2
FROM ranked
""",
    doc="Zipf's-law fit over the corpus frequency spectrum: OLS "
    "slope of ln(frequency) against ln(rank) — a natural corpus "
    "should fit slope ~ -1; strong deviation flags synthetic or "
    "template-heavy text (a data-quality screen for generated "
    "content). Term counting is the usual vocab-bounded groupBy; "
    "the frequency rank comes from operators/prefix.py dist_rank "
    "(two-phase bucketed prefix counts — NO unpartitioned window "
    "over the vocabulary), bucketed on "
    "(-f, first char of term): monotone in the (f DESC, term ASC) "
    "rank order, and the first-char split keeps the heavy f=1/f=2 "
    "tie plateaus from collapsing into one task. The fit itself is "
    "the algebraic regr_slope/regr_r2 aggregate. Deterministic term "
    "tiebreak; ROUND(6) absorbs log-sum accumulation drift. Oracle "
    "keeps the naive row_number formulation as the correctness "
    "reference — identical ranks.",
)
def stat_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import dedup as D
    from hdfs_parquet_importer_spark.operators.prefix import dist_rank

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(D.tokens(F.col("text"))).alias("term"))
    tf = (
        tok.filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # Rank by f DESC, term ASC == ascending (-f, term). Bucket id
    # -f*128 + least(ascii(term[0]), 127) is monotone in that
    # composite order, so per-bucket windows compose into the exact
    # global row_number; ties on f split across ~36 first-char cells.
    # The clamp keeps monotonicity even if the tokenizer
    # ever admits non-ASCII first chars (ascii() then returns the
    # full codepoint >= 128, which would interleave plateaus);
    # least() maps them all onto the last cell, still monotone
    # because string order is by leading codepoint.
    neg = tf.withColumn("negf", -F.col("f"))
    ranked = dist_rank(
        neg,
        ["negf", "term"],
        F.col("negf") * 128
        + F.least(F.ascii(F.substring("term", 1, 1)), F.lit(127)),
        out_col="rnk",
    ).select("f", "rnk")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        (
            F.round(F.regr_slope(F.log("f"), F.log("rnk")), 6)
            + F.lit(0.0)  # -0.0 rule
        ).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("f"), F.log("rnk")), 6).alias("fit_r2"),
    )


@register(
    "stat_welch_ttest",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         dayofweek(ts) IN (0, 6) AS is_weekend,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT is_weekend,
         CAST(COUNT(*) AS DOUBLE) AS k,
         AVG(CAST(n AS DOUBLE)) AS mu,
         var_samp(CAST(n AS DOUBLE)) AS v
  FROM daily GROUP BY is_weekend
)
SELECT ROUND(a.mu, 6) AS mean_weekday,
       ROUND(b.mu, 6) AS mean_weekend,
       ROUND((a.mu - b.mu)
             / sqrt(a.v / a.k + b.v / b.k), 6) + 0.0 AS t_stat,
       ROUND(pow(a.v / a.k + b.v / b.k, 2)
             / (pow(a.v / a.k, 2) / (a.k - 1)
                + pow(b.v / b.k, 2) / (b.k - 1)), 4) AS welch_dof
FROM g a, g b
WHERE a.is_weekend = false AND b.is_weekend = true
""",
    doc="Welch's unequal-variance t-test: does weekday daily event "
    "volume differ from weekend volume? Group means/variances fold "
    "through one (day, class) aggregate then a 2-row class "
    "aggregate — var_samp is algebraic, so the whole test is two "
    "stacked partial-combined groupBys; the t statistic and "
    "Welch-Satterthwaite dof are scalar arithmetic on the 2-row "
    "result. Spark dayofweek() is 1..7 Sunday=1, DuckDB 0..6 "
    "Sunday=0 — weekend is {1,7} vs {0,6} respectively. The "
    "p-value lookup (t CDF) is left to the caller, as in every "
    "SQL-side stats stack.",
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
    ).agg(F.count(F.lit(1)).alias("n"))
    g = daily.groupBy("is_weekend").agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.avg(F.col("n").cast("double")).alias("mu"),
        F.var_samp(F.col("n").cast("double")).alias("v"),
    )
    a = g.filter(~F.col("is_weekend")).select(
        F.col("k").alias("ka"), F.col("mu").alias("mua"), F.col("v").alias("va")
    )
    b = g.filter(F.col("is_weekend")).select(
        F.col("k").alias("kb"), F.col("mu").alias("mub"), F.col("v").alias("vb")
    )
    se2 = F.col("va") / F.col("ka") + F.col("vb") / F.col("kb")
    return a.crossJoin(F.broadcast(b)).select(
        F.round("mua", 6).alias("mean_weekday"),
        F.round("mub", 6).alias("mean_weekend"),
        (
            F.round((F.col("mua") - F.col("mub")) / F.sqrt(se2), 6)
            + F.lit(0.0)  # -0.0 rule
        ).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("va") / F.col("ka"), 2) / (F.col("ka") - 1)
                + F.pow(F.col("vb") / F.col("kb"), 2) / (F.col("kb") - 1)
            ),
            4,
        ).alias("welch_dof"),
    )


# Poisson(1) CDF constants, emitted as repr'd doubles so both engines
# compare the identical IEEE-754 values (F(k) = e^-1 * sum 1/i!).
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726562,
    0.9994058151824182,
    0.999916758850712,
)
_POIS_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    + " ELSE 7 END"
)


@register(
    "stat_bootstrap_ci",
    oracle=f"""
WITH reps AS (SELECT CAST(b AS INT) AS b FROM range(1, 65) t(b)),
u AS (
  SELECT r.b,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         ((((o.o_orderkey * 48271 + r.b * 40503 + 12345) % 2147483647)
            * 48271 % 2147483647) * 48271 % 2147483647)
           / 2147483647.0 AS u
  FROM orders o CROSS JOIN reps r),
k AS (SELECT b, cents, {_POIS_CASE_SQL} AS c FROM u),
m AS (SELECT b, CAST(SUM(c * cents) AS BIGINT) AS swt,
             CAST(SUM(c) AS BIGINT) AS sw
      FROM k GROUP BY b),
means AS (SELECT swt / CAST(nullif(sw, 0) AS DOUBLE) AS mb FROM m)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_replicates,
       ROUND(AVG(mb), 4) AS boot_mean_cents,
       ROUND(quantile_cont(mb, 0.025), 4) AS ci_lo_cents,
       ROUND(quantile_cont(mb, 0.975), 4) AS ci_hi_cents
FROM means
""",
    doc="Poisson bootstrap 95% confidence interval for the mean order "
    "value — THE scalable bootstrap: classic resampling-with-"
    "replacement needs the global row count per draw, but for large "
    "n each row's multiplicity in a resample is Poisson(1) "
    "independently, so every row computes its own 64 replicate "
    "weights from a deterministic counter-based coin with NO "
    "coordination — two MINSTD LCG steps seeded by (row key, "
    "replicate id), pure exact integer arithmetic so both engines "
    "produce bit-identical uniforms (an md5 coin was value-correct "
    "but 64 string hashes per row made the coin 80% of runtime; "
    "Spark-only deployments would use xxhash64, unavailable here "
    "only because the oracle must replay the draw). u feeds an "
    "inverse-CDF chain of repr'd constants, identical branches "
    "both engines. Plan: 64x row explode -> groupBy(replicate) with "
    "map-side partial aggregation (each partition reduces to <=64 "
    "rows before the shuffle; at extreme width use 2x64 aggregate "
    "columns instead of the explode). Replicate means divide exact "
    "integer cent sums; the CI is an exact percentile over the "
    "64-row replicate-mean table (bounded), R-7 interpolation on "
    "both engines. ROUND(4) absorbs the 64-double AVG accumulation "
    "order.",
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # The 64x replicate expansion is CPU-bound; a narrow (single-file)
    # scan would pin all 64 x n coin draws to one core.
    raw = load_table(spark, sf_dir, "orders")
    o = ensure_parallelism(raw).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    rep = o.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(64))).alias("b"),
    )
    # Counter-based coin: seed by (key, replicate), two MINSTD steps.
    # Exact bigint arithmetic, no overflow (seed < 2^31, x * 48271 <
    # 2^47), identical in DuckDB — and ~5x cheaper than an md5 draw.
    u = F.expr(
        "((((o_orderkey * 48271 + b * 40503 + 12345) % 2147483647)"
        " * 48271 % 2147483647) * 48271 % 2147483647)"
        " / 2147483647.0"
    )
    c = None
    for k, cdf in enumerate(_POIS_CDF):
        branch = F.when(u < F.lit(cdf), F.lit(k))
        c = branch if c is None else c.when(u < F.lit(cdf), F.lit(k))
    c = c.otherwise(F.lit(7))
    m = (
        rep.withColumn("c", c)
        .groupBy("b")
        .agg(
            F.sum(F.col("c") * F.col("cents")).cast("long").alias("swt"),
            F.sum("c").cast("long").alias("sw"),
        )
    )
    means = m.select(
        F.expr("swt / CAST(nullif(sw, 0) AS DOUBLE)").alias("mb")
    )
    # Count the PRE-repartition scan: counting o would replay the
    # ensure_parallelism round-robin exchange just for a row count;
    # the raw scan count is metadata-pushable.
    n_rows = raw.agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        means.agg(
            F.count(F.lit(1)).alias("n_replicates"),
            F.round(F.avg("mb"), 4).alias("boot_mean_cents"),
            F.round(F.percentile("mb", 0.025), 4).alias("ci_lo_cents"),
            F.round(F.percentile("mb", 0.975), 4).alias("ci_hi_cents"),
        )
        .crossJoin(F.broadcast(n_rows))
        .select(
            "n_rows",
            "n_replicates",
            "boot_mean_cents",
            "ci_lo_cents",
            "ci_hi_cents",
        )
    )


@register(
    "stat_gini_coefficient",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS x
  FROM lineitem GROUP BY l_suppkey
),
rk AS (
  SELECT x, row_number() OVER (ORDER BY x, l_suppkey) AS r FROM rev
)
SELECT COUNT(*) AS n_suppliers,
       ROUND(2.0 * SUM(r * x) / (COUNT(*) * SUM(x))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM rk
""",
    doc="Gini coefficient of supplier revenue concentration via the "
    "rank formulation G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over "
    "ascending-revenue ranks. The revenue reduction is one partial-"
    "aggregable groupBy; the rank — the step that is a global "
    "row_number in textbook SQL — rides operators/prefix.py "
    "dist_rank (two-phase bucketed prefix counts, revenue-range "
    "bucket key), so no supplier-proportional input ever crosses one "
    "task. Revenues are ROUND(2)-ed "
    "BEFORE ranking on both engines so the rank order itself is "
    "engine-independent; the final statistic is one algebraic "
    "aggregate. Oracle keeps the naive window formulation.",
)
def stat_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import dist_rank

    li = load_table(spark, sf_dir, "lineitem")
    # x is a ROUND(2) over a shuffled double sum and dist_rank reads
    # it through independent branches (local windows, bucket totals)
    # plus the final aggregate — materialize once so a re-execution
    # can't round a boundary-straddling sum differently per branch
    # (same checkpoint discipline as report_pareto_concentration's
    # identical rev aggregate).
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("x")
    ).localCheckpoint(eager=True)  # EAGER: double-rounding determinism
    # Bucket = floor(x / 50k): monotone in the primary order column x;
    # supplier revenue concentrates in a band that widens only with
    # per-supplier volume (not supplier count), so bucket occupancy
    # stays balanced as the table scales out.
    ranked = dist_rank(
        rev,
        ["x", "l_suppkey"],
        F.floor(F.col("x") / F.lit(50_000.0)),
        out_col="r",
    )
    n = F.count(F.lit(1))
    return ranked.agg(
        n.alias("n_suppliers"),
        F.round(
            2.0 * F.sum(F.col("r") * F.col("x")) / (n * F.sum("x"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@register(
    "stat_cusum_drift",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, AVG(x) AS mu, stddev_pop(x) AS sig
  FROM daily GROUP BY event_type
),
c AS (
  SELECT daily.event_type, d, sig,
         SUM(x - mu - 0.5 * sig)
           OVER (PARTITION BY daily.event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
  FROM daily JOIN st USING (event_type)
),
s AS (
  SELECT event_type, sig,
         ct - LEAST(0, MIN(ct) OVER (PARTITION BY event_type ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
  FROM c
)
SELECT event_type,
       COUNT(*) AS n_days,
       ROUND(MAX(cusum), 4) AS max_cusum,
       CAST(SUM(CASE WHEN cusum > 3 * sig THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms
FROM s GROUP BY event_type ORDER BY event_type
""",
    doc="One-sided CUSUM drift detection over per-type daily volumes "
    "(slack k = 0.5 sigma, alarm h = 3 sigma). The textbook CUSUM is "
    "a sequential recursion S_t = max(0, S_{t-1} + x_t - mu - k) — "
    "apparently unparallelizable — but the reflection identity "
    "linearizes it: S_t = C_t - min(0, min_{j<=t} C_j) where C is "
    "the plain cumulative sum of deviations (the min INCLUDES the "
    "current prefix — with only strictly-earlier prefixes S_1 would "
    "be C_1 instead of max(0, C_1); caught by the "
    "test_cusum_reflection_identity hypothesis property). Both passes are windows "
    "PARTITIONED by event_type over the day-domain-bounded daily "
    "aggregate (<=31 rows per type), so the 'recursive' control "
    "chart costs exactly two partitioned window passes at any scale "
    "and no applyInPandas fold. mu/sigma are algebraic aggregates; "
    "identical left-to-right accumulation order both engines, "
    "ROUND(4) absorbs fp drift.",
)
def stat_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    st = daily.groupBy("event_type").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sig")
    )
    j = daily.join(st, "event_type")
    # ONE frame serves both passes (running sum, then running min of
    # that sum INCLUDING the current row — the reflection identity's
    # frame; see doc).
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = j.withColumn(
        "ct", F.sum(F.col("x") - F.col("mu") - 0.5 * F.col("sig")).over(w)
    )
    s = c.withColumn(
        "cusum",
        F.col("ct") - F.least(F.lit(0.0), F.min("ct").over(w)),
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.max("cusum"), 4).alias("max_cusum"),
            F.sum(
                F.when(F.col("cusum") > 3 * F.col("sig"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_alarms"),
        )
        .orderBy("event_type")
    )


@register(
    "stat_mann_whitney",
    oracle="""
WITH v AS (
  SELECT n_chars AS x,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
           AS ca,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS DOUBLE)
           AS cb
  FROM documents GROUP BY n_chars
),
r AS (
  SELECT x, ca, cb, ca + cb AS c,
         SUM(ca + cb) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (ca + cb) AS before
  FROM v
),
s AS (
  SELECT SUM(ca) AS na, SUM(cb) AS nb, SUM(ca + cb) AS n,
         SUM(ca * (before + (c + 1) / 2)) AS ra,
         SUM(c * c * c - c) AS ties
  FROM r
)
SELECT CAST(na AS BIGINT) AS n_en,
       CAST(nb AS BIGINT) AS n_other,
       ROUND(ra - na * (na + 1) / 2, 2) AS u_stat,
       ROUND((ra - na * (na + 1) / 2 - na * nb / 2)
             / sqrt(na * nb / 12.0
                    * ((n + 1) - ties / (n * (n - 1)))), 4) + 0.0 AS z_score
FROM s
""",
    doc="Mann-Whitney U rank-sum test (tie-corrected normal "
    "approximation): do English documents differ in length "
    "distribution from the rest of the corpus? The textbook "
    "formulation ranks every ROW through one sort; here ranks only "
    "ever exist per DISTINCT value — group counts (ca, cb) per "
    "n_chars, a cumulative window over the distinct-value table "
    "gives each value its midrank before + (t+1)/2, and U folds as "
    "sum(ca * midrank) - na(na+1)/2 with the standard tie "
    "correction sum(t^3 - t). The window input is bounded by the "
    "document-length DOMAIN, not document count — the "
    "stat_ks_two_sample argument, and the same allowlist entry "
    "class. Midranks are half-integers (exact in doubles), so U is "
    "EXACT cross-engine; only z's sqrt gets ROUND(4).",
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v = docs.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("double")
        .alias("ca"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
        .cast("double")
        .alias("cb"),
    )
    w = (
        Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = v.withColumn("c", F.col("ca") + F.col("cb")).withColumn(
        "before", F.sum(F.col("ca") + F.col("cb")).over(w) - F.col("c")
    )
    s = r.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.sum(F.col("ca") + F.col("cb")).alias("n"),
        F.sum(
            F.col("ca") * (F.col("before") + (F.col("c") + 1) / 2)
        ).alias("ra"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("ties"),
    )
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2
    sigma = F.sqrt(
        F.col("na")
        * F.col("nb")
        / 12.0
        * (
            (F.col("n") + 1)
            - F.col("ties") / (F.col("n") * (F.col("n") - 1))
        )
    )
    return s.select(
        F.col("na").cast("long").alias("n_en"),
        F.col("nb").cast("long").alias("n_other"),
        F.round(u, 2).alias("u_stat"),
        (
            F.round((u - F.col("na") * F.col("nb") / 2) / sigma, 4)
            + F.lit(0.0)  # -0.0 rule
        ).alias("z_score"),
    )


@register(
    "stat_theil_sen_slope",
    oracle="""
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
x AS (SELECT month, cents, row_number() OVER (ORDER BY month) AS i FROM m),
p AS (
  SELECT (b.cents - a.cents) * 1.0 / (b.i - a.i) AS slope
  FROM x a JOIN x b ON a.i < b.i
),
ms AS (SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY slope)
         AS m_slope FROM p),
ic AS (SELECT percentile_cont(0.5)
         WITHIN GROUP (ORDER BY x.cents - ms.m_slope * x.i) AS b0
       FROM x, ms)
SELECT (SELECT COUNT(*) FROM x) AS n_months,
       ROUND(ms.m_slope, 4) + 0.0 AS slope_cents,
       ROUND(ic.b0, 4) + 0.0 AS intercept_cents
FROM ms, ic
""",
    doc="Theil-Sen robust trend estimator over monthly revenue: the "
    "median of all pairwise slopes (breakdown point 29%, immune to "
    "the outlier months that wreck OLS — the robust complement to "
    "stat_ols_trend), intercept = median(y - m*x). Scale shape: the "
    "fact table reduces to exact integer cents per calendar month in "
    "ONE partial agg; the O(n^2) pairwise-slope join and the global "
    "row_number both run on the <=84-row month series — bounded by "
    "the DATE DOMAIN, never row count (the allowlisted-cross-join + "
    "global-window-agg pattern report_mom_yoy established). Integer "
    "cents make every slope a ratio of exact integers (<2^53), so "
    "both engines divide bit-identical doubles; percentile_cont and "
    "Spark's percentile() interpolate identically; ROUND(4).",
)
def stat_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    x = m.withColumn(
        "i", F.row_number().over(Window.orderBy("month"))
    ).localCheckpoint(eager=False)
    a = x.select(F.col("cents").alias("ca"), F.col("i").alias("ia"))
    b = x.select(F.col("cents").alias("cb"), F.col("i").alias("ib"))
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        ((F.col("cb") - F.col("ca")) * 1.0 / (F.col("ib") - F.col("ia"))).alias(
            "slope"
        )
    )
    ms = pairs.agg(F.percentile("slope", F.lit(0.5)).alias("m_slope"))
    ic = (
        x.crossJoin(F.broadcast(ms))
        .agg(
            F.percentile(
                F.col("cents") - F.col("m_slope") * F.col("i"), F.lit(0.5)
            ).alias("b0")
        )
    )
    n = x.agg(F.count(F.lit(1)).alias("n_months"))
    return (
        n.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(ic))
        .select(
            "n_months",
            (F.round("m_slope", 4) + F.lit(0.0)).alias("slope_cents"),
            (F.round("b0", 4) + F.lit(0.0)).alias("intercept_cents"),  # -0.0 rule
        )
    )
