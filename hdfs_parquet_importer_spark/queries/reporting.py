"""Business-reporting, data-quality, and time-series utilities
(driver north_star extensions; the reference — a CSV→Parquet ETL app,
SURVEY §2.1 — has no reporting surface).

Shared scale stance: every query reduces the fact table in ONE
partial-aggregable pass (or a per-key partitioned window), and any
global window runs strictly over aggregate-bounded input (months,
rules, distinct names) — the shapes `tests/test_plans.py` gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table

_FMT = "yyyy-MM-dd HH:mm:ss"


@register(
    "dq_expectations",
    oracle="""
WITH s AS (
  SELECT
    COUNT(*) AS n_checked,
    CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
      AS v_price,
    CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END)
      AS BIGINT) AS v_status,
    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
              AND o_orderdate < TIMESTAMP '2003-01-01'
             THEN 0 ELSE 1 END) AS BIGINT) AS v_date,
    CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
      AS v_null
  FROM orders
),
fk AS (
  SELECT COUNT(*) AS v_fk FROM orders o
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
)
SELECT rule, n_violations, n_checked FROM (
  SELECT 'custkey_fk_exists' AS rule, v_fk AS n_violations, n_checked
    FROM s, fk
  UNION ALL SELECT 'custkey_not_null', v_null, n_checked FROM s
  UNION ALL SELECT 'orderdate_in_range', v_date, n_checked FROM s
  UNION ALL SELECT 'status_in_domain', v_status, n_checked FROM s
  UNION ALL SELECT 'totalprice_positive', v_price, n_checked FROM s
) ORDER BY rule
""",
    doc="Declarative data-quality expectation suite (the "
    "dbt-test/Great-Expectations shape): five rules over orders — "
    "four scalar predicates evaluated as conditional sums in ONE "
    "scan pass (a 10-rule suite still costs one pass; rules are "
    "extra accumulators, not extra scans), plus one referential-"
    "integrity rule as a broadcast-able left-anti join against the "
    "customer dimension. Output is the audit artifact: rule -> "
    "violation count / rows checked. NULL predicate results count "
    "as violations (SQL ternary logic, identical in both engines).",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def viol(cond: F.Column) -> F.Column:
        return F.sum(F.when(cond, F.lit(0)).otherwise(F.lit(1)))

    scalar = orders.agg(
        F.count(F.lit(1)).alias("n_checked"),
        viol(F.col("o_totalprice") > 0).alias("v_price"),
        viol(F.col("o_orderstatus").isin("F", "O", "P")).alias("v_status"),
        viol(
            (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2003-01-01").cast("timestamp"))
        ).alias("v_date"),
        viol(F.col("o_custkey").isNotNull()).alias("v_null"),
    )
    # No broadcast hint: customer grows with sf (tables.py policy —
    # AQE picks broadcast while the dim fits and falls back to a
    # shuffle join when it doesn't; a hard-coded hint OOMs at 100x).
    fk = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v_fk"))
    )
    melted = scalar.crossJoin(F.broadcast(fk)).select(
        F.expr(
            "stack(5,"
            " 'custkey_fk_exists', v_fk,"
            " 'custkey_not_null', v_null,"
            " 'orderdate_in_range', v_date,"
            " 'status_in_domain', v_status,"
            " 'totalprice_positive', v_price)"
        ).alias("rule", "n_violations"),
        "n_checked",
    )
    return melted


def _fuzzy_candidate_pairs(names: DataFrame) -> DataFrame:
    """Length-banded Levenshtein<=1 pairs over a distinct-name frame:
    each left name probes lengths {L-1, L, L+1} via a 3-way explode so
    the join is an EQUI-join on candidate length (lossless for
    dist<=1 — one edit changes length by at most 1). ONE shared
    implementation for fuzzy_name_pairs and fuzzy_name_clusters (two
    copies would let a blocking-scheme change silently give the two
    queries different candidate sets). Returns (name_a, name_b, dist),
    name_a < name_b; no dedup needed — a pair matches exactly one probe
    band."""
    left = names.select(
        F.col("name").alias("name_a"),
        F.explode(
            F.array(
                F.length("name") - 1,
                F.length("name"),
                F.length("name") + 1,
            )
        ).alias("probe_len"),
    )
    right = names.select(
        F.col("name").alias("name_b"), F.length("name").alias("len_b")
    )
    cand = left.join(
        right,
        (left.probe_len == right.len_b) & (left.name_a < right.name_b),
    )
    dist = F.levenshtein("name_a", "name_b")
    return cand.filter(dist <= 1).select(
        "name_a", "name_b", dist.cast("bigint").alias("dist")
    )


@register(
    "fuzzy_name_pairs",
    oracle="""
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 1
ORDER BY name_a, name_b
""",
    doc="Edit-distance similarity join over the distinct part-name "
    "vocabulary: all pairs within Levenshtein distance 1. The Spark "
    "plan blocks candidates by LENGTH BAND — each left name probes "
    "lengths {L-1, L, L+1} via a 3-way explode, so the join is an "
    "EQUI-join on candidate length and only same-band pairs are "
    "verified with levenshtein(). The banding is LOSSLESS for "
    "dist<=1 (one edit changes length by at most 1), so the oracle "
    "can be the tiny all-pairs form over distinct names and still "
    "match exactly. At 100 TB the same shape holds: fuzzy joins run "
    "over the deduplicated vocabulary (bounded), never raw rows, "
    "and banding keys extend to (length, first-char) multiprobe for "
    "tighter blocks.",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    return _fuzzy_candidate_pairs(names).orderBy("name_a", "name_b")


@register(
    "report_mom_yoy",
    oracle="""
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
)
SELECT m.month, m.rev_cents,
       ROUND((m.rev_cents - p1.rev_cents)
             / CAST(p1.rev_cents AS DOUBLE) * 100, 4) + 0.0 AS mom_pct,
       ROUND((m.rev_cents - p12.rev_cents)
             / CAST(p12.rev_cents AS DOUBLE) * 100, 4) + 0.0 AS yoy_pct
FROM m
LEFT JOIN m p1 ON p1.month = strftime(
  CAST(m.month || '-01' AS DATE) - INTERVAL 1 MONTH, '%Y-%m')
LEFT JOIN m p12 ON p12.month = strftime(
  CAST(m.month || '-01' AS DATE) - INTERVAL 12 MONTH, '%Y-%m')
ORDER BY m.month
""",
    doc="Period-over-period revenue report: monthly revenue (exact "
    "integer cents) with month-over-month and year-over-year "
    "percentage deltas via CALENDAR-key self-joins of the month "
    "aggregate (row-offset lag(1)/lag(12) silently "
    "misaligns every delta after a gap month — a filtered subset or "
    "sparse dataset would label 1996-02 as 'year over' 1997-03). "
    "The ONLY full-table work is the monthly groupBy (map-side "
    "partials); the self-joins run over the ~80-row month aggregate, "
    "broadcast. Months with no prior-month/prior-year row carry NULL "
    "deltas on both engines. Identical bigint cents divide to "
    "bit-identical doubles, so ROUND(4) is cosmetic.",
)
def report_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    # Three consumers of the ~80-row aggregate (cur + two self-join
    # sides): materialize once.
    m = m.localCheckpoint(eager=False)
    mstart = F.to_date(F.concat(F.col("month"), F.lit("-01")))
    p1 = m.select(
        F.col("month").alias("m1"), F.col("rev_cents").alias("rev1")
    )
    p12 = m.select(
        F.col("month").alias("m12"), F.col("rev_cents").alias("rev12")
    )
    joined = m.join(
        F.broadcast(p1),
        F.date_format(F.add_months(mstart, -1), "yyyy-MM") == F.col("m1"),
        "left",
    ).join(
        F.broadcast(p12),
        F.date_format(F.add_months(mstart, -12), "yyyy-MM") == F.col("m12"),
        "left",
    )
    return (
        joined.select(
            "month",
            "rev_cents",
            (
                F.round(
                    (F.col("rev_cents") - F.col("rev1"))
                    / F.col("rev1").cast("double")
                    * 100,
                    4,
                )
                + F.lit(0.0)
            ).alias("mom_pct"),
            (
                F.round(
                    (F.col("rev_cents") - F.col("rev12"))
                    / F.col("rev12").cast("double")
                    * 100,
                    4,
                )
                + F.lit(0.0)
            ).alias("yoy_pct"),
        )
        .orderBy("month")
    )


@register(
    "ts_linear_interpolate",
    oracle="""
WITH users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id BETWEEN 1 AND 5
),
grid AS (
  SELECT user_id,
         unnest(generate_series(TIMESTAMP '2024-01-08 00:00:00',
                                TIMESTAMP '2024-01-14 23:00:00',
                                INTERVAL 1 HOUR)) AS ts
  FROM users
),
obs AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE user_id BETWEEN 1 AND 5
),
u AS (
  SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id,
         CAST(NULL AS DOUBLE) AS value, 0 AS is_obs FROM grid
  UNION ALL
  SELECT user_id, ts, event_id, value, 1 AS is_obs FROM obs
),
f AS (
  SELECT user_id, ts, is_obs,
         last_value(value IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END
                    IGNORE NULLS) OVER wp AS pt,
         first_value(value IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END
                     IGNORE NULLS) OVER wn AS nt
  FROM u
  WINDOW
    wp AS (PARTITION BY user_id ORDER BY ts, is_obs DESC, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wn AS (PARTITION BY user_id ORDER BY ts, is_obs DESC, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       ROUND(CASE
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           pv + (nv - pv) * (epoch_us(ts) - pt) / (nt - pt)
         WHEN pv IS NOT NULL THEN pv
       END, 4) AS value
FROM f WHERE is_obs = 0
ORDER BY user_id, ts_s
""",
    doc="Time-series resampling with linear interpolation: each of "
    "users 1-5 is projected onto an hourly grid (7 days, 168 points "
    "per user); grid values interpolate linearly between the nearest "
    "observation at-or-before and strictly-after (LOCF beyond the "
    "last observation, NULL before the first). One union + two "
    "IGNORE-NULLS frame windows PARTITIONED BY user — per-key state, "
    "no as-of join needed, scales linearly in users. Tie rule: an "
    "observation at exactly a grid instant sorts BEFORE the grid row "
    "(is_obs DESC), so it lands in the preceding frame and the grid "
    "point reproduces it exactly. The interpolation factor is a "
    "ratio of identical microsecond integers on both engines — "
    "bit-identical doubles.",
)
def ts_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").between(1, 5)
    )
    users = ev.select("user_id").distinct()
    grid = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit("2024-01-08 00:00:00").cast("timestamp"),
                F.lit("2024-01-14 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("ts"),
    ).select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_obs"),
    )
    obs = ev.select(
        "user_id", "ts", "event_id", "value", F.lit(1).alias("is_obs")
    )
    u = grid.unionByName(obs)
    # event_id tiebreak makes the sort a TOTAL order:
    # duplicate observations at one (user_id, ts) would otherwise
    # leave pv/nv partition-layout-dependent. Grid rows carry NULL
    # event_id but never tie with each other, and the is_obs key
    # already separates them from observations, so NULL ordering
    # differences between engines cannot surface.
    wp = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_obs").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_obs").desc(), F.col("event_id"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_us = F.when(
        F.col("value").isNotNull(), F.unix_micros("ts")
    )
    f = u.select(
        "user_id",
        "ts",
        "is_obs",
        F.last("value", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_us, ignorenulls=True).over(wp).alias("pt"),
        F.first("value", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_us, ignorenulls=True).over(wn).alias("nt"),
    )
    interp = F.when(
        F.col("pv").isNotNull() & F.col("nv").isNotNull(),
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (F.unix_micros("ts") - F.col("pt"))
        / (F.col("nt") - F.col("pt")),
    ).otherwise(F.col("pv"))
    return (
        f.filter(F.col("is_obs") == 0)
        .select(
            "user_id",
            F.date_format("ts", _FMT).alias("ts_s"),
            F.round(interp, 4).alias("value"),
        )
    )


@register(
    "dq_benford_digits",
    oracle="""
WITH digits AS (
  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     AS VARCHAR), 1, 1) AS digit
  FROM orders WHERE o_totalprice > 0
)
SELECT digit,
       COUNT(*) AS n,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6)
         AS observed_p,
       ROUND(ln(1.0 + 1.0 / CAST(digit AS BIGINT)) / ln(10.0), 6)
         AS benford_p
FROM digits
GROUP BY digit ORDER BY digit
""",
    doc="Benford's-law first-digit audit of order totals — the "
    "forensic data-quality screen for fabricated or truncated "
    "monetary data. The first significant digit comes from the "
    "EXACT integer-cents representation rendered as a string "
    "(integer-to-string is engine-identical; double-to-string and "
    "floor(log10) are not — both were rejected for parity "
    "cliffs). One groupBy over 9 digit groups; the share "
    "denominator is an unpartitioned window over the 9-row "
    "aggregate — aggregate-bounded, the gated-allowed shape. "
    "benford_p = log10(1 + 1/d) alongside for the comparison.",
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    )
    counts = (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy()
    return (
        counts.select(
            "digit",
            "n",
            F.round(
                F.col("n") / F.sum("n").over(total).cast("double"), 6
            ).alias("observed_p"),
            F.round(
                F.log(1.0 + 1.0 / F.col("digit").cast("bigint"))
                / F.log(F.lit(10.0)),
                6,
            ).alias("benford_p"),
        )
        .orderBy("digit")
    )


@register(
    "dq_table_checksum",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(('0x' || substr(md5(
              COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>') || '|' ||
              COALESCE(CAST(o_custkey AS VARCHAR), '<NULL>') || '|' ||
              COALESCE(o_orderstatus, '<NULL>') || '|' ||
              COALESCE(o_orderpriority, '<NULL>') || '|' ||
              COALESCE(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), '<NULL>')
            ), 1, 15))::BIGINT) AS BIGINT) AS row_hash_xor,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
""",
    doc="Order-insensitive table checksum — the cross-system "
    "reconciliation primitive (how you prove a 100 TB migration "
    "moved every row): each row serializes to a canonical "
    "'|'-joined string of engine-identical renderings (integers and "
    "strings only; doubles travel as exact integer cents — "
    "double-to-string is NOT engine-stable), md5-hashes, and the "
    "60-bit hash prefixes fold with bit_xor into one comparable "
    "value. XOR is commutative/associative with NO overflow at any "
    "row count (a 60-bit SUM overflows a signed long past ~16 "
    "rows-worth of high terms — measured, hence xor), partial-"
    "aggregates map-side, and is order- and partition-independent; "
    "(n_rows, row_hash_xor, key_sum) together detect lost, "
    "duplicated, or mutated rows (count catches pair-cancelling "
    "dupes that xor alone would miss).",
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Each field carries an explicit NULL sentinel: bare concat_ws
    # SKIPS nulls (so a NULL field hashed like a missing field and
    # diverged from the oracle's null-propagating ||), and a silently
    # null-dropped row would weaken exactly the mutation detection
    # this checksum exists for.
    def _f(c: F.Column) -> F.Column:
        return F.coalesce(c.cast("string"), F.lit("<NULL>"))

    canon = F.concat_ws(
        "|",
        _f(F.col("o_orderkey")),
        _f(F.col("o_custkey")),
        _f(F.col("o_orderstatus")),
        _f(F.col("o_orderpriority")),
        _f(F.round(F.col("o_totalprice") * 100).cast("long")),
    )
    term = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(term).cast("bigint").alias("row_hash_xor"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "fuzzy_name_clusters",
    oracle="""
WITH RECURSIVE
names AS (SELECT DISTINCT p_name AS name FROM part),
p AS (SELECT a.name AS name_a, b.name AS name_b
      FROM names a JOIN names b ON a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 1),
sym AS (SELECT name_a AS u, name_b AS v FROM p
        UNION SELECT name_b, name_a FROM p),
reach AS (SELECT u, v FROM sym
          UNION
          SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component
         FROM reach GROUP BY u)
SELECT component AS canonical_name,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       string_agg(node, ',' ORDER BY node) AS variants_csv
FROM comp
GROUP BY component ORDER BY component
""",
    doc="Entity resolution end-to-end: the fuzzy_name_pairs edit-"
    "distance pair graph resolved into canonical clusters via "
    "connected components (operators/graph.py min-label "
    "propagation) — chains of one-edit variants collapse "
    "transitively into one canonical spelling (lexicographic min), "
    "the full dedup decision a catalog/MDM pipeline applies. Same "
    "vocabulary-bounded scale shape as the pair query; the oracle "
    "rebuilds clusters with a recursive-CTE closure over the "
    "brute-forced pair set and the same deterministic canonical "
    "choice, variants listed as a sorted CSV.",
)
def fuzzy_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.graph import (
        connected_components,
    )

    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    pairs = _fuzzy_candidate_pairs(names).select("name_a", "name_b")
    comp = connected_components(pairs, "name_a", "name_b")
    return (
        comp.groupBy(F.col("component").alias("canonical_name"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.array_join(F.array_sort(F.collect_set("node")), ",").alias(
                "variants_csv"
            ),
        )
        .orderBy("canonical_name")
    )


@register(
    "report_cohort_ltv",
    oracle="""
WITH wk AS (
  SELECT user_id,
         CAST(FLOOR((CAST(ts AS DATE) - DATE '1970-01-05') / 7.0)
              AS BIGINT) AS w,
         value
  FROM events
),
cohort AS (SELECT user_id, MIN(w) AS c FROM wk GROUP BY user_id),
cell AS (
  SELECT cohort.c AS cohort_week,
         wk.w - cohort.c AS age_weeks,
         COUNT(DISTINCT wk.user_id) AS n_active,
         ROUND(SUM(wk.value), 2) AS revenue
  FROM wk JOIN cohort USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, age_weeks, n_active,
       ROUND(SUM(revenue) OVER (PARTITION BY cohort_week
             ORDER BY age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS cum_revenue
FROM cell ORDER BY cohort_week, age_weeks
""",
    doc="Cohort lifetime-value triangle: users cohorted by first-"
    "activity epoch-week (Monday-anchored, engine-neutral integer "
    "arithmetic on day counts — no locale week-of-year), then per "
    "(cohort, age-in-weeks) active users and revenue, with the "
    "running cumulative revenue that IS the LTV curve. First-touch "
    "assignment is one user-keyed aggregate joined back on the "
    "user equi-key; the cumulative window is PARTITIONED by cohort "
    "over the (cohort x age) aggregate — both dimensions grow with "
    "calendar time, not row count. Revenue rounds per cell before "
    "the running sum and again after (same accumulation order both "
    "engines: ascending age within a partition).",
)
def report_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("1970-01-05")) / 7.0
        ).alias("w"),
        "value",
    )
    cohort = wk.groupBy("user_id").agg(F.min("w").alias("c"))
    cell = (
        wk.join(cohort, "user_id")
        .groupBy(
            F.col("c").alias("cohort_week"),
            (F.col("w") - F.col("c")).alias("age_weeks"),
        )
        .agg(
            F.count_distinct("user_id").alias("n_active"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.select(
        "cohort_week",
        "age_weeks",
        "n_active",
        F.round(F.sum("revenue").over(wcum), 2).alias("cum_revenue"),
    ).orderBy("cohort_week", "age_weeks")


@register(
    "dq_psi_drift",
    oracle="""
WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, value
           FROM events),
bounds AS (SELECT MIN(es) AS e0, MAX(es) AS e1 FROM e),
tagged AS (
  SELECT value, es < (b.e0 + b.e1) // 2 AS is_ref
  FROM e, bounds b),
rv AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax
       FROM tagged WHERE is_ref),
binned AS (
  SELECT is_ref,
         GREATEST(LEAST(CAST(floor((value - rv.vmin)
                        / ((rv.vmax - rv.vmin) / 10.0)) AS BIGINT),
                        9), 0) AS bin
  FROM tagged, rv),
counts AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
           AS n_cur
  FROM binned GROUP BY bin),
spine AS (SELECT unnest(range(10)) AS bin),
filled AS (
  SELECT s.bin, COALESCE(c.n_ref, 0) AS n_ref,
         COALESCE(c.n_cur, 0) AS n_cur
  FROM spine s LEFT JOIN counts c ON s.bin = c.bin),
tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
               CAST(SUM(n_cur) AS BIGINT) AS tc FROM filled)
SELECT bin, n_ref, n_cur,
       ROUND((n_ref + 1.0) / (tot.tr + 10), 6) AS p_ref,
       ROUND((n_cur + 1.0) / (tot.tc + 10), 6) AS p_cur,
       ROUND(((n_cur + 1.0) / (tot.tc + 10)
              - (n_ref + 1.0) / (tot.tr + 10))
             * ln(((n_cur + 1.0) / (tot.tc + 10))
                  / ((n_ref + 1.0) / (tot.tr + 10))), 6) AS psi_term
FROM filled, tot ORDER BY bin
""",
    doc="Population Stability Index — THE production drift monitor "
    "for feature/score distributions (credit-risk lineage; PSI > "
    "0.25 conventionally triggers retraining): split the event "
    "stream at its epoch midpoint into reference/current halves, bin "
    "values into 10 fixed-width bins derived from the REFERENCE "
    "half's min/max (clamped at the edges so current-half outliers "
    "land in the boundary bins), Laplace-smooth the shares "
    "(+1/+10 — a structurally-empty bin contributes finitely and "
    "identically on both engines, no div-by-zero epsilon fudge), "
    "psi_term = (q-p) ln(q/p) per bin. Plan: one scan for the epoch "
    "bounds, one scan materializing the tagged (value, is_ref) "
    "projection (localCheckpoint — rv and the binning both read it) "
    "-> 1-row reference-min/max broadcast -> "
    "bin partial-agg (10 groups) joined to a 10-row spine, 1-row "
    "totals broadcast — nothing row-proportional past the first "
    "aggregate. Timestamps compare as floor(epoch) BIGINTs (DuckDB "
    "epoch() keeps microseconds as fraction; Spark unix_timestamp "
    "truncates — floor makes them identical).",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("es"), "value"
    )
    bounds = ev.agg(F.min("es").alias("e0"), F.max("es").alias("e1"))
    # Materialize (value, is_ref) once: rv and binned both read it,
    # and without the checkpoint each consumer replays the full events
    # scan (the same reuse shape report_data_card
    # already checkpoints).
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "value", (F.col("es") < F.expr("(e0 + e1) div 2")).alias("is_ref")
    ).localCheckpoint(eager=False)
    rv = tagged.filter("is_ref").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = tagged.crossJoin(F.broadcast(rv)).select(
        "is_ref",
        F.greatest(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / 10.0)
                ),
                F.lit(9),
            ),
            F.lit(0),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    spine = spark.range(10).select(F.col("id").alias("bin"))
    filled = (
        spine.join(counts, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = filled.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p = (F.col("n_ref") + 1.0) / (F.col("tr") + 10)
    q = (F.col("n_cur") + 1.0) / (F.col("tc") + 10)
    return (
        filled.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p, 6).alias("p_ref"),
            F.round(q, 6).alias("p_cur"),
            F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


@register(
    "dq_observe_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hi_discount,
       CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_ship_1995_on
FROM lineitem
""",
    doc="Observed-metrics instrumentation (pyspark.sql.Observation / "
    "df.observe): data-quality counters collected as a SIDE-CHANNEL "
    "of a single pass over the fact table — the 100 TB point is that "
    "a production pipeline gets row counts, control totals, and "
    "violation counts for FREE on the write/action it was already "
    "doing (observe attaches CollectMetrics to the physical plan; "
    "executors accumulate the aggregates alongside the main "
    "operators, no second scan, no extra shuffle), where a separate "
    "DQ query would re-read 100 TB. The query runs ONE counting "
    "action over lineitem with four observed aggregates and returns "
    "them as a 1-row DataFrame; the collect-side loop is exactly one "
    "metrics row by construction. The oracle computes the identical "
    "aggregates as a plain scan.",
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.sum((F.col("l_discount") > 0.05).cast("long")).alias(
            "n_hi_discount"
        ),
        F.sum(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            .cast("long")
        ).alias("n_ship_1995_on"),
    )
    # The ONE action the metrics piggyback on (in production this is
    # the sink write; obs.get blocks until the action finishes).
    observed.count()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                float(m["sum_qty"]),
                m["n_hi_discount"],
                m["n_ship_1995_on"],
            )
        ],
        "n_rows long, sum_qty double, n_hi_discount long, n_ship_1995_on long",
    )


@register(
    "ts_ewma",
    oracle="""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         ROUND(AVG(value), 6) AS x
  FROM events GROUP BY 1, 2
),
acc AS (
  SELECT event_type, day, x,
         list(x) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS hist
  FROM daily
)
SELECT event_type, day, x,
       ROUND(list_reduce(hist, (acc, v) -> 0.3 * v + 0.7 * acc), 6)
         AS ewma
FROM acc ORDER BY event_type, day
""",
    doc="Exponentially weighted moving average over the daily "
    "per-event-type value series (alpha=0.3, seeded at the first "
    "observation) — the smoothing primitive behind monitoring "
    "dashboards and drift baselines. EWMA is inherently a recursive "
    "fold (e_t = a*x_t + (1-a)*e_{t-1}, not window-sum expressible "
    "without numerically explosive (1-a)^-t weights), so it runs as "
    "the SAME Catalyst fold pattern as the BPE encoder: collect the "
    "per-type history prefix with a PARTITIONED window, then one "
    "F.aggregate seeded from the first element. Scale shape: raw "
    "events reduce to the daily series in ONE partial-aggregable "
    "pass; the quadratic prefix-collect runs on the CALENDAR-BOUNDED "
    "aggregate (days x types, never event rows) — at 100 TB the fold "
    "input is still a few hundred rows per type. Daily means are "
    "ROUND(6)-ed BEFORE the fold so both engines fold bit-identical "
    "inputs in the same order; DuckDB replays it via list() OVER + "
    "list_reduce.",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    acc = daily.withColumn("hist", F.collect_list("x").over(w))
    ewma = F.aggregate(
        F.slice(
            F.col("hist"), 2, F.greatest(F.size("hist") - 1, F.lit(0))
        ),
        F.element_at(F.col("hist"), 1),
        lambda a, v: F.lit(0.3) * v + F.lit(0.7) * a,
    )
    return acc.select(
        "event_type", "day", "x", F.round(ewma, 6).alias("ewma")
    ).orderBy("event_type", "day")


@register(
    "report_data_card",
    oracle="""
WITH fp AS (
  SELECT source, lang, n_chars,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp,
         len(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS n_tok
  FROM documents
),
dup AS (SELECT fp, 1 AS is_dup FROM fp GROUP BY fp HAVING COUNT(*) >= 2)
SELECT f.source,
       COUNT(*) AS n_docs,
       CAST(SUM(f.n_tok) AS BIGINT) AS n_tokens,
       ROUND(AVG(f.n_chars), 2) AS avg_chars,
       ROUND(AVG(CASE WHEN f.lang = 'en' THEN 1.0 ELSE 0.0 END), 4) AS pct_en,
       ROUND(AVG(CASE WHEN d.is_dup IS NULL THEN 0.0 ELSE 1.0 END), 4)
         AS dup_rate
FROM fp f LEFT JOIN dup d USING (fp)
GROUP BY f.source ORDER BY f.source
""",
    doc="Per-source dataset card — the summary table a corpus release "
    "ships (datasheets-for-datasets shape): document count, "
    "whitespace-token count, mean length, English share, and "
    "exact-duplicate rate (share of docs whose normalized-content "
    "md5 occurs >= 2 times CORPUS-wide, so cross-source twins count "
    "in both sources). Two passes, both scale-safe: one projection "
    "to (source, lang, n_chars, fp, n_tok) feeding a per-source "
    "partial agg, plus one fp-keyed count whose >= 2 survivors join "
    "back as a flag — fingerprints travel as 8-byte xxhash64 longs "
    "(string-key rule; the oracle's md5 is its own bridge), text "
    "is read once. All ratios are means of exact 0/1 indicators, "
    "ROUND(4).",
)
def report_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source",
        "lang",
        "n_chars",
        # Dup fingerprint = xxhash64 long (string-key rule): fp is
        # a groupBy + join-back key that never reaches output; the
        # oracle's md5 fingerprint is its own equality bridge.
        F.xxhash64(D.normalize_text(F.col("text"))).alias("fp"),
        F.size(D.tokens(F.col("text"))).alias("n_tok"),
    ).localCheckpoint(eager=False)
    dup = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("fp", F.lit(1).alias("is_dup"))
    )
    return (
        fp.join(dup, "fp", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.round(
                F.avg(F.when(F.col("lang") == "en", 1.0).otherwise(0.0)), 4
            ).alias("pct_en"),
            F.round(
                F.avg(F.when(F.col("is_dup").isNull(), 0.0).otherwise(1.0)), 4
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )
