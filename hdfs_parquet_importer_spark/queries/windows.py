"""Window functions (SURVEY §2.2 "Window functions") and the as-of
join custom operator.

Every window here partitions by a key (custkey/suppkey/user_id), so at
100 TB each partition's state fits one executor and Spark plans a
single hash shuffle + in-partition sort per window. The one global
(unpartitioned) window demo is explicitly marked — a global ntile at
scale needs a range-partitioned two-pass plan, which Spark's
``Window.orderBy`` without partitionBy does NOT do (single-task
bottleneck); it's included for surface coverage and bounded inputs.

Ordering inside every window carries a unique tie-break column so both
engines compute identical frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators.asof import asof_join
from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table


@register(
    "window_topk_per_group",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3 ORDER BY o_custkey, rn
""",
    doc="Top-3 orders per customer via row_number (partitioned top-k, no global sort).",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rn")
    )


@register(
    "window_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) / 100.0, 2) AS running_total
FROM orders ORDER BY o_custkey, o_orderkey
""",
    doc="Running per-customer revenue (cumulative frame). Summed in "
    "exact integer cents — windowed float sums re-associate across "
    "engines; the single final /100.0 on identical integers is "
    "bit-stable and lands at most 2 decimals from a tie.",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(cents).over(w) / 100.0, 2).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_lag_lead",
    oracle="""
WITH w AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         LAG(o_orderdate)  OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS prev_date,
         LEAD(o_orderkey)  OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS next_orderkey
  FROM orders
)
SELECT o_custkey, o_orderkey,
       CAST(COALESCE(date_diff('day', prev_date, o_orderdate), -1) AS BIGINT)
         AS days_since_prev,
       COALESCE(next_orderkey, -1) AS next_orderkey
FROM w ORDER BY o_custkey, o_orderkey
""",
    doc="lag/lead: inter-order gap days and next order per customer.",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate").over(w)
    next_ok = F.lead("o_orderkey").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.coalesce(
            F.datediff(F.col("o_orderdate").cast("date"), prev_date.cast("date")),
            F.lit(-1),
        )
        .cast("long")
        .alias("days_since_prev"),
        F.coalesce(next_ok, F.lit(-1)).alias("next_orderkey"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_rank_dense",
    oracle="""
SELECT p_brand, p_partkey,
       CAST(RANK()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC)
            AS BIGINT) AS price_rank,
       CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC)
            AS BIGINT) AS price_drank
FROM part ORDER BY p_brand, p_partkey
""",
    doc="rank vs dense_rank under ties, per brand.",
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return p.select(
        "p_brand",
        "p_partkey",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_drank"),
    ).orderBy("p_brand", "p_partkey")


@register(
    "window_moving_avg",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST((SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER w * 100)
         // (COUNT(*) OVER w) AS BIGINT) AS avg_centi_cents
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber,
                      CAST(round(l_extendedprice * 100) AS BIGINT)
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY l_suppkey, l_orderkey, l_linenumber
""",
    doc="Moving average over a bounded rows frame per supplier, "
    "emitted in exact hundredths of a cent via pure integer "
    "arithmetic (windowed float sums re-associate across engines; "
    "cross-engine ROUND disagrees at ties). The summed value itself "
    "is the FINAL order key: the synthetic lineitem has duplicate "
    "(l_orderkey, l_linenumber) pairs, so a ROWS frame ordered only "
    "by (shipdate, ok, ln) is under-determined — tied rows with "
    "different prices made the frame sums engine- and run-dependent. "
    "With the value as tiebreak, any remaining ties are "
    "value-identical and every tie permutation yields the same "
    "output multiset. Tie order is not the parity hazard here: "
    "DuckDB SUM(BIGINT) yields HUGEINT, which pandas materializes as "
    "float64 (123.0) while Spark emits int64 (123) — the driver's "
    "dtype-sensitive hasher sees different values. The oracle CASTs "
    "the windowed quotient back to BIGINT (see tools/dtype_audit.py).",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", cents)
        .rowsBetween(-3, Window.currentRow)
    )
    # Spark's `div` truncates toward zero; DuckDB's `//` floors. The
    # two agree ONLY because _w_sum is non-negative by construction
    # (prices are positive). Reusing this pattern on signed values
    # would silently diverge at negative quotients — use
    # floor(sum*100/cnt) on BOTH sides there instead.
    avg_cc = F.expr(
        "_w_sum * 100 div _w_cnt"
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(cents).over(w).alias("_w_sum"),
            F.count(F.lit(1)).over(w).alias("_w_cnt"),
        )
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            avg_cc.alias("avg_centi_cents"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


@register(
    "window_first_last",
    oracle="""
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
         AS first_orderkey,
       LAST_VALUE(o_orderkey)  OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING)
         AS last_orderkey
FROM orders ORDER BY o_custkey, o_orderkey
""",
    doc="first_value / last_value with an explicit full-partition frame.",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.last("o_orderkey").over(w_full).alias("last_orderkey"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_ntile_global",
    oracle="""
SELECT o_orderkey,
       CAST(NTILE(4)     OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile,
       ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice), 6)  AS pr,
       ROUND(CUME_DIST()    OVER (ORDER BY o_totalprice), 6)  AS cd
FROM orders ORDER BY o_orderkey
""",
    doc=(
        "GLOBAL window (no partition) — surface demo only: Spark executes "
        "this in ONE task; at 100 TB use the scalable twins instead — "
        "window_quartile_scalable, or operators/prefix.py dist_rank + "
        "ntile_from_rank (bit-equal ntile(k) from a bucketed rank, the "
        "events_rfm_segmentation shape)."
    ),
)
def window_ntile_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    w_pr = Window.orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w_pr), 6).alias("pr"),
        F.round(F.cume_dist().over(w_pr), 6).alias("cd"),
    ).orderBy("o_orderkey")


@register(
    "asof_join_purchase_view",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
SELECT p.event_id                       AS purchase_id,
       p.user_id                        AS user_id,
       COALESCE(v.event_id, -1)         AS view_id,
       CAST(COALESCE(date_diff('second', v.ts, p.ts), -1) AS BIGINT) AS gap_s
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY purchase_id
""",
    doc=(
        "As-of join (custom operator): latest prior 'view' for each "
        "'purchase', per user. Union-marker implementation — one shuffle, "
        "no O(n*m) explosion (operators/asof.py); oracle uses DuckDB's "
        "native ASOF JOIN."
    ),
)
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
    )
    gap = F.col("ts").cast("long") - F.col("asof_ts").cast("long")
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.coalesce("asof_event_id", F.lit(-1)).alias("view_id"),
        F.coalesce(gap, F.lit(-1)).cast("long").alias("gap_s"),
    )


@register(
    "window_range_frame",
    oracle="""
SELECT o_orderkey, ROUND(o_totalprice, 2) AS total,
       COUNT(*) OVER (ORDER BY o_totalprice
                      RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
         AS n_within_10k
FROM orders WHERE o_orderkey % 10 = 0
ORDER BY total, o_orderkey
""",
    doc="RANGE frame (value-based, not row-based): how many orders "
    "fall within $10k below each order's price. Range frames bound "
    "the frame by the ORDER BY value — ties and gaps behave unlike "
    "ROWS frames. Computed by operators/prefix.banded_range_agg: "
    "a trailing $10k frame can only reach one $10k price cell back, "
    "so rows are mirrored into their own and the next cell and a "
    "cell-PARTITIONED range window aggregates — exact, parallel per "
    "cell, 2x duplication through one hash shuffle instead of the "
    "whole table through one global-order task. The oracle keeps the "
    "naive unpartitioned-window formulation as the correctness "
    "reference.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import banded_range_agg

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    banded = banded_range_agg(
        orders,
        "o_totalprice",
        10000.0,
        lambda w: [F.count(F.lit(1)).over(w).alias("n_within_10k")],
    )
    return (
        banded.select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "n_within_10k",
        )
    )


@register(
    "window_quartile_scalable",
    oracle="""
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS b1,
         quantile_cont(o_totalprice, 0.50) AS b2,
         quantile_cont(o_totalprice, 0.75) AS b3
  FROM orders
)
SELECT o_orderkey,
       CAST(CASE WHEN o_totalprice <= b1 THEN 1
                 WHEN o_totalprice <= b2 THEN 2
                 WHEN o_totalprice <= b3 THEN 3
                 ELSE 4 END AS BIGINT) AS quartile
FROM orders, b ORDER BY o_orderkey
""",
    doc="The 100 TB replacement for window_ntile_global: quartile "
    "boundaries come from one tiny aggregate (swap in "
    "approx_percentile's t-digest at scale), broadcast as a 1-row "
    "cross join, and bucket assignment is a per-row CASE — fully "
    "parallel, no global-order single-task window anywhere.",
)
def window_quartile_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("b1"),
        F.expr("percentile(o_totalprice, 0.50)").alias("b2"),
        F.expr("percentile(o_totalprice, 0.75)").alias("b3"),
    )
    quartile = (
        F.when(F.col("o_totalprice") <= F.col("b1"), 1)
        .when(F.col("o_totalprice") <= F.col("b2"), 2)
        .when(F.col("o_totalprice") <= F.col("b3"), 3)
        .otherwise(4)
    )
    return (
        o.crossJoin(F.broadcast(b))
        .select("o_orderkey", quartile.cast("long").alias("quartile"))
        .orderBy("o_orderkey")
    )


@register(
    "window_forward_fill",
    oracle="""
SELECT user_id, event_id, event_type,
       ROUND(last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             2) AS last_purchase
FROM events WHERE user_id < 10 ORDER BY user_id, event_id
""",
    doc="Forward-fill (LOCF) — carry each user's most recent purchase "
    "amount onto every subsequent event, NULL before the first: "
    "last(col, ignorenulls) over an unbounded-preceding row frame, "
    "the standard gap-fill for feature pipelines. Partitioned by "
    "user_id, so the window never globally orders; (ts, event_id) "
    "ordering is a total order within a user, making the fill "
    "deterministic under ties.",
)
def window_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.last(purchase_val, ignorenulls=True).over(w), 2).alias(
            "last_purchase"
        ),
    ).orderBy("user_id", "event_id")


@register(
    "window_ewma",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS xs
  FROM events WHERE user_id < 10 AND value IS NOT NULL)
SELECT user_id, event_id,
       ROUND(list_reduce(xs, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma
FROM seq ORDER BY user_id, event_id
""",
    doc="Exponential moving average (alpha=0.3) over each user's "
    "trailing 16 events — the recursive smoother Spark has no native "
    "window function for, expressed as collect_list over a bounded "
    "row frame + an aggregate() fold seeded with the oldest element. "
    "Truncating the frame bounds both memory (16 doubles/row) and "
    "the dropped tail's weight (0.7^15 < 0.5%). Both engines fold "
    "the same doubles in the same order, so results are "
    "bit-identical before the display rounding — which requires the "
    "explicit value-IS-NOT-NULL filter on BOTH sides: Spark's "
    "collect_list silently drops NULLs while DuckDB's list() keeps "
    "them, so parity must not depend on the generator never emitting "
    "nulls. Unbounded-history EWMA over a stream belongs "
    "to applyInPandasWithState (streaming/), where per-key state "
    "carries the accumulator.",
)
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .filter(F.col("value").isNotNull())
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, Window.currentRow)
    )
    xs = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return ev.select(
        "user_id", "event_id", F.round(ewma, 6).alias("ewma")
    ).orderBy("user_id", "event_id")


@register(
    "asof_join_next_purchase",
    oracle="""
WITH s AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'signup'),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
j AS (SELECT s.event_id, p.ts AS p_ts, p.value,
             -- value DESC tiebreak = the operator's greatest-payload
             -- rule for purchases tied on ts (r11 review)
             row_number() OVER (PARTITION BY s.event_id
                                ORDER BY p.ts, p.value DESC) AS rn
      FROM s JOIN p ON s.user_id = p.user_id AND p.ts >= s.ts)
SELECT s.event_id, s.user_id,
       strftime(j.p_ts, '%Y-%m-%d %H:%M:%S') AS next_purchase_ts,
       ROUND(j.value, 2) AS next_purchase_value
FROM s LEFT JOIN j ON s.event_id = j.event_id AND j.rn = 1
ORDER BY s.event_id
""",
    doc="Forward as-of join: each signup matched to the user's "
    "EARLIEST purchase at-or-after it (time-to-convert attribution). "
    "Same union + ordered-window carry as the backward as-of — "
    "scanned from the high end — so it stays one user-partitioned "
    "window pass with no range self-join; the oracle's "
    "row_number-over-range-join formulation is the O(n*m)-per-key "
    "correctness reference.",
)
def asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        signups,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["value"],
        prefix="next_",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("next_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "next_purchase_ts"
        ),
        F.round("next_value", 2).alias("next_purchase_value"),
    ).orderBy("event_id")


@register(
    "asof_join_nearest",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts, MIN(event_id) AS event_id FROM events
      WHERE event_type = 'view' GROUP BY user_id, ts),
j AS (
  SELECT p.event_id AS purchase_id, p.user_id,
         -- selection + tolerance compare MICROSECOND distances (the
         -- operator compares fractional seconds; whole-second
         -- date_diff picked the wrong side on sub-second data and
         -- flipped the 600 s edge — r11 review). gap_s still reports
         -- truncated-epoch seconds, which date_diff('second') equals.
         arg_min(v.event_id,
                 2 * abs(epoch_us(v.ts) - epoch_us(p.ts))
                 + CASE WHEN v.ts <= p.ts THEN 0 ELSE 1 END)
           FILTER (WHERE v.user_id IS NOT NULL
                   AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 600000000)
           AS view_id,
         arg_min(date_diff('second', v.ts, p.ts),
                 2 * abs(epoch_us(v.ts) - epoch_us(p.ts))
                 + CASE WHEN v.ts <= p.ts THEN 0 ELSE 1 END)
           FILTER (WHERE v.user_id IS NOT NULL
                   AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 600000000)
           AS gap_s
  FROM p LEFT JOIN v ON p.user_id = v.user_id
  GROUP BY p.event_id, p.user_id
)
SELECT purchase_id, user_id,
       COALESCE(view_id, -1) AS view_id,
       CAST(gap_s AS BIGINT) AS gap_s
FROM j ORDER BY purchase_id
""",
    doc="Nearest-direction as-of join (merge_asof direction='nearest' "
    "with a 10-minute tolerance): each purchase matched to the "
    "closest view either side, backward preferred on exact distance "
    "ties (deterministic where pandas leaves it unspecified), views "
    "pre-deduplicated to one per (user, ts) so the tie domain is "
    "closed. Both direction carries ride ONE hash exchange on "
    "user_id (two in-partition sort passes) — no range self-join "
    "(operators/asof.py). Out-of-tolerance purchases keep the -1/"
    "NULL sentinel: the nearest candidate being too far proves no "
    "candidate is near enough. The oracle is the independent "
    "arg_min-over-(distance, side) formulation on a bounded "
    "per-user join; gap_s is SIGNED (positive = view before "
    "purchase).",
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("event_id"))
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
        direction="nearest",
        tolerance_sec=600,
    )
    gap = F.col("ts").cast("long") - F.col("asof_ts").cast("long")
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.coalesce("asof_event_id", F.lit(-1)).alias("view_id"),
        gap.cast("long").alias("gap_s"),
    ).orderBy("purchase_id")


@register(
    "window_share_of_total",
    oracle="""
WITH rev AS (
  SELECT n_name, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cp
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name)
SELECT n_name, CAST(rev_cp AS BIGINT) AS rev_cp,
       ROUND(rev_cp / SUM(rev_cp) OVER (), 6) AS share
FROM rev ORDER BY n_name
""",
    doc="Ratio-to-report: each nation's share of total order revenue "
    "— the percent-of-total window pattern. Revenue accumulates in "
    "exact integer cents (the Q11 technique), so the only double op "
    "is the final share division, identical cross-engine. The "
    "grand-total window runs over the 25-row nation aggregate, never "
    "the fact table; the heavy lifting is one partial-combined "
    "groupBy over the join.",
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rev = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(cents).alias("rev_cp"))
    )
    total = F.sum("rev_cp").over(Window.partitionBy())
    return rev.select(
        "n_name",
        "rev_cp",
        F.round(F.col("rev_cp") / total, 6).alias("share"),
    ).orderBy("n_name")


@register(
    "events_longest_streak",
    oracle="""
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
grp AS (SELECT user_id, d,
               CAST(d - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY d) AS INT) AS DATE) AS anchor
        FROM days),
streaks AS (SELECT user_id, COUNT(*) AS len
            FROM grp GROUP BY user_id, anchor)
SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM streaks WHERE user_id < 30 GROUP BY user_id ORDER BY user_id
""",
    doc="Gaps-and-islands: longest run of consecutive active days per "
    "user via the date-minus-row_number anchor trick — consecutive "
    "days share an anchor, so streaks fall out of a plain groupBy "
    "with no self-join or recursive CTE. All integer/date exact "
    "arithmetic. The row_number window partitions by user (parallel), "
    "and the distinct bounds the row count at users x days.",
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    grp = days.select("user_id", "d", F.date_sub(F.col("d"), rn).alias("anchor"))
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        streaks.filter(F.col("user_id") < 30)
        .groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.sum("len").alias("active_days"),
        )
        .orderBy("user_id")
    )


@register(
    "asof_join_tolerance",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
     m AS (SELECT p.event_id AS purchase_id, p.user_id, p.ts AS pts,
                  v.event_id AS vid, v.ts AS vts
           FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts)
SELECT purchase_id, user_id,
       -- tolerance compares MICROSECONDS (fractional seconds, like
       -- the operator); the reported gap stays truncated-epoch
       -- seconds == date_diff('second') (r11 review)
       COALESCE(CASE WHEN epoch_us(pts) - epoch_us(vts) <= 3600000000
                     THEN vid END, -1) AS view_id,
       CAST(COALESCE(CASE WHEN epoch_us(pts) - epoch_us(vts) <= 3600000000
                          THEN date_diff('second', vts, pts) END, -1)
            AS BIGINT) AS gap_s
FROM m ORDER BY purchase_id
""",
    doc="As-of join with a 1-hour tolerance (pandas merge_asof "
    "semantics): the latest prior view only counts if it happened "
    "within the window — attribution with an expiry, the common "
    "production form. Because the as-of match is the CLOSEST prior "
    "row, 'closest out of tolerance' implies nothing is in "
    "tolerance, so the post-carry null-out is exact. Same single "
    "union-marker shuffle as asof_join_purchase_view "
    "(operators/asof.py); oracle = DuckDB native ASOF JOIN + the "
    "identical tolerance CASE.",
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
        tolerance_sec=3600,
    )
    gap = F.col("ts").cast("long") - F.col("asof_ts").cast("long")
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.coalesce("asof_event_id", F.lit(-1)).alias("view_id"),
        F.coalesce(gap, F.lit(-1)).cast("long").alias("gap_s"),
    ).orderBy("purchase_id")


@register(
    "window_percent_rank_cume",
    oracle="""
SELECT c_mktsegment, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
ORDER BY c_mktsegment, c_acctbal, c_name
LIMIT 200
""",
    doc="Relative-standing analytics: percent_rank ((rank-1)/(n-1)) "
    "and cume_dist (rows <= current / n) per market segment, ordered "
    "by balance with c_custkey tiebreak so the rank sequence is "
    "deterministic on both engines. Window partitions by segment — "
    "per-key state, linear scale-out; both functions are rank-based "
    "(no second pass for n: Spark computes partition size in the "
    "same window operator). LIMIT keeps the driver transfer bounded; "
    "the full projection is what a quantile-normalization feature "
    "step ships at 100 TB.",
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_mktsegment",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("c_mktsegment", "c_acctbal", "c_name")
        .limit(200)
    )


@register(
    "window_running_distinct",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN row_number() OVER
                (PARTITION BY user_id, event_type ORDER BY ts, event_id)
              = 1 THEN 1 ELSE 0 END AS first_seen
  FROM events WHERE user_id < 10
)
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type,
       CAST(SUM(first_seen) OVER
         (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS n_types_seen
FROM flagged
ORDER BY user_id, event_id
""",
    doc="Running COUNT(DISTINCT) over a window — which neither Spark "
    "nor DuckDB supports directly — via the first-occurrence "
    "decomposition: row_number()=1 within (user, type) marks each "
    "type's first sighting, and a running sum of the flags is the "
    "distinct count so far. Two windows, BOTH key-partitioned "
    "(different keys, so two shuffles — unavoidable: the flag needs "
    "(user,type) order, the cumsum needs (user) order); per-key "
    "state is O(1). This is the standard scale-out rewrite for "
    "windowed distinct counting.",
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(F.row_number().over(w_first) == 1, 1)
        .otherwise(0)
        .alias("first_seen"),
    )
    return (
        flagged.select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "event_type",
            F.sum("first_seen").over(w_run).cast("bigint").alias("n_types_seen"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "window_max_drawdown",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(round(value * 100) AS BIGINT)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM events
),
d AS (
  SELECT user_id, cum,
         MAX(cum) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM s
)
SELECT user_id,
       CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
       CAST(MAX(cum) AS BIGINT) AS peak_cum_cents
FROM d GROUP BY user_id ORDER BY user_id
""",
    doc="Maximum drawdown per user over the cumulative value series "
    "(the quant risk statistic): running sum, then running peak of "
    "that sum, then max(peak - current) per user. Both windows and "
    "the final agg share ONE (user_id, ts, event_id) partitioning/"
    "ordering, so Catalyst runs a single sort + two stacked window "
    "operators with no extra shuffle. Exact integer cents end to "
    "end - bit-for-bit parity; per-key frames only.",
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("cum"),
    )
    d = s.select("user_id", "cum", F.max("cum").over(w).alias("peak"))
    return (
        d.groupBy("user_id")
        .agg(
            F.max(F.col("peak") - F.col("cum"))
            .cast("bigint")
            .alias("max_drawdown_cents"),
            F.max("cum").cast("bigint").alias("peak_cum_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "window_time_range_frame",
    oracle="""
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
       ROUND(SUM(value) OVER w, 2) AS sum_last_hour
FROM events
WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
""",
    doc="TIME-based RANGE frame: per event, the count and value sum "
    "of the same user's events in the trailing hour — the rolling "
    "rate-limit / velocity feature. RANGE over an interval bounds "
    "the frame by TIMESTAMP ARITHMETIC, not row count (a burst of "
    "100 events in a minute all share nearly the same frame; ROWS "
    "frames would not express this). The DataFrame API has no "
    "interval rangeBetween, so this goes through Spark SQL — same "
    "WINDOW clause both engines. Partitioned per user: per-key "
    "state is the in-frame buffer, linear scale-out. RANGE frames "
    "make peer rows (identical ts) share results, which is why the "
    "output orders by event_id but the frame orders by ts alone.",
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_trf"
    )
    return spark.sql("""
        SELECT user_id, event_id,
               date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_s,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
               ROUND(SUM(value) OVER w, 2) AS sum_last_hour
        FROM events_trf
        WHERE user_id < 10
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                       AND CURRENT ROW)
        ORDER BY user_id, event_id
    """)
