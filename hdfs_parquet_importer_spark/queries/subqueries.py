"""Advanced relational queries: correlated/scalar/IN subqueries
(decorrelated into joins, the shape Catalyst plans them as), pivot /
unpivot, exact percentiles, deterministic sampling, map functions, and
window distribution functions (SURVEY.md §2.2 extensions).

Subquery stance for 100 TB: every correlated subquery is expressed as
its decorrelated join form — a per-key aggregate joined back to the
fact — because that is the only shape that scales (one shuffle on the
correlation key instead of a per-row re-scan) and it is exactly what
Catalyst's RewriteCorrelatedScalarSubquery would produce anyway. The
oracle SQL uses the same CTE form so both engines compute identical
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table


# --------------------------------------------------------------------------
# Subqueries (decorrelated join forms).
# --------------------------------------------------------------------------
@register(
    "subq_exists_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="TPC-H Q4 shape: correlated EXISTS -> left-semi join on the "
    "correlation key. The semi join shuffles both sides once on "
    "orderkey and emits at most one match per order — no row "
    "multiplication, no per-row subquery re-execution.",
)
def subq_exists_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "subq_scalar_avg_qty",
    oracle="""
WITH part_avg AS (
  SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand, ROUND(SUM(l_extendedprice), 2) AS small_lot_revenue,
       COUNT(*) AS n_small_lots
FROM lineitem
JOIN part_avg USING (l_partkey)
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < half_avg
GROUP BY p_brand ORDER BY p_brand
""",
    doc="TPC-H Q17 shape: correlated scalar subquery (per-part average) "
    "decorrelated into an aggregate + equi-join on the correlation key. "
    "At scale: one shuffle of lineitem on partkey builds the averages, "
    "the join reuses the same partitioning; the part join is unhinted "
    "(sf-proportional dim — AQE broadcasts only when it fits).",
)
def subq_scalar_avg_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    part_avg = li.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("small_lot_revenue"),
            F.count(F.lit(1)).alias("n_small_lots"),
        )
        .orderBy("p_brand")
    )


@register(
    "subq_in_heavy_orders",
    oracle="""
WITH heavy AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 250
)
SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total,
       ROUND(sum_qty, 2) AS sum_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty FROM lineitem
      GROUP BY l_orderkey) q ON q.l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE o_orderkey IN (SELECT l_orderkey FROM heavy)
ORDER BY total DESC, o_orderkey
""",
    doc="TPC-H Q18 shape: IN-subquery over a grouped HAVING -> the "
    "aggregate is computed once and joined (Catalyst plans IN over an "
    "aggregate as a semi join). Both lineitem aggregations share one "
    "shuffle on orderkey; AQE reuses the exchange.",
)
def subq_in_heavy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_order = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sum_qty"))
    heavy = per_order.filter(F.col("sum_qty") > 250)
    return (
        orders.join(heavy, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


@register(
    "subq_global_avg_anti",
    oracle="""
WITH avg_bal AS (SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
GROUP BY c_nationkey ORDER BY c_nationkey
""",
    doc="TPC-H Q22 shape: uncorrelated scalar subquery (global average "
    "balance) broadcast as a 1-row cross join + NOT EXISTS as a "
    "left-anti join. Nothing here scans customer more than once per "
    "side and the scalar never leaves the cluster (no collect()).",
)
def subq_global_avg_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    pending = orders.filter(F.col("o_orderstatus") == "P")
    no_orders = rich.join(
        pending, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Pivot / unpivot.
# --------------------------------------------------------------------------
@register(
    "pivot_status_by_year",
    oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) FILTER (o_orderstatus = 'F') AS F,
       COUNT(*) FILTER (o_orderstatus = 'O') AS O,
       COUNT(*) FILTER (o_orderstatus = 'P') AS P
FROM orders GROUP BY order_year ORDER BY order_year
""",
    doc="Pivot (long -> wide): order counts by status per year. The "
    "pivot value list is given explicitly, so the plan is a single "
    "hash agg with one conditional counter per status — no second "
    "pass to discover distinct values, which at 100 TB would be an "
    "extra full scan.",
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.withColumn("order_year", F.year("o_orderdate").cast("long"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    # pivot().count() leaves EMPTY cells NULL where the oracle's
    # COUNT(*) FILTER yields 0 (and the NULL decays the pandas column
    # to float64) — coalesce to 0 so a year missing one status stays
    # parity-green (gate data happens to fill every cell).
    return pivoted.select(
        "order_year",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ("F", "O", "P")],
    ).orderBy("order_year")


@register(
    "unpivot_brand_metrics",
    oracle="""
WITH w AS (
  SELECT p_brand, ROUND(SUM(l_extendedprice), 2) AS revenue,
         ROUND(SUM(l_quantity), 2) AS quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
)
SELECT p_brand, metric, val FROM (
  SELECT p_brand, 'revenue'  AS metric, revenue  AS val FROM w
  UNION ALL
  SELECT p_brand, 'quantity' AS metric, quantity AS val FROM w
) ORDER BY p_brand, metric
""",
    doc="Unpivot (wide -> long) via the native unpivot operator "
    "(Spark plans an Expand node: one input row -> N output rows, "
    "map-side only, no shuffle and no self-union double scan).",
)
def unpivot_brand_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    wide = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.round(F.sum("l_quantity"), 2).alias("quantity"),
        )
    )
    return wide.unpivot(
        ids=["p_brand"], values=["revenue", "quantity"],
        variableColumnName="metric", valueColumnName="val",
    ).orderBy("p_brand", "metric")


# --------------------------------------------------------------------------
# Percentiles / sampling.
# --------------------------------------------------------------------------
@register(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="Exact percentiles (linear interpolation — Spark `percentile` "
    "== DuckDB `quantile_cont`). Exact quantiles need the values "
    "per group; at 100 TB swap in approx_percentile (t-digest sketch, "
    "mergeable map-side) — shown in agg_approx_percentile.",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            # ONE percentile buffer for all four quantiles (the
            # array form agg_approx_percentile already uses): four
            # scalar calls would each hold the full per-group value
            # list. Integer labels avoid f"{int(p*100)}"
            # float-truncation traps (0.29*100 -> 28).
            F.expr(
                "percentile(l_extendedprice,"
                " array(0.25, 0.50, 0.75, 0.99))"
            ).alias("_q")
        )
        .select(
            "l_returnflag",
            *[
                F.round(F.col("_q")[i], 4).alias(f"p{p}")
                for i, p in enumerate((25, 50, 75, 99))
            ],
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_approx_percentile",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n,
       ROUND(quantile_cont(l_extendedprice, 0.23), 4) AS lo_p25,
       ROUND(quantile_cont(l_extendedprice, 0.27), 4) AS hi_p25,
       ROUND(quantile_cont(l_extendedprice, 0.48), 4) AS lo_p50,
       ROUND(quantile_cont(l_extendedprice, 0.52), 4) AS hi_p50,
       ROUND(quantile_cont(l_extendedprice, 0.73), 4) AS lo_p75,
       ROUND(quantile_cont(l_extendedprice, 0.77), 4) AS hi_p75,
       ROUND(quantile_cont(l_extendedprice, 0.97), 4) AS lo_p99,
       ROUND(quantile_cont(l_extendedprice, 1.0), 4) AS hi_p99,
       TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75, TRUE AS ok_p99
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="approx_percentile: mergeable quantile sketch, the 100 TB path "
    "for percentiles (map-side partial sketches, tiny shuffle). The "
    "sketch output is engine-specific, so the checkable contract is a "
    "rank bound: each approx quantile q must land inside the exact "
    "[q-0.02, q+0.02] quantile envelope (accuracy=10000 guarantees "
    "rank error <= n/10000, far inside that band). The ENVELOPE "
    "itself ships as value columns that DuckDB re-derives with its "
    "own exact quantile_cont (the bound must be "
    "independently derived, leaving only the engine-specific sketch "
    "estimate on the Spark side); Spark additionally emits the "
    "per-quantile verdicts vs literal TRUEs.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.percentile_approx(
        "l_extendedprice", [0.25, 0.5, 0.75, 0.99], 10000
    ).alias("_approx")
    lo = F.expr(
        "percentile(l_extendedprice, array(0.23, 0.48, 0.73, 0.97))"
    ).alias("_lo")
    hi = F.expr(
        "percentile(l_extendedprice, array(0.27, 0.52, 0.77, 1.0))"
    ).alias("_hi")
    agged = li.groupBy("l_returnflag").agg(
        approx, lo, hi, F.count(F.lit(1)).alias("n")
    )
    bounds = []
    for i, p in enumerate((25, 50, 75, 99)):
        bounds.append(F.round(F.col("_lo")[i], 4).alias(f"lo_p{p}"))
        bounds.append(F.round(F.col("_hi")[i], 4).alias(f"hi_p{p}"))
    checks = [
        (
            (F.col("_approx")[i] >= F.col("_lo")[i])
            & (F.col("_approx")[i] <= F.col("_hi")[i])
        ).alias(f"ok_p{p}")
        for i, p in enumerate((25, 50, 75, 99))
    ]
    return agged.select(
        "l_returnflag", "n", *bounds, *checks
    ).orderBy("l_returnflag")


@register(
    "sample_systematic",
    oracle="""
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total
FROM orders WHERE o_orderkey % 20 = 7 ORDER BY o_orderkey
""",
    doc="Deterministic 5% systematic sample (key mod 20): reproducible "
    "across engines and runs, filter pushes to the scan. For "
    "probabilistic sampling use sample_bernoulli (TABLESAMPLE).",
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") % 20 == 7)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
        .orderBy("o_orderkey")
    )


@register(
    "sample_bernoulli",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n_total,
       ROUND(COUNT(*) * 0.1 - 6 * sqrt(COUNT(*) * 0.1 * 0.9), 4) AS lo_bound,
       ROUND(COUNT(*) * 0.1 + 6 * sqrt(COUNT(*) * 0.1 * 0.9), 4) AS hi_bound,
       TRUE AS within_bounds
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    doc="Bernoulli row sampling (df.sample, fixed seed): per-partition "
    "XORShift stream, no shuffle, deterministic for a fixed partition "
    "layout — but partition layout is NOT stable across engines, so "
    "the checkable contract is statistical: the per-status sample "
    "count must land within 6 binomial sigma of fraction*n_total "
    "(p=1e-9 false-alarm). The [mean-6s, mean+6s] acceptance band "
    "ships as value columns the oracle re-derives from its own exact "
    "totals (independently-derived bounds); only the "
    "sampled count itself stays Spark-side, distilled to the verdict.",
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    fraction = 0.1
    orders = load_table(spark, sf_dir, "orders")
    totals = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    sampled = (
        orders.sample(fraction=fraction, seed=42)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("_n_sampled"))
    )
    mean = F.col("n_total") * fraction
    sigma = F.sqrt(F.col("n_total") * fraction * (1 - fraction))
    return (
        totals.join(F.broadcast(sampled), "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_total",
            F.round(mean - 6 * sigma, 4).alias("lo_bound"),
            F.round(mean + 6 * sigma, 4).alias("hi_bound"),
            (
                F.abs(F.coalesce(F.col("_n_sampled"), F.lit(0)) - mean)
                <= F.lit(6) * sigma
            ).alias("within_bounds"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Map functions.
# --------------------------------------------------------------------------
@register(
    "func_map_props",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(MAX(len(json_keys(props))) AS BIGINT) AS max_n_keys
FROM events
GROUP BY event_type ORDER BY event_type
""",
    doc="Map-typed column workflow: JSON props -> map<string,string> "
    "(from_json), element_at + map_keys, then aggregate. The map "
    "parse is a per-row projection fused into the scan stage.",
)
def func_map_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    return (
        ev.select(
            "event_type",
            # try_cast, not cast: under Spark 4's default ANSI mode a
            # single non-integral props['k'] would abort the whole
            # query instead of nulling the row.
            F.try_element_at(m, F.lit("k")).try_cast("long").alias("k_val"),
            F.size(F.map_keys(m)).cast("long").alias("n_keys"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_val").alias("sum_k"),
            F.max("n_keys").alias("max_n_keys"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Window distribution functions.
# --------------------------------------------------------------------------
@register(
    "window_distribution",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist()    OVER w, 6) AS cume,
       ROUND(nth_value(o_totalprice, 2) OVER
             (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderpriority, o_totalprice, o_orderkey
""",
    doc="Window distribution functions (percent_rank, cume_dist, "
    "nth_value). One shuffle on the partition key; the order-by total "
    "is per-partition, never global.",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.nth_value("o_totalprice", 2).over(wrows), 2).alias("second_price"),
    ).orderBy("o_orderpriority", "o_totalprice", "o_orderkey")


# --------------------------------------------------------------------------
# Hypertable-style time rollup.
# --------------------------------------------------------------------------
@register(
    "events_hourly_rollup",
    oracle="""
WITH e AS (
  SELECT strftime(date_trunc('day',  ts), '%Y-%m-%d %H:%M:%S') AS day,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         value
  FROM events
)
SELECT day, hour, CAST(GROUPING(day, hour) AS BIGINT) AS gid,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM e GROUP BY ROLLUP(day, hour)
ORDER BY gid, day, hour
""",
    doc="Hypertable-style continuous-aggregate rollup: hour -> day -> "
    "grand total in one pass (ROLLUP = Expand + single hash agg). "
    "This is the batch shape of a streaming hourly materialized view; "
    "at 100 TB partition the sink by day for pruned reads.",
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss").alias("day"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "value",
    )
    return (
        e.rollup("day", "hour")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("gid", "day", "hour")
    )


@register(
    "subq_lateral_top2",
    oracle="""
SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
ORDER BY n.n_name, c_acctbal DESC, c_name
""",
    doc="Correlated LATERAL subquery (SQL:1999 lateral derived "
    "table): per nation, the two richest customers. Catalyst "
    "DECORRELATES the lateral ORDER BY .. LIMIT 2 into a "
    "rank-per-group plan (join + WindowGroupLimit) rather than "
    "re-executing the subquery once per outer row — the plan is the "
    "same per-group top-k shape as window_topk_per_group, so it "
    "scales with one shuffle on the join key, not |nation| rescans "
    "of customer. Demonstrates the SQL-surface route to the "
    "pattern; ties broken by c_name on both engines.",
)
def subq_lateral_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_lateral"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_lateral"
    )
    return spark.sql("""
        SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS c_acctbal
        FROM nation_lateral n
        JOIN LATERAL (
          SELECT c_name, c_acctbal FROM customer_lateral c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) t
        ORDER BY n.n_name, c_acctbal DESC, c_name
    """)


@register(
    "subq_not_in_null_trap",
    oracle="""
WITH inner_keys AS (
  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
              ELSE o_custkey END AS k
  FROM orders
)
SELECT
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT k FROM inner_keys)) AS not_in_count,
  (SELECT COUNT(*) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM inner_keys i WHERE i.k = c.c_custkey))
    AS not_exists_count
""",
    doc="The NOT IN null trap, executed identically on both engines: "
    "the inner key set contains NULLs (status-P orders), so "
    "`x NOT IN (...)` is never TRUE under SQL ternary logic — the "
    "NOT IN count collapses to 0 — while the NOT EXISTS "
    "formulation (null-safe anti-join) returns the customers who "
    "really have no orders. Spark plans NOT-IN as "
    "BroadcastNestedLoopJoin precisely because of this "
    "null-comparison semantics (it cannot hash on a maybe-null "
    "match), and NOT EXISTS as a hash anti-join — the single "
    "biggest silent-correctness + performance reason to rewrite "
    "NOT IN at scale. Both counts in one row prove both semantics.",
)
def subq_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_nin"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_nin"
    )
    return spark.sql("""
        WITH inner_keys AS (
          SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                      ELSE o_custkey END AS k
          FROM orders_nin
        )
        SELECT
          (SELECT COUNT(*) FROM customer_nin
           WHERE c_custkey NOT IN (SELECT k FROM inner_keys))
            AS not_in_count,
          (SELECT COUNT(*) FROM customer_nin c
           WHERE NOT EXISTS (SELECT 1 FROM inner_keys i
                             WHERE i.k = c.c_custkey))
            AS not_exists_count
    """)
