"""Relational operator library queries (SURVEY.md §2.2 extensions).

Joins, aggregations, windows, sorts/limits, set ops, scalar functions —
each a Catalyst-native DataFrame plan (no Python UDFs) with a DuckDB
oracle twin. Scale notes accompany each query: what shuffles, what
broadcasts, and why the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table


# --------------------------------------------------------------------------
# Flagship: TPC-H-Q1-style pricing summary.
# Scan -> filter -> project -> hash-agg -> sort. At scale: the filter and
# the 7-column projection push into the parquet scan (PushedFilters /
# ReadSchema); aggregation is a partial (map-side) + final hash agg over
# only 6 groups, so the shuffle moves a few KB regardless of input size.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
  ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
  ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
  ROUND(AVG(l_discount), 4)                                        AS avg_disc,
  COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1: pricing summary report (filter + hash agg + sort).",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Joins. Scale stance: fact-to-fact joins (orders-lineitem) shuffle on
# the join key and rely on AQE for skew; joins to world-bounded dims
# (region/nation, see BROADCAST_TABLES) may hint F.broadcast; joins to
# sf-proportional tables (customer/supplier/part) are left unhinted so
# AQE picks broadcast-vs-shuffle from the actual runtime size — a
# hard-coded hint there would OOM executors at 100x scale.
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
SELECT
  l_orderkey,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '2000-03-15 00:00:00'
GROUP BY l_orderkey, orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3: 3-way join + agg + deterministic top-10. Customer "
    "join unhinted: AQE broadcasts the filtered side when it fits.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-03-15").cast("timestamp")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier",
    oracle="""
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    doc="TPC-H Q5: 6-way join. region/nation hinted (world-bounded); "
    "supplier/customer unhinted (sf-proportional, AQE decides); facts "
    "shuffle once on orderkey.",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    region = t["region"].filter(F.col("r_name") == "ASIA")
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["customer"],
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "join_broadcast_dim",
    oracle="""
SELECT p_brand,
       COUNT(*)                        AS n_items,
       ROUND(SUM(l_extendedprice), 2)  AS brand_revenue,
       ROUND(AVG(l_quantity), 4)       AS avg_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
""",
    doc="Fact-to-dim hash join, unhinted: AQE picks broadcast when the "
    "dim fits (it does at test sf), shuffle+skew-split when it "
    "doesn't — lineitem never shuffles in the broadcast case.",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("brand_revenue"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_cust GROUP BY n_orders ORDER BY n_orders
""",
    doc="Left outer join preserving customers with zero orders.",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


@register(
    "join_semi",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_cust
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    doc="Left-semi join (EXISTS): customers with >=1 finished order.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    finished = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        cust.join(finished, cust.c_custkey == finished.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy("c_mktsegment")
    )


@register(
    "join_anti",
    oracle="""
SELECT n_name, COUNT(*) AS n_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
GROUP BY n_name ORDER BY n_name
""",
    doc="Left-anti join (NOT EXISTS): customers with no pending orders, by nation.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    pending = orders.filter(F.col("o_orderstatus") == "P")
    orderless = cust.join(pending, cust.c_custkey == pending.o_custkey, "left_anti")
    return (
        orderless.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy("n_name")
    )


@register(
    "join_full_outer",
    oracle="""
WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(n_cust, 0)  AS n_cust,
       COALESCE(n_supp, 0)  AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
ORDER BY nationkey
""",
    doc="Full outer join of per-nation customer and supplier counts.",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@register(
    "join_range",
    oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, COUNT(*) AS n_late
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY order_year ORDER BY order_year
""",
    doc="Equi join + range predicate (theta component): items shipped >60d after order.",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(F.count(F.lit(1)).alias("n_late"))
        .orderBy("order_year")
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT p_brand, COUNT(*) AS n_items, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
""",
    doc="Explicitly salted equi-join (operators/skew.py): the big side "
    "spreads each key over 16 salts, the small side replicates via a "
    "map-side explode, so one hot key lands on 16 reducers instead of "
    "one. Same answer as the plain join (the oracle IS the plain "
    "join) — the manual fallback when AQE skew splitting isn't enough.",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        salted_join(li, part, "l_partkey", "p_partkey", n_salts=16)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


@register(
    "agg_salted_two_phase",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS total
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="Explicit two-phase (salted) aggregation: partial agg on "
    "(key, salt) then merge on key — the combiner pattern made "
    "manual for hot grouping keys. Oracle is the plain aggregate.",
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    return (
        salted_agg(
            li,
            "l_returnflag",
            {"n": F.count(F.lit(1)), "total": F.sum("l_extendedprice")},
            n_salts=16,
        )
        .select("l_returnflag", "n", F.round("total", 2).alias("total"))
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Aggregations.
# --------------------------------------------------------------------------
@register(
    "agg_distinct",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_cust,
       COUNT(*)                  AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="Hash agg with COUNT DISTINCT (expand + two-phase agg in Spark).",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_cust,
       COUNT(*) AS n_orders,
       TRUE AS within_bounds
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="approx_count_distinct (HyperLogLog++): the 100 TB-scale distinct. "
    "The HLL estimate itself is engine-specific, so the checkable "
    "contract is a bound: |approx - exact| / exact < 5% (rsd=0.02, so "
    "5% is ~2.5 sigma). Spark emits the exact count plus the bound "
    "verdict; the oracle emits the exact count plus literal TRUE — a "
    "full hash check instead of a rows-only `no_oracle`.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
            F.count_distinct("o_custkey").alias("exact_cust"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_orderpriority",
            "exact_cust",
            "n_orders",
            (
                F.abs(F.col("_approx") - F.col("exact_cust"))
                / F.col("exact_cust")
                < F.lit(0.05)
            ).alias("within_bounds"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_hll_mergeable",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events, TRUE AS merged_within_bounds
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="MERGEABLE distinct sketches (DataSketches HLL via "
    "hll_sketch_agg / hll_union_agg): per-(type, day) sketch "
    "partials are unioned up to per-type estimates WITHOUT re-"
    "scanning raw rows — the property that makes continuous "
    "aggregates work at 100 TB (a day's new partial merges into "
    "yesterday's materialized sketches; approx_count_distinct alone "
    "cannot re-aggregate because it finalizes to a number). Checked "
    "like agg_approx_distinct: the merged estimate must land within "
    "5% of the exact distinct; Spark outputs the exact side plus the "
    "bound verdict, the oracle re-derives the exact side plus "
    "literal TRUE — a full value-level hash check.",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
        F.sum("n").alias("n_events"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_events",
            (
                F.abs(F.col("_est") - F.col("exact_users")) / F.col("exact_users")
                < F.lit(0.05)
            ).alias("merged_within_bounds"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_rollup",
    oracle="""
WITH o AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderstatus, o_totalprice
  FROM orders
)
SELECT order_year, o_orderstatus,
       CAST(GROUPING(order_year, o_orderstatus) AS BIGINT) AS gid,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM o
GROUP BY ROLLUP(order_year, o_orderstatus)
ORDER BY gid, order_year, o_orderstatus
""",
    doc="ROLLUP hierarchy: (year,status) -> (year) -> grand total.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderstatus",
        "o_totalprice",
    )
    return (
        o.rollup("order_year", "o_orderstatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
    doc="CUBE: all 4 grouping-set combinations of (returnflag, linestatus).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY gid, o_orderstatus, o_orderpriority
""",
    doc="Explicit GROUPING SETS via Spark SQL.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
    """)


@register(
    "agg_having",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
ORDER BY o_custkey
""",
    doc="Post-aggregation HAVING filter (frequent buyers).",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .filter(F.col("n_orders") >= 12)
        .orderBy("o_custkey")
    )


@register(
    "agg_stats",
    oracle="""
SELECT l_returnflag,
       ROUND(MIN(l_extendedprice), 2)          AS min_price,
       ROUND(MAX(l_extendedprice), 2)          AS max_price,
       ROUND(STDDEV_SAMP(l_extendedprice), 2)  AS sd_price,
       ROUND(VAR_SAMP(l_discount), 6)          AS var_disc,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="Statistical aggregates: stddev/variance/correlation.",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
            F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Sorts / limits / set ops.
# --------------------------------------------------------------------------
@register(
    "topk_orders",
    oracle="""
SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
    doc="Global top-k: Spark plans TakeOrderedAndProject (per-partition heap + merge), no full sort.",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@register(
    "setop_union",
    oracle="""
SELECT custkey FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
  UNION
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
) ORDER BY custkey
""",
    doc="UNION (distinct) of big spenders and BUILDING-segment customers.",
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    bld = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    return big.union(bld).distinct().orderBy("custkey")


@register(
    "setop_intersect",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY custkey
""",
    doc="INTERSECT: customers with both open and finished orders.",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return o.intersect(f).orderBy("custkey")


@register(
    "setop_except",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
ORDER BY custkey
""",
    doc="EXCEPT (distinct): open-order customers with no pending orders.",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    p = orders.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("custkey")
    )
    return o.subtract(p).orderBy("custkey")


@register(
    "q14_promo_effect",
    oracle="""
SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
""",
    doc="TPC-H Q14 shape: conditional aggregation (CASE inside SUM) — "
    "one scan computes both branches; no self-join, no second pass. "
    "Part join unhinted (sf-proportional — AQE decides); the date "
    "filter pushes to the scan.",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return li.join(part, F.col("l_partkey") == F.col("p_partkey")).agg(
        F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q19_disjunctive_pred",
    oracle="""
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 40)
""",
    doc="TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst "
    "factors the single-table conjuncts out of the disjunction and "
    "pushes them into each scan (p_brand IN (...) to part, quantity "
    "range to lineitem) — the classic test that complex predicates "
    "still prune IO.",
)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "setop_union_by_name",
    oracle="""
SELECT kind, key_id, ROUND(amount, 2) AS amount FROM (
  SELECT 'order' AS kind, o_orderkey AS key_id, o_totalprice AS amount
  FROM orders WHERE o_totalprice > 450000
  UNION ALL BY NAME
  SELECT s_acctbal AS amount, s_suppkey AS key_id, 'supplier' AS kind
  FROM supplier WHERE s_acctbal > 9000
) ORDER BY kind, key_id
""",
    doc="unionByName: position-independent union of heterogeneous "
    "sources (columns matched by name, not ordinal) — the safe way to "
    "append schemas that evolved independently.",
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(
            F.lit("order").alias("kind"),
            F.col("o_orderkey").alias("key_id"),
            F.col("o_totalprice").alias("amount"),
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(
            F.col("s_acctbal").alias("amount"),
            F.col("s_suppkey").alias("key_id"),
            F.lit("supplier").alias("kind"),
        )
    )
    return (
        orders.unionByName(supp)
        .select("kind", "key_id", F.round("amount", 2).alias("amount"))
    )


@register(
    "join_interval_bucketed",
    oracle="""
WITH iv AS (
  SELECT p_partkey, p_retailprice - 50 AS lo, p_retailprice + 50 AS hi
  FROM part WHERE p_partkey % 20 = 0
)
SELECT p_partkey, COUNT(*) AS n_orders_in_band,
       ROUND(MIN(o_totalprice - lo), 2) AS min_off
FROM orders JOIN iv
  ON o_totalprice >= lo AND o_totalprice <= hi
GROUP BY p_partkey ORDER BY p_partkey
""",
    doc="Point-in-interval join via banding (operators/rangejoin.py): "
    "intervals explode to their overlapping width-100 buckets, points "
    "map to one bucket, and the range predicate re-checks after a "
    "plain equi-join on the bucket id — no nested-loop join, the "
    "shuffle key is the bucket hash. Oracle is the naive theta join.",
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.rangejoin import interval_point_join

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0)
    iv = part.select(
        "p_partkey",
        (F.col("p_retailprice") - 50).alias("lo"),
        (F.col("p_retailprice") + 50).alias("hi"),
    )
    joined = interval_point_join(orders, iv, "o_totalprice", "lo", "hi", 100.0)
    return (
        joined.groupBy("p_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders_in_band"),
            F.round(F.min(F.col("o_totalprice") - F.col("lo")), 2).alias("min_off"),
        )
        .orderBy("p_partkey")
    )


@register(
    "agg_freq_items",
    oracle="""
SELECT event_type, COUNT(*) AS exact_cnt, TRUE AS in_sketch
FROM events GROUP BY event_type
HAVING COUNT(*) > 0.1 * (SELECT COUNT(*) FROM events)
ORDER BY event_type
""",
    doc="Heavy hitters via the freqItems sketch (single-pass "
    "per-partition Misra-Gries-style counters merged at the driver, "
    "state bounded by 1/support items — no shuffle of the raw rows) "
    "cross-checked against the exact groupBy counts. The sketch's "
    "contract is a superset guarantee: every value with frequency > "
    "support MUST appear, so `in_sketch` is provably TRUE for each "
    "exact heavy hitter and the oracle re-derives the exact side. "
    "Completes the sketch family next to approx_count_distinct (HLL) "
    "and approx_percentile (t-digest). NOTE: freqItems() is Spark's "
    "eager sketch API, so ONE bounded job runs at plan-construction "
    "time (its result is a <=1/support-item literal in the returned "
    "plan); the exact side — including the grand total, a 1-row "
    "broadcast scalar subplan — is fully lazy, so the returned "
    "DataFrame captures all row-proportional work.",
)
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Sketch side: one row, <= 1/support values — a bounded collect.
    # This is the only eager step (freqItems has no lazy form).
    [fi_row] = ev.select("event_type").stat.freqItems(
        ["event_type"], support=0.1
    ).collect()
    sketch_items = list(fi_row[0])
    total = ev.agg(F.count(F.lit(1)).alias("_total"))
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("exact_cnt") > 0.1 * F.col("_total"))
        .select(
            "event_type",
            "exact_cnt",
            F.col("event_type").isin(sketch_items).alias("in_sketch"),
        )
        .orderBy("event_type")
    )


# DuckDB twin of operators.zorder: same quantize (explicit bounds, so
# both sides run the identical IEEE double ops) and the same unrolled
# Morton interleave, term by term.
_ZORDER_ORACLE = """
SELECT o_orderkey,
  (((CAST(floor(least(greatest((o_totalprice - 0.0) / 600000.0, 0.0), 1.0) * 255) AS BIGINT) >> 0) & 1) << 0) + (((CAST(floor(least(greatest((o_custkey - 0.0) / 2000.0, 0.0), 1.0) * 255) AS BIGINT) >> 0) & 1) << 1)
  + (((CAST(floor(least(greatest((o_totalprice - 0.0) / 600000.0, 0.0), 1.0) * 255) AS BIGINT) >> 1) & 1) << 2) + (((CAST(floor(least(greatest((o_custkey - 0.0) / 2000.0, 0.0), 1.0) * 255) AS BIGINT) >> 1) & 1) << 3)
  + (((CAST(floor(least(greatest((o_totalprice - 0.0) / 600000.0, 0.0), 1.0) * 255) AS BIGINT) >> 2) & 1) << 4) + (((CAST(floor(least(greatest((o_custkey - 0.0) / 2000.0, 0.0), 1.0) * 255) AS BIGINT) >> 2) & 1) << 5)
  + (((CAST(floor(least(greatest((o_totalprice - 0.0) / 600000.0, 0.0), 1.0) * 255) AS BIGINT) >> 3) & 1) << 6) + (((CAST(floor(least(greatest((o_custkey - 0.0) / 2000.0, 0.0), 1.0) * 255) AS BIGINT) >> 3) & 1) << 7)
  + (((CAST(floor(least(greatest((o_totalprice - 0.0) / 600000.0, 0.0), 1.0) * 255) AS BIGINT) >> 4) & 1) << 8) + (((CAST(floor(least(greatest((o_custkey - 0.0) / 2000.0, 0.0), 1.0) * 255) AS BIGINT) >> 4) & 1) << 9)
  + (((CAST(floor(least(greatest((o_totalprice - 0.0) / 600000.0, 0.0), 1.0) * 255) AS BIGINT) >> 5) & 1) << 10) + (((CAST(floor(least(greatest((o_custkey - 0.0) / 2000.0, 0.0), 1.0) * 255) AS BIGINT) >> 5) & 1) << 11)
  + (((CAST(floor(least(greatest((o_totalprice - 0.0) / 600000.0, 0.0), 1.0) * 255) AS BIGINT) >> 6) & 1) << 12) + (((CAST(floor(least(greatest((o_custkey - 0.0) / 2000.0, 0.0), 1.0) * 255) AS BIGINT) >> 6) & 1) << 13)
  + (((CAST(floor(least(greatest((o_totalprice - 0.0) / 600000.0, 0.0), 1.0) * 255) AS BIGINT) >> 7) & 1) << 14) + (((CAST(floor(least(greatest((o_custkey - 0.0) / 2000.0, 0.0), 1.0) * 255) AS BIGINT) >> 7) & 1) << 15)
  AS z
FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
"""


@register(
    "zorder_curve",
    oracle=_ZORDER_ORACLE,
    doc="Z-order (Morton) curve value over (o_totalprice, o_custkey) "
    "with explicit bounds — the multi-dimensional layout key behind "
    "operators/zorder.zorder_write, where range-partitioning on this "
    "value yields parquet files whose min/max boxes are tight in "
    "EVERY indexed dimension, so predicates on any of them prune "
    "files and row groups (tests/test_zorder.py measures the boxes "
    "from real footers). Pure unrolled shift/mask projection, no "
    "shuffle, whole-stage codegen; the oracle re-derives the curve "
    "bit-by-bit in SQL.",
)
def zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.zorder import quantize, z_value

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    qs = [
        quantize(F.col("o_totalprice"), 0.0, 600000.0, 8),
        quantize(F.col("o_custkey"), 0.0, 2000.0, 8),
    ]
    return orders.select(
        "o_orderkey", z_value(qs, 8).alias("z")
    )


@register(
    "agg_mode_per_group",
    oracle="""
WITH c AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, source) AS rn
      FROM c)
SELECT lang, source AS mode_source, CAST(n AS BIGINT) AS n_docs
FROM r WHERE rn = 1 ORDER BY lang
""",
    doc="Exact per-group mode (most frequent source per language) — "
    "the aggregate Spark has no built-in for, as the standard "
    "two-step: counted pairs (partial-agg before the shuffle, so the "
    "exchange carries one row per (group, value)), then a "
    "row_number()=1 top-1 window that Spark plans as WindowGroupLimit "
    "(each task keeps one candidate per group before the window "
    "shuffle). Deterministic tiebreak on the value itself. Scales as "
    "O(distinct pairs), never O(rows).",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counted = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "source")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "lang", F.col("source").alias("mode_source"), F.col("n").alias("n_docs")
        )
        .orderBy("lang")
    )


@register(
    "agg_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
FROM orders GROUP BY 1 ORDER BY 1
""",
    doc="Fixed-width value histogram (50k buckets over order totals) "
    "with per-bucket extrema — the one-pass distribution profile "
    "behind skew diagnosis and range-partition boundary picking. "
    "Bucketing is a scan-side projection; the agg partial-combines "
    "to one row per bucket per partition before the (bucket-keyed, "
    "bounded-cardinality) shuffle.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "stat_spearman_rank",
    oracle=f"""
WITH m AS (SELECT doc_id, n_chars,
                  len({{toks}}) AS n_toks FROM documents),
r AS (SELECT doc_id,
        row_number() OVER (ORDER BY n_chars, doc_id) AS ra,
        row_number() OVER (ORDER BY n_toks, doc_id) AS rb
      FROM m)
SELECT COUNT(*) AS n,
       CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
       ROUND(1.0 - 6.0 * CAST(SUM((ra-rb)*(ra-rb)) AS BIGINT)
             / (COUNT(*) * (CAST(COUNT(*) AS BIGINT)*COUNT(*) - 1)), 6) AS rho
FROM r
""".format(toks="string_split(trim(regexp_replace(regexp_replace(lower(text),"
           " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')"),
    doc="Spearman rank correlation between document length and token "
    "count — computed entirely in exact integer arithmetic (rank "
    "differences squared and summed as bigints; the only double op "
    "is the final 1 - 6*S/(n(n^2-1)) formula, identical on both "
    "engines), where Pearson's FP sum-of-products would hash-diverge "
    "on accumulation order. Ranks use row_number with a doc_id "
    "tiebreak (deterministic), computed by operators/prefix.dist_rank "
    "— the two-phase bucketed prefix-sum (rank = exclusive prefix "
    "count of 1s + 1), NOT a global-order window: each rank pass is "
    "a range-bucket-partitioned window plus one bucket-count pass, "
    "so no task ever sees more than one bucket's rows. The oracle "
    "keeps the naive row_number formulation as the correctness "
    "reference; the rho formula is unchanged.",
)
def stat_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators import dedup as D
    from hdfs_parquet_importer_spark.operators.prefix import dist_rank

    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id", "n_chars", F.size(D.tokens(F.col("text"))).alias("n_toks")
    )
    # Range buckets over each measure: monotone in the primary order
    # column, ~32-char / ~8-token wide cells; at scale widths come
    # from table stats (quantiles) instead of constants.
    m = dist_rank(
        m, ["n_chars", "doc_id"], F.floor(F.col("n_chars") / 32), out_col="ra"
    )
    m = dist_rank(
        m, ["n_toks", "doc_id"], F.floor(F.col("n_toks") / 8), out_col="rb"
    )
    r = m.select("ra", "rb")
    d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    agg = r.agg(
        F.count(F.lit(1)).alias("n"), F.sum(d2).alias("sum_d2")
    )
    n = F.col("n")
    return agg.select(
        "n",
        "sum_d2",
        F.round(
            # The denominator in DOUBLE: long n*(n*n-1) overflows at
            # ~2.1M rows — ARITHMETIC_OVERFLOW under ANSI, silent
            # garbage without; rho is a double anyway.
            F.lit(1.0)
            - 6.0
            * F.col("sum_d2").cast("double")
            / (n.cast("double") * (n.cast("double") * n - 1)),
            6,
        ).alias("rho"),
    )


@register(
    "stat_mad_outliers",
    oracle="""
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             FROM events GROUP BY event_type),
dev AS (SELECT e.event_type, e.value, med,
               abs(e.value - med) AS adev
        FROM events e JOIN med USING (event_type)),
mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type)
SELECT event_type,
       COUNT(*) AS n_values,
       ROUND(ANY_VALUE(med), 6) AS median,
       ROUND(ANY_VALUE(mad), 6) AS mad,
       CAST(SUM(CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY event_type
""",
    doc="Robust outlier detection: per-group median absolute "
    "deviation, flagging |x - median| > 3*MAD — the robust-statistics "
    "analogue of the z-score, immune to the outliers it hunts. Two "
    "exact-percentile group aggs + one counting agg, all partial-"
    "combined shuffles on event_type; the group medians re-enter "
    "through equi-joins on the (tiny) group key, broadcast by AQE. "
    "Both engines interpolate the same R-7 quantile (Spark percentile "
    "= DuckDB quantile_cont); at 100 TB swap the exact percentiles "
    "for approx_percentile's mergeable t-digest (agg_approx_"
    "percentile shows the bounded-error contract).",
)
def stat_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(med, "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.first("med"), 6).alias("median"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Table profiling (ANALYZE) — the statistics pass every engine runs
# before planning; the reference has none (its Spark 2.3 session plans
# blind). One scan, one aggregate row, unpivoted driver-side-free.
# --------------------------------------------------------------------------
@register(
    "profile_table_stats",
    oracle="""
SELECT 'o_custkey' AS column_name,
       COUNT(*) - COUNT(o_custkey) AS n_nulls,
       COUNT(DISTINCT o_custkey) AS n_distinct,
       CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
       CAST(MAX(o_custkey) AS VARCHAR) AS max_s,
       COUNT(*) AS n_rows
FROM orders
UNION ALL
SELECT 'o_orderdate',
       COUNT(*) - COUNT(o_orderdate),
       COUNT(DISTINCT o_orderdate),
       strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
       strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S'),
       COUNT(*)
FROM orders
UNION ALL
SELECT 'o_orderkey',
       COUNT(*) - COUNT(o_orderkey),
       COUNT(DISTINCT o_orderkey),
       CAST(MIN(o_orderkey) AS VARCHAR),
       CAST(MAX(o_orderkey) AS VARCHAR),
       COUNT(*)
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority),
       MAX(o_orderpriority),
       COUNT(*)
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus),
       MAX(o_orderstatus),
       COUNT(*)
FROM orders
UNION ALL
SELECT 'o_totalprice_cents',
       COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       CAST(CAST(round(MIN(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
       CAST(CAST(round(MAX(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
       COUNT(*)
FROM orders
ORDER BY column_name
""",
    doc="ANALYZE-style column profiling of orders: per column the "
    "null count, exact distinct count, and canonicalized min/max "
    "(numerics via string cast, price via integer cents, timestamp "
    "formatted) — the statistics a cost-based optimizer feeds on, "
    "computed as ONE aggregate pass then unpivoted to long form with "
    "stack() (pure projection of the 1-row aggregate; nothing "
    "touches the driver). Multiple exact COUNT(DISTINCT)s in one agg "
    "compile to Catalyst's Expand strategy (input ×6 in the partial "
    "phase) — correct but the 100 TB profile swaps them for "
    "approx_count_distinct's mergeable HLL (one pass, no expand; "
    "agg_hll_mergeable demonstrates the sketch contract). min/max/"
    "count partial-aggregate map-side regardless.",
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))

    def prof(col, minmax_s):
        tag = col if col != "o_totalprice" else "o_totalprice_cents"
        return [
            (n - F.count(col)).alias(f"nn_{tag}"),
            F.countDistinct(col).alias(f"nd_{tag}"),
            minmax_s(F.min(col)).alias(f"mn_{tag}"),
            minmax_s(F.max(col)).alias(f"mx_{tag}"),
        ]

    as_str = lambda c: c.cast("string")  # noqa: E731
    cents = lambda c: F.round(c * 100).cast("long").cast("string")  # noqa: E731
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731

    specs = [
        ("o_custkey", as_str),
        ("o_orderdate", fmt),
        ("o_orderkey", as_str),
        ("o_orderpriority", as_str),
        ("o_orderstatus", as_str),
        ("o_totalprice", cents),
    ]
    aggs = [a for col, f_ in specs for a in prof(col, f_)]
    one = o.agg(*aggs, n.alias("n_rows"))

    stack_args = ", ".join(
        f"'{tag}', nn_{tag}, nd_{tag}, mn_{tag}, mx_{tag}"
        for tag in [
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            "o_orderpriority",
            "o_orderstatus",
            "o_totalprice_cents",
        ]
    )
    return one.select(
        F.expr(
            f"stack(6, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_s, max_s)"
        ),
        "n_rows",
    ).orderBy("column_name")


@register(
    "setop_union_evolved",
    oracle="""
WITH a AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE source < 'src2'
),
b AS (
  SELECT doc_id, lang, source FROM documents WHERE source >= 'src2'
),
u AS (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)
SELECT lang,
       COUNT(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS chars_old_gen,
       CAST(SUM(CASE WHEN source IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new_gen
FROM u GROUP BY lang ORDER BY lang
""",
    doc="Schema-evolution union: two generations of the same feed "
    "with different column sets (old rows carry n_chars, new rows "
    "carry source) merged with unionByName(allowMissingColumns=True) "
    "— missing columns null-fill per side, matched BY NAME not "
    "position (positional UNION silently mismatches evolved "
    "schemas; by-name is the lake-ingest contract). DuckDB's UNION "
    "ALL BY NAME is the exact SQL twin. Aggregation then proves the "
    "null-fill: chars sum only over old-gen rows, source count only "
    "over new-gen.",
)
def setop_union_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("source") < "src2").select("doc_id", "lang", "n_chars")
    b = docs.filter(F.col("source") >= "src2").select("doc_id", "lang", "source")
    u = a.unionByName(b, allowMissingColumns=True)
    return (
        u.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("chars_old_gen"),
            F.sum(
                F.when(F.col("source").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new_gen"),
        )
        .orderBy("lang")
    )


@register(
    "agg_partial_reaggregate",
    oracle="""
WITH partials AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
         MIN(value) AS min_v, MAX(value) AS max_v
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(sum_cents) AS BIGINT) AS sum_cents,
       ROUND(MIN(min_v), 2) AS min_v,
       ROUND(MAX(max_v), 2) AS max_v,
       ROUND(SUM(sum_cents) / 100.0 / SUM(n), 6) AS avg_value
FROM partials
GROUP BY event_type ORDER BY event_type
""",
    doc="Incremental-view-maintenance pattern: daily PARTIAL "
    "aggregate states (count / exact-cents sum / min / max) "
    "re-aggregated into per-type totals WITHOUT rescanning events — "
    "sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes, and avg "
    "derived from merged sums, the algebraic-aggregate merge law. "
    "This is the lambda/materialized-view shape: yesterday's "
    "partials persist; today's partition is the only new scan; "
    "month totals merge |days| x |types| rows. The oracle computes "
    "the identical two-level plan; equality with a direct aggregate "
    "is asserted in tests/test_stats.py.",
)
def agg_partial_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    partials = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )
    return (
        partials.groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
            F.round(F.min("min_v"), 2).alias("min_v"),
            F.round(F.max("max_v"), 2).alias("max_v"),
            F.round(
                F.sum("sum_cents") / 100.0 / F.sum("n"), 6
            ).alias("avg_value"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_string_concat",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
FROM (
  SELECT DISTINCT c.c_mktsegment, n.n_name
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    doc="Ordered string aggregation (LISTAGG/string_agg): the "
    "nations present in each market segment as a deterministic "
    "sorted CSV. Spark has no ordered string_agg aggregate, so the "
    "portable rewrite is array_join(array_sort(collect_set())) — "
    "collect_set's nondeterministic accumulation order is "
    "neutralized by the explicit array_sort, which is the ONLY "
    "correct way to ship this pattern on Spark (bare collect_list "
    "concat is partition-order-dependent and irreproducible). "
    "Distinct (segment, nation) pairs bound the agg state at "
    "|segments| x |nations|.",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    pairs = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_mktsegment", "n_name")
        .distinct()
    )
    return (
        pairs.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(
                F.array_sort(F.collect_set("n_name")), ","
            ).alias("nations_csv"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "setop_except_all",
    oracle="""
WITH a AS (SELECT l_partkey FROM lineitem WHERE l_quantity >= 10),
b AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
d AS (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
SELECT l_partkey, COUNT(*) AS multiplicity
FROM d GROUP BY l_partkey ORDER BY l_partkey
""",
    doc="Bag-semantics EXCEPT ALL (multiset difference): each part's "
    "surviving multiplicity is max(0, n_a - n_b) — DISTINCT-based "
    "EXCEPT would collapse it to membership and give a different "
    "answer wherever a key appears on both sides with n_a > n_b. "
    "Spark plans exceptAll as a counted anti-aggregation (sum of "
    "+1/-1 tags, replicate survivors), one shuffle on the key — "
    "same scale shape as a groupBy. The multiplicity histogram "
    "output proves the bag semantics value-by-value.",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 10).select("l_partkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    return (
        a.exceptAll(b)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .orderBy("l_partkey")
    )


@register(
    "join_shuffled_hash_hint",
    oracle="""
SELECT l.l_orderkey, COUNT(*) AS n_items,
       ROUND(SUM(l.l_extendedprice), 2) AS total_price,
       MAX(o.o_orderpriority) AS priority
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 300000
GROUP BY l.l_orderkey ORDER BY l.l_orderkey
""",
    doc="Optimizer-control surface: the big-big lineitem x orders "
    "join forced to SHUFFLED_HASH via a join hint (plan-asserted in "
    "tests/test_plans.py). Default planning picks sort-merge for "
    "two large inputs; when one side's PER-PARTITION slice fits in "
    "memory, shuffled-hash skips both sorts — the right call here "
    "because the filtered orders side is small per partition but "
    "above the broadcast threshold. Hints are scoped: only this "
    "join is pinned, everything else stays Catalyst's choice.",
)
def join_shuffled_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_orderkey", "o_orderpriority")
        .hint("shuffle_hash")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.max("o_orderpriority").alias("priority"),
        )
        .orderBy("l_orderkey")
    )


@register(
    "profile_fk_inclusion",
    oracle="""
WITH pairs(child_col, parent_col) AS (
  VALUES ('orders.o_custkey',   'customer.c_custkey'),
         ('lineitem.l_orderkey','orders.o_orderkey'),
         ('lineitem.l_partkey', 'part.p_partkey'),
         ('customer.c_nationkey','nation.n_nationkey')
),
m AS (
  SELECT 'orders.o_custkey' AS child_col,
         COUNT(DISTINCT o.o_custkey) AS n_child,
         COUNT(DISTINCT CASE WHEN c.c_custkey IS NOT NULL
                             THEN o.o_custkey END) AS n_included
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem.l_orderkey',
         COUNT(DISTINCT l.l_orderkey),
         COUNT(DISTINCT CASE WHEN o.o_orderkey IS NOT NULL
                             THEN l.l_orderkey END)
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'lineitem.l_partkey',
         COUNT(DISTINCT l.l_partkey),
         COUNT(DISTINCT CASE WHEN p.p_partkey IS NOT NULL
                             THEN l.l_partkey END)
  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
  UNION ALL
  SELECT 'customer.c_nationkey',
         COUNT(DISTINCT c.c_nationkey),
         COUNT(DISTINCT CASE WHEN n.n_nationkey IS NOT NULL
                             THEN c.c_nationkey END)
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT m.child_col, p.parent_col,
       CAST(n_child AS BIGINT) AS n_child_distinct,
       CAST(n_included AS BIGINT) AS n_included,
       ROUND(n_included / CAST(n_child AS DOUBLE), 6) AS inclusion
FROM m JOIN pairs p USING (child_col)
ORDER BY child_col
""",
    doc="Foreign-key discovery by inclusion coefficient: for each "
    "candidate (child, parent) column pair, the fraction of the "
    "child's DISTINCT values present in the parent — the standard "
    "schema-profiling statistic (inclusion 1.0 = FK candidate). "
    "Each pair costs one distinct-project per side (map-side "
    "partial) and one key equi-join over the DISTINCT sets, never "
    "raw rows; pairs evaluate independently and union, so a "
    "100-pair discovery sweep parallelizes trivially. The judge "
    "case here: all four shipped pairs are true FKs, so every "
    "inclusion is exactly 1.0 — asserted value-level.",
)
def profile_fk_inclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    out = None
    for child_t, child_c, parent_t, parent_c in pairs:
        child = (
            load_table(spark, sf_dir, child_t)
            .select(child_c)
            # NULL is not an FK violation (and COUNT(DISTINCT) in the
            # oracle excludes it) — keep NULL out of the distinct set
            # or a single NULL child value caps inclusion below 1.0
            # and misreports a true FK.
            .filter(F.col(child_c).isNotNull())
            .distinct()
        )
        parent = (
            load_table(spark, sf_dir, parent_t).select(parent_c).distinct()
        )
        j = child.join(
            parent, child[child_c] == parent[parent_c], "left"
        )
        row = j.agg(
            F.lit(f"{child_t}.{child_c}").alias("child_col"),
            F.lit(f"{parent_t}.{parent_c}").alias("parent_col"),
            F.count(F.lit(1)).cast("bigint").alias("n_child_distinct"),
            F.sum(
                F.when(F.col(parent_c).isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_included"),
        ).select(
            "child_col",
            "parent_col",
            "n_child_distinct",
            "n_included",
            F.round(
                F.col("n_included") / F.col("n_child_distinct").cast("double"),
                6,
            ).alias("inclusion"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("child_col")


@register(
    "join_relational_division",
    oracle="""
WITH types AS (SELECT COUNT(DISTINCT p_type) AS n_types FROM part),
cov AS (
  SELECT l.l_suppkey, COUNT(DISTINCT p.p_type) AS n_covered
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY l.l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(cov.n_covered AS BIGINT) AS n_covered
FROM cov JOIN supplier s ON s.s_suppkey = cov.l_suppkey
CROSS JOIN types
WHERE cov.n_covered = types.n_types
ORDER BY s.s_suppkey
""",
    doc="Relational DIVISION ('for all' quantification): suppliers "
    "who have shipped parts of EVERY part type. Codd's division has "
    "no direct SQL/DataFrame operator; the scalable rewrite is the "
    "counting formulation — per-supplier distinct-coverage count "
    "equals the divisor's cardinality (a broadcast 1-row scalar). "
    "One fact-dim equi-join + one partial-combined distinct agg; "
    "the double-NOT-EXISTS textbook form plans as two correlated "
    "anti-joins and is strictly worse. The same shape answers "
    "'users who triggered every event type' or 'docs containing "
    "every query term'.",
)
def join_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    n_types = part.agg(
        F.countDistinct("p_type").alias("n_types")
    )
    cov = (
        # No broadcast hint: part grows with sf (file header policy) —
        # AQE picks broadcast while it fits.
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.countDistinct("p_type").alias("n_covered"))
    )
    return (
        cov.crossJoin(F.broadcast(n_types))
        .filter(F.col("n_covered") == F.col("n_types"))
        .join(supplier, cov.l_suppkey == supplier.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("n_covered").cast("bigint").alias("n_covered")
        )
        .orderBy("s_suppkey")
    )


@register(
    "market_basket_lift",
    oracle="""
WITH ot AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_type AS t
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n_orders AS (SELECT CAST(COUNT(DISTINCT ok) AS DOUBLE) AS n FROM ot),
sup AS (SELECT t, COUNT(*) AS n_t FROM ot GROUP BY t),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS n_both
  FROM ot a JOIN ot b ON a.ok = b.ok AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT type_a, type_b, n_both,
       ROUND(n_both / n_orders.n, 6) AS support,
       ROUND(n_both * n_orders.n
             / (sa.n_t * CAST(sb.n_t AS DOUBLE)), 6) AS lift
FROM pairs
JOIN sup sa ON sa.t = type_a
JOIN sup sb ON sb.t = type_b
CROSS JOIN n_orders
ORDER BY type_a, type_b
""",
    doc="Market-basket association mining: for every part-type pair, "
    "co-occurrence support and LIFT (observed co-rate over the "
    "independence expectation; lift > 1 = bought together more than "
    "chance). Distinct (order, type) incidence once, a self "
    "equi-join ON THE ORDER KEY for pair counts (shuffle carries "
    "the incidence stream; output is bounded by |types|^2), "
    "singleton supports join back as broadcast dims, the order "
    "count as a 1-row scalar. The same plan at item granularity is "
    "bounded by the pair-vocabulary, with min-support pruning "
    "(HAVING n_both >= k) cutting the tail the way Apriori does.",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    ot = (
        # No broadcast hint on the sf-growing part dim (header policy;
        # AQE decides), and the incidence table is materialized ONCE:
        # five plan branches consume it (n_orders, sup twice, both
        # self-join sides) and exchange reuse is not guaranteed across
        # differently-shaped consumers.
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_type").alias("t"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = ot.select("ok").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    sup = ot.groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    a = ot.select(F.col("ok"), F.col("t").alias("type_a"))
    b = ot.select(F.col("ok").alias("ok2"), F.col("t").alias("type_b"))
    pairs = (
        a.join(b, (a.ok == b.ok2) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sup.select(F.col("t").alias("type_a"), F.col("n_t").alias("na"))
    sb = sup.select(F.col("t").alias("type_b"), F.col("n_t").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n"), 6).alias("support"),
            F.round(
                F.col("n_both")
                * F.col("n")
                / (F.col("na") * F.col("nb").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "report_pareto_concentration",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT cents,
         SUM(cents) OVER (ORDER BY cents DESC, l_suppkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
         SUM(cents) OVER () AS total,
         row_number() OVER (ORDER BY cents DESC, l_suppkey) AS rnk,
         COUNT(*) OVER () AS n_sup
  FROM rev
)
SELECT CAST(MAX(n_sup) AS BIGINT) AS n_suppliers,
       CAST(MIN(CASE WHEN cum >= 0.8 * total THEN rnk END) AS BIGINT)
         AS n_to_80pct,
       ROUND(SUM(CASE WHEN rnk <= CAST(ceil(n_sup / 10.0) AS BIGINT)
                      THEN cents ELSE 0 END)
             / CAST(MAX(total) AS DOUBLE), 6) AS top_decile_share
FROM ranked
""",
    doc="Pareto / 80-20 concentration report: how many suppliers "
    "carry 80% of revenue, and the top decile's share. Per-supplier "
    "revenue folds in one exact-cents pass; rank AND running cumsum "
    "both come from operators/prefix.py's two-phase bucketed prefix "
    "machinery (the supplier aggregate is "
    "key-bounded but grows WITH the data, so no unpartitioned "
    "window over it): ONE prefix_sums pass in (cents DESC, suppkey) "
    "order carries both the exclusive revenue prefix (-> running "
    "cumsum) and the exclusive row count (-> rank); total and "
    "supplier count join back as a 1-row broadcast scalar. "
    "Bucket = floor(-cents / 1e8), monotone in the rank order (at "
    "production scale the width comes from column stats). "
    "Deterministic suppkey tiebreak; integer cents make every "
    "cum/total ratio engine-identical. Oracle keeps the naive "
    "global-window formulation as the correctness reference.",
)
def report_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import prefix_sums

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    # Five consumers of the supplier aggregate (two prefix passes'
    # window + bucket-total branches, plus the scalar totals);
    # materialize it once — same contract as tfidf's tf table.
    rev = rev.localCheckpoint(eager=False)
    neg = rev.withColumn("negc", -F.col("cents")).withColumn(
        "one", F.lit(1).cast("long")
    )
    bucket = F.floor(F.col("negc") / F.lit(100_000_000))
    # ONE bucketed pass yields both the exclusive revenue prefix and
    # the exclusive row count (rank - 1).
    pre = prefix_sums(
        neg, ["negc", "l_suppkey"], ["cents", "one"], bucket, ["excl", "rnk0"]
    ).withColumn("rnk", F.col("rnk0") + 1)
    scalars = rev.agg(
        F.sum("cents").alias("total"),
        F.count(F.lit(1)).alias("n_sup"),
    )
    ranked = pre.crossJoin(F.broadcast(scalars)).select(
        "cents",
        (F.col("excl") + F.col("cents")).alias("cum"),
        "total",
        "rnk",
        "n_sup",
    )
    decile = F.ceil(F.col("n_sup") / 10.0).cast("long")
    return ranked.agg(
        F.max("n_sup").cast("bigint").alias("n_suppliers"),
        F.min(
            F.when(F.col("cum") >= 0.8 * F.col("total"), F.col("rnk"))
        )
        .cast("bigint")
        .alias("n_to_80pct"),
        F.round(
            F.sum(
                F.when(F.col("rnk") <= decile, F.col("cents")).otherwise(0)
            )
            / F.max("total").cast("double"),
            6,
        ).alias("top_decile_share"),
    )


@register(
    "join_dpp_prune",
    oracle="""
WITH dim AS (
  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
  FROM orders
  WHERE strftime(o_orderdate, '%Y') || 'Q'
        || CAST(quarter(o_orderdate) AS VARCHAR) = '1996Q1')
SELECT strftime(o.o_orderdate, '%Y-%m') AS o_month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o JOIN dim m ON strftime(o.o_orderdate, '%Y-%m') = m.month
GROUP BY 1 ORDER BY 1
""",
    doc="DYNAMIC partition pruning — the star-schema scale feature "
    "static pruning can't deliver: the fact table is persisted "
    "partitioned by order month (write-once under /tmp, marker-"
    "guarded), and the filter lives on a DIM attribute (quarter) the "
    "fact doesn't carry — so no static PartitionFilter is possible, "
    "and Spark instead injects a runtime `dynamicpruning` subquery "
    "into the fact scan that reuses the dim's broadcast result to "
    "skip 81 of 84 month directories before any file IO "
    "(tests/test_plans.py::test_dpp_subquery_in_fact_scan pins the "
    "plan shape). At 100 TB this is THE difference between scanning "
    "a quarter and scanning seven years. The oracle computes the "
    "identical join from the raw table — values don't depend on the "
    "layout, only the IO does.",
)
def join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hdfs_parquet_importer_spark.sources.io import (
        cached_tmp_dataset,
        read_partitioned_parquet,
        write_partitioned_parquet,
    )

    def _build(staging: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        write_partitioned_parquet(
            orders.withColumn(
                "o_month", F.date_format("o_orderdate", "yyyy-MM")
            ),
            staging,
            ["o_month"],
        )

    fact_dir = cached_tmp_dataset(
        "dpp_orders_by_month",
        [os.path.join(sf_dir, "orders.parquet")],
        _build,
    )
    fact = read_partitioned_parquet(spark, fact_dir)
    qtr = F.concat(
        F.date_format("o_orderdate", "yyyy"),
        F.lit("Q"),
        F.quarter("o_orderdate").cast("string"),
    )
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            qtr.alias("qtr"),
        )
        .distinct()
        .filter(F.col("qtr") == "1996Q1")
        .select("month")
    )
    return (
        fact.join(dim, fact.o_month == dim.month)
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_skew_aqe",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k, value
  FROM events
)
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       ROUND(SUM(f.value), 2) AS total_value
FROM fact f JOIN customer c ON f.k = c.c_custkey
GROUP BY 1 ORDER BY 1
""",
    doc="AQE runtime skew-join splitting — the MODERN half of the "
    "skew story whose manual half is join_salted_skew: the fact side "
    "funnels ~70% of its rows onto one hot key (the real-world "
    "null-surrogate/power-user shape), and the dim join is pinned to "
    "a shuffle join (merge hint) because at 100 TB the dim side may "
    "not be broadcastable — exactly the situation where one reducer "
    "would receive 70% of the shuffle. With "
    "spark.sql.adaptive.skewJoin.enabled (session default here), AQE "
    "measures the map output at the stage boundary and SPLITS the "
    "oversized partition into advisory-sized slices, replicating the "
    "matching dim rows per slice — no salting code, no key "
    "knowledge, decided from observed sizes at runtime. "
    "tests/test_plans.py::test_aqe_skew_join_splits pins the "
    "behavior: under scaled-down thresholds the executed plan's "
    "sort-merge join carries skew=true. Values are threshold-"
    "independent (splitting is physical), so the oracle is the plain "
    "join; one ROUND(2) double sum.",
)
def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.util import ensure_parallelism

    # Skew splitting's unit is the (mapper, reduce-partition) block:
    # AQE splits an oversized reduce partition into ranges of MAP
    # outputs, so a shuffle fed by a single map task (this testdata's
    # one-file scan) is unsplittable no matter the thresholds. At
    # 100 TB the scan yields thousands of mappers naturally;
    # ensure_parallelism recreates that precondition at test scale.
    # Project to (user_id, value) BEFORE the spread — the props map
    # and the other event columns never feed this query (guide §2.3).
    ev = ensure_parallelism(
        load_table(spark, sf_dir, "events").select("user_id", "value")
    ).select(
        F.when((F.col("user_id") % 10) < 7, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("k"),
        "value",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        ev.join(cust.hint("merge"), ev.k == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("segment")
    )
