"""Scalar function coverage: string / date / math / conditional /
array / JSON (SURVEY §2.2 rows "String functions" .. "Map/JSON").

All expressions are Catalyst built-ins — they compile into whole-stage
codegen and cost nothing in Python. Cross-engine gotchas handled here:

* Spark ``dayofweek`` is 1=Sunday, DuckDB 0=Sunday → Spark side emits
  ``dayofweek - 1``;
* DuckDB ``year``/``quarter``/``len``/``strpos`` return BIGINT where
  Spark returns INT → Spark side casts to long;
* DuckDB ``floor``/``ceil`` on DOUBLE return DOUBLE → both sides cast
  to BIGINT;
* transcendental results (sqrt/ln/pow) are rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table


@register(
    "func_string",
    oracle="""
SELECT p_partkey,
       upper(p_name)                              AS uname,
       lower(p_brand)                             AS lbrand,
       substr(p_type, 1, 3)                       AS type3,
       p_brand || '/' || p_type                   AS brand_type,
       CAST(length(p_name) AS BIGINT)             AS name_len,
       replace(p_name, 'a', '#')                  AS repl,
       CAST(strpos(p_name, 'e') AS BIGINT)        AS epos,
       lpad(CAST(p_size AS VARCHAR), 4, '0')      AS padded,
       reverse(p_brand)                           AS rbrand,
       trim('  ' || p_name || ' ')                AS trimmed,
       split_part(p_name, ' ', 1)                 AS first_tok
FROM part ORDER BY p_partkey
""",
    doc="String functions: case, substr, concat, length, replace, strpos, pad, reverse, trim, split_part.",
)
def func_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.substring("p_type", 1, 3).alias("type3"),
        F.concat("p_brand", F.lit("/"), "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.expr("replace(p_name, 'a', '#')").alias("repl"),
        F.instr("p_name", "e").cast("long").alias("epos"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.reverse("p_brand").alias("rbrand"),
        F.trim(F.concat(F.lit("  "), "p_name", F.lit(" "))).alias("trimmed"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_tok"),
    ).orderBy("p_partkey")


@register(
    "func_date",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT)                         AS y,
       CAST(month(o_orderdate) AS BIGINT)                        AS m,
       CAST(day(o_orderdate) AS BIGINT)                          AS d,
       CAST(quarter(o_orderdate) AS BIGINT)                      AS q,
       CAST(dayofweek(o_orderdate) AS BIGINT)                    AS dow,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')    AS month_start,
       strftime(last_day(o_orderdate), '%Y-%m-%d')               AS month_end,
       CAST(date_diff('day', o_orderdate,
                      TIMESTAMP '2002-01-01 00:00:00') AS BIGINT) AS days_to_2002
FROM orders ORDER BY o_orderkey
""",
    doc="Date functions: parts, quarter, dow (normalized), trunc, last_day, datediff.",
)
def func_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("y"),
        F.month(d).cast("long").alias("m"),
        F.dayofmonth(d).cast("long").alias("d"),
        F.quarter(d).cast("long").alias("q"),
        (F.dayofweek(d) - 1).cast("long").alias("dow"),  # Spark 1=Sun -> DuckDB 0=Sun
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date"))
        .cast("long")
        .alias("days_to_2002"),
    ).orderBy("o_orderkey")


@register(
    "func_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(abs(l_discount - 0.05), 4)                 AS disc_dev,
       CAST(floor(l_extendedprice / 1000) AS BIGINT)    AS price_k,
       CAST(ceil(l_quantity) AS BIGINT)                 AS qty_up,
       ROUND(sqrt(l_extendedprice), 4)                  AS sqrt_price,
       ROUND(ln(l_extendedprice + 1), 6)                AS ln_price,
       ROUND(pow(1 + l_discount, 2), 6)                 AS pow_disc,
       l_orderkey % 7                                   AS key_mod,
       CAST(sign(l_discount - 0.05) AS BIGINT)          AS disc_sign
FROM lineitem ORDER BY l_orderkey, l_linenumber
""",
    doc="Math functions: abs, floor, ceil, sqrt, ln, pow, mod, sign.",
)
def func_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_k"),
        F.ceil("l_quantity").cast("long").alias("qty_up"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("ln_price"),
        F.round(F.pow(F.col("l_discount") + 1, 2), 6).alias("pow_disc"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.signum(F.col("l_discount") - 0.05).cast("long").alias("disc_sign"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "func_conditional",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'overdrawn'
            WHEN c_acctbal < 1000 THEN 'low'
            ELSE 'ok' END                                AS bal_class,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
       ROUND(GREATEST(c_acctbal, 0.0), 2)                AS bal_floor0,
       ROUND(LEAST(c_acctbal, 5000.0), 2)                AS bal_cap
FROM customer ORDER BY c_custkey
""",
    doc="Conditional functions: CASE, COALESCE, NULLIF, GREATEST, LEAST.",
)
def func_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.when(bal < 0, "overdrawn").when(bal < 1000, "low").otherwise("ok").alias(
            "bal_class"
        ),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.round(F.greatest(bal, F.lit(0.0)), 2).alias("bal_floor0"),
        F.round(F.least(bal, F.lit(5000.0)), 2).alias("bal_cap"),
    ).orderBy("c_custkey")


@register(
    "func_array",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
SELECT doc_id,
       CAST(len(words) AS BIGINT)                 AS n_words,
       CAST(len(list_distinct(words)) AS BIGINT)  AS n_distinct,
       list_contains(words, 'spark')              AS has_spark,
       words[1]                                   AS first_word,
       words[-1]                                  AS last_word,
       array_to_string(words[1:3], '-')           AS first3
FROM t ORDER BY doc_id
""",
    doc="Array functions: size, distinct, contains, element_at, slice, join.",
)
def func_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.array_join(F.slice(words, 1, 3), "-").alias("first3"),
    ).orderBy("doc_id")


@register(
    "func_explode",
    oracle="""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word ORDER BY word
""",
    doc="explode/unnest: word frequencies across the documents corpus.",
)
def func_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("word")
    )


@register(
    "func_json",
    oracle="""
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="JSON functions: extract scalar from the events.props JSON string.",
)
def func_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "func_higher_order",
    oracle="""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
)
SELECT doc_id,
       len(list_filter(toks, x -> length(x) >= 6)) AS n_long,
       COALESCE(array_to_string(list_sort(list_transform(
         list_filter(toks, x -> length(x) >= 6), x -> upper(x))), ','), '')
         AS long_upper_sorted,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
         AS total_chars
FROM t
""",
    doc="Higher-order array functions (filter/transform/aggregate over "
    "a materialized token column — see shingles_of_tokens' performance "
    "contract): long-token extraction + fold. Pure per-row projection, "
    "fused into the scan stage.",
)
def func_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.dedup import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    long_toks = F.filter(F.col("toks"), lambda x: F.length(x) >= 6)
    return tok.select(
        "doc_id",
        F.size(long_toks).cast("long").alias("n_long"),
        F.array_join(
            F.array_sort(F.transform(long_toks, lambda x: F.upper(x))), ","
        ).alias("long_upper_sorted"),
        F.aggregate(
            F.col("toks"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x).cast("long"),
        ).alias("total_chars"),
    )


@register(
    "func_nullsafe_eq",
    oracle="""
SELECT (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM
        nullif(c_mktsegment, c_mktsegment)) AS both_null_or_equal,
       COUNT(*) AS n
FROM customer GROUP BY both_null_or_equal ORDER BY both_null_or_equal
""",
    doc="Null-safe equality (<=> / IS NOT DISTINCT FROM): right side "
    "is always NULL, left side is NULL only for BUILDING rows, so "
    "BUILDING groups as true (NULL<=>NULL) and everything else as "
    "false (value<=>NULL) — plain = would return NULL for every row. "
    "The only equality form safe for join keys with NULLs.",
)
def func_nullsafe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    b = F.nullif(F.col("c_mktsegment"), F.col("c_mktsegment"))
    return (
        c.select(a.eqNullSafe(b).alias("both_null_or_equal"))
        .groupBy("both_null_or_equal")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("both_null_or_equal")
    )


@register(
    "func_date_arith",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')   AS plus_30d,
       strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d')  AS plus_2mo,
       strftime(last_day(o_orderdate), '%Y-%m-%d')           AS month_end,
       CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
         AS days_since_95,
       CAST(dayofweek(o_orderdate) AS INT)                   AS dow,
       CAST(weekofyear(o_orderdate) AS INT)                  AS woy
FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey
""",
    doc="Date/interval arithmetic: interval add, month add (end-of-"
    "month clamping), last_day, datediff, day-of-week, ISO week. All "
    "pure projections over the scan; the systematic key filter keeps "
    "the demo output bounded.",
)
def func_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(F.add_months(d, 2), "yyyy-MM-dd").alias("plus_2mo"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_95"),
        (F.dayofweek(d) - 1).alias("dow"),  # Spark 1=Sun -> DuckDB 0=Sun
        F.weekofyear(d).alias("woy"),
    ).orderBy("o_orderkey")


@register(
    "func_explode_outer",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split(trim(text), ' ') END AS toks
  FROM documents WHERE doc_id < 50
),
padded AS (
  SELECT doc_id,
         CASE WHEN len(toks) = 0 THEN [NULL] ELSE toks END AS toks2
  FROM t
)
SELECT doc_id, unnest(toks2) AS tok FROM padded ORDER BY doc_id, tok
""",
    doc="explode_outer: rows with empty arrays survive with a NULL "
    "element (plain explode silently drops them — the classic "
    "fan-out data-loss pitfall). The oracle emulates it by padding "
    "empty lists with [NULL] before unnest.",
)
def func_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.when(
        F.length(F.trim("text")) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim("text"), " "))
    return (
        d.select("doc_id", F.explode_outer(toks).alias("tok"))
        .orderBy("doc_id", "tok")
    )


@register(
    "func_map_transform",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT) * 2) AS BIGINT)
         AS sum_k_doubled,
       MAX('k_' || json_extract_string(props, '$.k')) AS max_tagged_key
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="Map higher-order functions: transform_values doubles every "
    "value, transform_keys tags every key — per-row map rewrites with "
    "no explode and no shuffle until the final aggregate. The oracle "
    "recomputes the same results from the JSON source (DuckDB has no "
    "map HOFs), which checks the transformed map CONTENTS, not just "
    "plan shape.",
)
def func_map_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,long>")
    doubled = F.transform_values(m, lambda _k, v: v * 2)
    tagged = F.transform_keys(
        m, lambda k, v: F.concat_ws("_", k, v.cast("string"))
    )
    return (
        ev.select(
            "event_type",
            F.element_at(doubled, "k").alias("k2"),
            # max over the tagged key names ("k_<digits>", lexicographic)
            F.array_max(F.map_keys(tagged)).alias("tk"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k2").alias("sum_k_doubled"),
            F.max("tk").alias("max_tagged_key"),
        )
        .orderBy("event_type")
    )


@register(
    "func_timezone_convert",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS utc_s,
       strftime(timezone('America/New_York',
                         timezone('UTC', o_orderdate)),
                '%Y-%m-%d %H:%M:%S') AS ny_s,
       strftime(timezone('Asia/Tokyo', timezone('UTC', o_orderdate)),
                '%Y-%m-%d %H:%M:%S') AS tokyo_s
FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey
""",
    doc="IANA time-zone conversion (UTC wall times -> New York and "
    "Tokyo wall times) over multi-year order dates, so both the "
    "EST/EDT daylight-saving offsets (-5/-4) and the DST-free "
    "JST (+9) paths execute. Spark: convert_timezone (3.4+ "
    "built-in, codegen); DuckDB: the timezone() interpret/convert "
    "pair over ICU. Formatted strings travel across the engine "
    "boundary — the repo's standard timestamp-parity rule — and "
    "the session is pinned UTC so naive timestamps are unambiguous.",
)
def func_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 200
    )
    fmt = "yyyy-MM-dd HH:mm:ss"

    def conv(tz: str):
        return F.date_format(
            F.convert_timezone(
                F.lit("UTC"), F.lit(tz), F.col("o_orderdate")
            ),
            fmt,
        )

    return orders.select(
        F.date_format("o_orderdate", fmt).alias("utc_s"),
        conv("America/New_York").alias("ny_s"),
        conv("Asia/Tokyo").alias("tokyo_s"),
        "o_orderkey",
    ).orderBy("o_orderkey").drop("o_orderkey")


@register(
    "func_variant_parse",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       ROUND(AVG(CAST(props ->> 'k' AS INT)), 4) AS avg_k,
       CAST(SUM(CASE WHEN CAST(props ->> 'k' AS INT) > 50
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
FROM events
GROUP BY event_type ORDER BY event_type
""",
    doc="Spark 4 VARIANT ingestion of semi-structured event "
    "properties: parse_json() turns the props string into the "
    "binary VARIANT encoding once per row, variant_get('$.k', "
    "'int') extracts the typed field with path semantics — the "
    "shredded-JSON pattern that replaces per-query get_json_object "
    "re-parsing (each get_json_object call re-parses the string; a "
    "VARIANT parses once and serves every extraction). Both steps "
    "are Catalyst expressions — no Python, no UDF. The aggregate is "
    "an ordinary per-type rollup; oracle extracts the same path via "
    "DuckDB's JSON operator. Integer counts exact; AVG ROUND(4).",
)
def func_variant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0))
            .cast("long")
            .alias("n_hi"),
        )
        .orderBy("event_type")
    )


@register(
    "source_xml_parse",
    oracle="""
SELECT CAST(s_nationkey AS BIGINT) AS nation,
       COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM supplier
GROUP BY s_nationkey ORDER BY nation
""",
    doc="XML source surface (Spark 4 built-in XML, the spark-xml "
    "package merged upstream): render each supplier row to an XML "
    "fragment with to_xml(struct(...)), parse it back with "
    "from_xml() under an explicit DDL schema, and aggregate the "
    "PARSED fields — a write-then-read roundtrip proving the codec "
    "pair is lossless, in the same spirit as the sink_roundtrip_* "
    "family but for the in-row XML codec rather than a file format. "
    "Money travels as integer cents (CAST(ROUND(bal*100) AS BIGINT)) "
    "so the roundtrip and the oracle are bit-exact; both functions "
    "are Catalyst expressions (no Python). The oracle aggregates the "
    "raw columns directly — parse(render(x)) == x is the property "
    "under test.",
)
def source_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    xml = F.to_xml(
        F.struct(
            F.col("s_suppkey").alias("id"),
            F.col("s_nationkey").alias("nation"),
            F.round(F.col("s_acctbal") * 100)
            .cast("long")
            .alias("cents"),
        ),
        {"rowTag": "supplier"},
    )
    parsed = F.from_xml(
        xml, "STRUCT<id: BIGINT, nation: BIGINT, cents: BIGINT>"
    )
    return (
        sup.select(parsed.alias("p"))
        .groupBy(F.col("p.nation").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("p.cents").cast("long").alias("sum_cents"),
        )
        .orderBy("nation")
    )


@register(
    "func_collation_lcase",
    oracle="""
WITH cased AS (
  SELECT p_brand,
         CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
              ELSE p_type END AS t
  FROM part
)
SELECT p_brand,
       COUNT(DISTINCT t) AS n_binary,
       COUNT(DISTINCT lower(t)) AS n_lcase
FROM cased
GROUP BY p_brand ORDER BY p_brand
""",
    doc="Spark 4 collation-aware distinct: mixed-case category "
    "strings (half the rows upper-cased by a parity rule) counted "
    "per brand under the default UTF8_BINARY collation vs "
    "collate(col, 'UTF8_LCASE') — the collation changes EQUALITY "
    "itself, so count(DISTINCT) folds case variants without "
    "rewriting values through lower() (the engine keeps the "
    "original strings; comparators, not projections, do the "
    "folding — which is what makes collation usable on join keys "
    "and group keys at scale). DuckDB has no column collations in "
    "this form, so the oracle states the equivalent semantics with "
    "lower(). All-integer output.",
)
def func_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    cased = part.select(
        "p_brand",
        F.when(
            F.col("p_partkey") % 2 == 0, F.upper(F.col("p_type"))
        ).otherwise(F.col("p_type")).alias("t"),
    )
    return (
        cased.groupBy("p_brand")
        .agg(
            F.count_distinct(F.col("t")).alias("n_binary"),
            F.count_distinct(
                F.collate(F.col("t"), "UTF8_LCASE")
            ).alias("n_lcase"),
        )
        .orderBy("p_brand")
    )


@register(
    "sql_pipe_syntax",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="Spark 4 SQL pipe syntax (|>): the same filtered revenue "
    "rollup q1 expresses classically, written as a linear pipeline "
    "FROM -> WHERE -> EXTEND -> AGGREGATE ... GROUP BY -> ORDER BY. "
    "Pipe stages are pure surface syntax — the parser lowers them to "
    "the identical Catalyst logical plan, so pushdown/partial-agg "
    "behavior matches the classical form (and the oracle IS the "
    "classical form). Demonstrates the full stage set a reader "
    "migrating from imperative dataflow APIs will reach for first.",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pipe_lineitem"
    )
    return spark.sql("""
FROM pipe_lineitem
|> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
|> EXTEND l_extendedprice * (1 - l_discount) AS net
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
             ROUND(SUM(net), 2) AS revenue
   GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
""").select(
        "l_returnflag", "l_linestatus", "n_items", "revenue"
    )


@register(
    "func_try_arithmetic",
    oracle="""
WITH t AS (
  SELECT p_brand,
         CASE WHEN p_size = 25 THEN NULL
              ELSE p_retailprice / (p_size - 25) END AS ratio,
         TRY_CAST(CASE WHEN p_size % 2 = 0
                       THEN CAST(p_size AS VARCHAR)
                       ELSE p_name END AS INTEGER) AS parsed
  FROM part
)
SELECT p_brand,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_by_zero,
       ROUND(SUM(COALESCE(ratio, 0)), 4) AS sum_ratio,
       COUNT(parsed) AS n_parsed
FROM t GROUP BY p_brand ORDER BY p_brand
""",
    doc="ANSI-safe arithmetic surface: Spark 4 runs under ANSI mode "
    "by default, where x/0 and bad casts are runtime ERRORS — the "
    "try_* family (try_divide, try_cast) returns NULL instead, "
    "making declarative pipelines total without switching the whole "
    "session out of ANSI. Exercised on real poison rows: p_size=25 "
    "makes the divisor zero, odd-size rows feed a non-numeric "
    "string to the cast. The oracle states the same semantics with "
    "guarded CASE / TRY_CAST. Null-counting is exact; the one "
    "double sum is ROUND(4).",
)
def func_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    ratio = F.try_divide(F.col("p_retailprice"), F.col("p_size") - 25)
    mixed = F.when(
        F.col("p_size") % 2 == 0, F.col("p_size").cast("string")
    ).otherwise(F.col("p_name"))
    t = part.select(
        "p_brand",
        ratio.alias("ratio"),
        mixed.try_cast("int").alias("parsed"),
    )
    return (
        t.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("ratio").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_div_by_zero"),
            F.round(F.sum(F.coalesce("ratio", F.lit(0.0))), 4).alias(
                "sum_ratio"
            ),
            F.count("parsed").alias("n_parsed"),
        )
        .orderBy("p_brand")
    )


@register(
    "func_sql_udf",
    oracle="""
WITH t AS (
  SELECT c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'debtor'
              WHEN c_acctbal < 5000 THEN 'standard'
              ELSE 'premium' END AS tier,
         CASE WHEN c_acctbal < 0 THEN -c_acctbal ELSE 0.0 END AS exposure
  FROM customer
)
SELECT c_mktsegment, tier,
       COUNT(*) AS n_customers,
       ROUND(SUM(exposure), 2) AS total_exposure
FROM t GROUP BY c_mktsegment, tier ORDER BY c_mktsegment, tier
""",
    doc="Spark 4 SQL UDFs (CREATE FUNCTION ... RETURN <expr>): the "
    "user-function surface WITHOUT the Python-UDF tax. Two scalar "
    "functions (a CASE tier classifier and a debt-exposure measure) "
    "are declared in SQL and applied per row — Catalyst INLINES the "
    "body into the plan, so unlike an opaque py/JVM UDF the calls "
    "whole-stage-codegen, constant-fold, and stay pushdown-capable; "
    "at 100 TB this is the only user-function form with zero "
    "serialization cost. The oracle states the same expressions "
    "inline (DuckDB macros would be its equivalent surface). "
    "Counts exact; the one double sum is ROUND(2) over "
    "sign-flipped balances.",
)
def func_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "sqludf_customer"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION acct_tier(b DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN b < 0 THEN 'debtor' "
        "WHEN b < 5000 THEN 'standard' ELSE 'premium' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION exposure(b DOUBLE) "
        "RETURNS DOUBLE RETURN CASE WHEN b < 0 THEN -b ELSE 0.0 END"
    )
    return spark.sql("""
SELECT c_mktsegment, acct_tier(c_acctbal) AS tier,
       COUNT(*) AS n_customers,
       ROUND(SUM(exposure(c_acctbal)), 2) AS total_exposure
FROM sqludf_customer
GROUP BY c_mktsegment, acct_tier(c_acctbal)
ORDER BY c_mktsegment, tier
""")


@register(
    "agg_modern_surface",
    oracle="""
SELECT event_type,
       CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high,
       bool_and(value >= 0) AS all_nonneg,
       bool_or(value > 99) AS any_near_max,
       ROUND(median(value), 4) AS median_value,
       (MAX({'v': value, 'e': event_id})).e AS top_event_id
FROM events
GROUP BY event_type ORDER BY event_type
""",
    doc="Modern aggregate surface in one rollup: count_if (filtered "
    "count without the CASE boilerplate), bool_and/bool_or "
    "(predicate folds), median (exact interpolated 50th percentile "
    "— fine over grouped aggregates, the approx_percentile twin is "
    "the streaming-scale path), and a DETERMINISTIC max_by: bare "
    "max_by/arg_max is underspecified under ties, so the ordering "
    "key is the (value, event_id) pair — both engines compare the "
    "struct lexicographically (DuckDB spells it MAX(struct).e) — "
    "making the winner unique and the result hash-stable "
    "cross-engine.",
)
def agg_modern_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 50).alias("n_high"),
            F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
            F.bool_or(F.col("value") > 99).alias("any_near_max"),
            F.round(F.median("value"), 4).alias("median_value"),
            F.max_by(
                "event_id",
                # event_id stays BIGINT in the tiebreak struct: a
                # double key loses exactness past 2^53, where two
                # distinct ids tying on value would compare equal and
                # reintroduce the nondeterminism this struct exists
                # to remove.
                F.struct(F.col("value"), F.col("event_id").alias("eid")),
            ).alias("top_event_id"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_approx_top_k",
    oracle="""
SELECT o_orderpriority AS priority, COUNT(*) AS n
FROM orders GROUP BY o_orderpriority ORDER BY n DESC, priority
""",
    doc="approx_top_k sketch aggregate (Spark 4.1 SQL surface): one "
    "mergeable frequent-items sketch per partition, merged at the "
    "driver — the distributed heavy-hitters path (vs "
    "sketch_countmin_heavy's hand-rolled CMS). Over a column whose "
    "cardinality (5) is under the sketch's maxItemsTracked the "
    "counts are EXACT, so the exact GROUP BY twin value-checks the "
    "whole sketch pipeline. The sketch's own output order is "
    "tie-ambiguous (equal counts), so the array is exploded and "
    "re-sorted on (count DESC, item); at a real top-k cutoff ties "
    "straddling rank k make the SET itself ambiguous — production "
    "callers should over-ask (k+slack) and re-rank, as here.",
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__atk_orders"
    )
    tk = spark.sql(
        "SELECT approx_top_k(o_orderpriority, 5) AS tk FROM __atk_orders"
    )
    return (
        tk.select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("priority"), F.col("e.count").alias("n"))
        .orderBy(F.desc("n"), "priority")
    )


@register(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE bom AS (
  SELECT p_partkey AS root, p_partkey AS part, 0 AS depth,
         p_retailprice AS price
  FROM part WHERE p_partkey <= 2
  UNION ALL
  SELECT b.root, p.p_partkey AS part, b.depth + 1 AS depth,
         p.p_retailprice AS price
  FROM bom b
  JOIN part p ON CAST(FLOOR((p.p_partkey - 1) / 2) AS BIGINT) = b.part
  WHERE b.depth < 9
)
SELECT root, COUNT(*) AS n_parts, MAX(depth) AS max_depth,
       ROUND(SUM(price), 2) AS assembly_cost
FROM bom GROUP BY root ORDER BY root
""",
    doc="Spark 4 recursive CTE (WITH RECURSIVE, SQL:1999) — the "
    "bill-of-materials explosion every part-hierarchy consumer "
    "needs and the one query family plain DataFrame chains cannot "
    "express without a driver-side loop: parts form an implicit "
    "binary heap tree on the 0-based key (part k contains parts 2k+1 and 2k+2, i.e. parent(c) = floor((c-1)/2)), and "
    "the CTE walks each root's subtree to a bounded depth, then "
    "rolls up subtree size, height, and summed retail price. The "
    "recursive member is an EQUI-join (child rows find their parent "
    "via floor(key/2) = parent — never an OR-condition join that "
    "would plan as BNLJ), so every iteration is one hash join + "
    "union; Spark executes it as an iterative UnionLoop with the "
    "depth guard bounding iterations at 10, the same "
    "bounded-iteration contract as pagerank/LPA here. The oracle is "
    "the IDENTICAL ANSI text (DuckDB runs WITH RECURSIVE natively); "
    "integer counts, one ROUND(2) money sum.",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("bom_part")
    return spark.sql("""
WITH RECURSIVE bom AS (
  SELECT p_partkey AS root, p_partkey AS part, 0 AS depth,
         p_retailprice AS price
  FROM bom_part WHERE p_partkey <= 2
  UNION ALL
  SELECT b.root, p.p_partkey AS part, b.depth + 1 AS depth,
         p.p_retailprice AS price
  FROM bom b
  JOIN bom_part p ON CAST(FLOOR((p.p_partkey - 1) / 2) AS BIGINT) = b.part
  WHERE b.depth < 9
)
SELECT root, COUNT(*) AS n_parts, MAX(depth) AS max_depth,
       ROUND(SUM(price), 2) AS assembly_cost
FROM bom GROUP BY root ORDER BY root
""")


@register(
    "func_parameterized_sql",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_totalprice > 1000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="Parameterized SQL (Spark 4 named parameter markers + the "
    "IDENTIFIER clause): the query text carries :tbl/:cutoff/"
    ":minprice placeholders and spark.sql(..., args=...) binds them "
    "— values as typed literals in the parsed plan (NOT string "
    "splicing, so no injection surface and the plan cache can reuse "
    "the parse), and the table name through IDENTIFIER(:tbl), the "
    "sanctioned way to parameterize an identifier position. "
    "Catalyst sees ordinary literals after binding, so pushdown and "
    "constant folding are identical to the inlined form — which is "
    "exactly what the oracle is. The API surface every "
    "template-driven reporting job migrating onto Spark needs "
    "first.",
)
def func_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "param_orders"
    )
    return spark.sql(
        """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM IDENTIFIER(:tbl)
WHERE o_orderdate >= CAST(:cutoff AS TIMESTAMP)
  AND o_totalprice > :minprice
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
        args={"tbl": "param_orders", "cutoff": "1996-01-01", "minprice": 1000.0},
    )
