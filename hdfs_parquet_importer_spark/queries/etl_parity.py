"""Reference-parity ETL operators exposed as oracle-checked queries.

The parity operators (cleanse O3, date-enrich O4, array-parse O5 —
SURVEY §2.1) are demonstrated on the driver's testdata tables: a
datetime *string* column is synthesized from real timestamps (with
deterministic corruption injected so the miss paths execute), then the
operator expressions are applied identically in Spark and DuckDB SQL.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.etl.arrays import parse_string_array
from hdfs_parquet_importer_spark.etl.cleanse import TIME_REGEX
from hdfs_parquet_importer_spark.etl.enrich import (
    extract_date,
    extract_month,
    extract_year,
)
from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table

# Spark-side synthesized "yyyy-MM-dd HH:mm" string with every 13th row
# corrupted — exercises the ''-on-miss enrich path and the cleanse drop
# path on data both engines can derive independently.
_CORRUPT_MOD = 13


def _orders_time_str():
    return F.when(
        F.col("o_orderkey") % _CORRUPT_MOD == 0,
        F.concat(F.lit("corrupted "), F.col("o_orderstatus")),
    ).otherwise(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm"))


_ORDERS_TIME_SQL = f"""
CASE WHEN o_orderkey % {_CORRUPT_MOD} = 0
     THEN 'corrupted ' || o_orderstatus
     ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M')
END
"""


@register(
    "etl_date_enrich",
    oracle=f"""
WITH src AS (
  SELECT o_orderkey, {_ORDERS_TIME_SQL} AS t FROM orders
), enriched AS (
  SELECT
    o_orderkey,
    COALESCE(split_part(t, ' ', 1), '')                                              AS date,
    COALESCE(regexp_extract(t, '^(\\d{{4}})-(\\d{{2}})-(\\d{{2}}) (\\d{{2}}):(\\d{{2}})$', 1), '') AS year,
    COALESCE(regexp_extract(t, '^(\\d{{4}})-(\\d{{2}})-(\\d{{2}}) (\\d{{2}}):(\\d{{2}})$', 2), '') AS month
  FROM src
)
SELECT year, month, COUNT(*) AS n, MIN(date) AS min_date, COUNT(DISTINCT o_orderkey) AS n_orders
FROM enriched
GROUP BY year, month
ORDER BY year, month
""",
    doc="O4 date-enrich: date/year/month string extraction with ''-on-miss semantics.",
)
def etl_date_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumn("t", _orders_time_str())
    t = F.col("t")
    enriched = orders.select(
        "o_orderkey",
        extract_date(t).alias("date"),
        extract_year(t).alias("year"),
        extract_month(t).alias("month"),
    )
    return (
        enriched.groupBy("year", "month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("date").alias("min_date"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("year", "month")
    )


@register(
    "etl_cleanse",
    oracle=f"""
WITH src AS (
  SELECT o_orderkey, o_orderpriority, {_ORDERS_TIME_SQL} AS t FROM orders
)
SELECT o_orderpriority, COUNT(*) AS n_clean
FROM src
WHERE t IS NOT NULL
  AND regexp_matches(t, '^\\d{{4}}-\\d{{2}}-\\d{{2}} \\d{{2}}:\\d{{2}}$')
  AND o_orderkey IS NOT NULL
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="O3 cleanse: single-pass regex-validity filter (scalable NOT-IN replacement).",
)
def etl_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, sf_dir, "orders").withColumn("t", _orders_time_str())
    cleaned = src.filter(
        F.col("t").isNotNull()
        & F.col("t").rlike(TIME_REGEX)
        & F.col("o_orderkey").isNotNull()
    )
    return (
        cleaned.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_clean"))
        .orderBy("o_orderpriority")
    )


@register(
    "etl_array_parse",
    oracle="""
WITH src AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 10 = 0 THEN '[]'
              WHEN p_partkey % 10 = 1 THEN ''
              WHEN p_partkey % 10 = 2 THEN NULL
              ELSE '[' || p_brand || ', ' || p_type || ']'
         END AS s
  FROM part
), parsed AS (
  SELECT p_partkey,
         CASE WHEN s IS NULL OR length(s) = 0 THEN []
              ELSE list_transform(string_split(s[2:-2], ','), x -> trim(x))
         END AS tags
  FROM src
)
SELECT p_partkey,
       COALESCE(array_to_string(tags, '|'), '') AS tags_str,
       len(tags) AS n_tags
FROM parsed
ORDER BY p_partkey
""",
    doc="O5 array-parse: '[a, b]' string -> array<string> with []/''/null "
    "edge rules. The array itself travels as array_join(tags, '|'): the "
    "driver canonicalizes results through pandas, which cannot hash a "
    "raw list column (unhashable type 'list'). n_tags keeps the "
    "'[]' -> [''] (size 1) vs '' -> [] (size 0) edge observable even "
    "though both join to the empty string.",
)
def etl_array_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    s = (
        F.when(F.col("p_partkey") % 10 == 0, F.lit("[]"))
        .when(F.col("p_partkey") % 10 == 1, F.lit(""))
        .when(F.col("p_partkey") % 10 == 2, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("["), "p_brand", F.lit(", "), "p_type", F.lit("]")))
    )
    parsed = part.select(
        "p_partkey", parse_string_array(s).alias("tags")
    )
    return parsed.select(
        "p_partkey",
        F.array_join("tags", "|").alias("tags_str"),
        F.size("tags").cast("long").alias("n_tags"),
    ).orderBy("p_partkey")


# Committed copy of the tweets parity fixture (FIXTURES.md §1,
# generated once by tests/tweets_fixture.write_fixture) so the CSV
# READER itself — the reference's primary input, package.scala:110-127
# — holds a driver-green oracle row: testdata is parquet, so no other
# registered query ever exercises it.
_FIXTURE_DIR = Path(__file__).resolve().parents[2] / "fixtures"
_TWEETS_CSV = str(_FIXTURE_DIR / "tweets.csv")
_TWEETS_SCHEMA = str(_FIXTURE_DIR / "tweets.schema")

# Spark simpleString -> DuckDB type, for read_csv's explicit columns
# map — both sides derive from the SAME name=Type schema file (O2).
_DUCK_TYPES = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "string": "VARCHAR",
}


def _tweets_duck_columns() -> str:
    from hdfs_parquet_importer_spark.schema import parse_schema_file

    struct = parse_schema_file(_TWEETS_SCHEMA)
    pairs = ", ".join(
        f"'{f.name}': '{_DUCK_TYPES[f.dataType.simpleString()]}'"
        for f in struct.fields
    )
    return "{" + pairs + "}"


@register(
    "etl_csv_roundtrip",
    oracle=f"""
SELECT tweetid, userid, tweet_language, tweet_text,
       follower_count, is_retweet, like_count,
       in_reply_to_tweetid, user_profile_url
FROM read_csv('{_TWEETS_CSV}', header=true,
              columns={_tweets_duck_columns()})
ORDER BY tweetid
""",
    doc="O1 CSV scan under the driver's value-level gate: the tweets "
    "parity fixture (31 quoted columns, Cyrillic text, embedded "
    "''-escaped quotes, commas inside fields, empty-string nulls) "
    "read via etl/csv_source.read_csv with the reference's five "
    "reader options and the name=Type schema file (O2), row-level "
    "projection of the parser-edge columns. Both engines agree "
    "empirically that a quoted empty field is NULL for every type. "
    "At scale the CSV scan splits by file/offset exactly like the "
    "parquet scans; DROPMALFORMED drops physically corrupt rows "
    "scan-side (none here — this fixture's corruption is by CONTENT, "
    "handled by the cleanse operator, per SURVEY §4.3).",
)
def etl_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.etl.csv_source import read_csv
    from hdfs_parquet_importer_spark.schema import parse_schema_file

    schema = parse_schema_file(_TWEETS_SCHEMA)
    df = read_csv(spark, _TWEETS_CSV, schema=schema)
    return df.select(
        "tweetid",
        "userid",
        "tweet_language",
        "tweet_text",
        "follower_count",
        "is_retweet",
        "like_count",
        "in_reply_to_tweetid",
        "user_profile_url",
    ).orderBy("tweetid")


@register(
    "sink_roundtrip_partitioned",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="O8 partitioned parquet sink under the driver's gate: orders "
    "(keys + exact integer cents) written via etl/pipeline.py's "
    "write_parquet partitioned by o_orderpriority — the reference's "
    "only output shape, package.scala:157 — then read back from the "
    "Hive partition tree and aggregated; the oracle computes the "
    "same aggregate over the source table directly, so any row lost, "
    "duplicated, or type-mangled by the write->read roundtrip (incl. "
    "partition-value encoding of the space in '4-NOT SPECIFIED') "
    "hash-fails. NOTE: the write is one eager job at plan-"
    "construction time (a sink cannot be lazy); the returned "
    "DataFrame is the lazy read-back aggregate.",
)
def sink_roundtrip_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.etl.pipeline import write_parquet

    dest = f"/tmp/spark_graft_sink_part_{os.getpid()}"
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    write_parquet(src, dest, partition_cols=["o_orderpriority"])
    back = spark.read.parquet(dest)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("cents").alias("cents_sum"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "sink_roundtrip_plain",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="O9 plain parquet sink under the driver's gate: a lineitem "
    "projection written via etl/pipeline.py write_parquet with no "
    "partitioning (package.scala:161), read back, aggregated by "
    "return flag; oracle = the same aggregate over the source table "
    "(roundtrip is identity). Same eager-write note as the "
    "partitioned twin.",
)
def sink_roundtrip_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.etl.pipeline import write_parquet

    dest = f"/tmp/spark_graft_sink_plain_{os.getpid()}"
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    write_parquet(src, dest)
    back = spark.read.parquet(dest)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("key_sum"),
            F.sum("cents").alias("cents_sum"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "etl_upsert",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
updates AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         (cents * 11) // 10 AS cents
  FROM base WHERE o_orderkey % 10 = 3
),
merged AS (
  SELECT * FROM updates
  UNION ALL
  SELECT * FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
)
SELECT o_orderstatus, COUNT(*) AS n,
       ROUND(SUM(cents) / 100.0, 2) AS total
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    doc="MERGE/upsert (operators/upsert.py): updates replace same-key "
    "target rows, inserts pass through, via union + per-key priority "
    "argmax — ONE hash shuffle on the key, no join, no column "
    "coalescing. The compute half of overwrite-by-partition upserts "
    "when no MERGE-capable table format is available.",
)
def etl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.upsert import upsert

    # Money math in exact integer cents: cross-engine ROUND(x*1.1, 2)
    # diverges by a cent near ties (Spark rounds the exact binary
    # expansion via BigDecimal; DuckDB rounds a scaled double), which
    # accumulated a visible drift in the summed totals at sf0.1.
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("cents", F.expr("cents * 11 div 10"))
    )
    merged = upsert(orders, updates, ["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("cents") / 100.0, 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "cdc_latest_per_key",
    oracle="""
SELECT user_id, event_id AS latest_event_id, event_type,
       ROUND(value, 2) AS value
FROM events
QUALIFY row_number() OVER
  (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
""",
    doc="CDC-log compaction (operators/upsert.py latest_per_key): "
    "newest row per key by event time with a deterministic event-id "
    "tiebreak — merge-on-read for change streams. One shuffle on the "
    "key; WindowGroupLimit keeps per-partition state at k=1.",
)
def cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.upsert import latest_per_key

    ev = load_table(spark, sf_dir, "events")
    latest = latest_per_key(ev, ["user_id"], "ts", tiebreak_cols=["event_id"])
    return latest.select(
        "user_id",
        F.col("event_id").alias("latest_event_id"),
        "event_type",
        F.round("value", 2).alias("value"),
    ).orderBy("user_id")


@register(
    "scd2_event_type_history",
    oracle="""
WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
           WHERE user_id < 30),
d AS (SELECT *,
             lag(event_type) OVER w AS prev,
             lag(ts) OVER w AS prev_ts
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
k AS (SELECT user_id, event_id, ts, event_type FROM d
      WHERE prev_ts IS NULL OR prev IS DISTINCT FROM event_type),
v AS (SELECT user_id, event_type, ts AS vf,
             lead(ts) OVER w2 AS vt,
             row_number() OVER w2 AS version
      FROM k WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_type,
       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from_s,
       COALESCE(strftime(vt, '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to_s,
       version, (vt IS NULL) AS is_current
FROM v ORDER BY user_id, version
""",
    doc="SCD Type-2 dimension build (operators/scd.py): the event log "
    "per user collapsed into a versioned state history — consecutive "
    "identical states merge, each change opens a half-open "
    "[valid_from, valid_to) interval, the open interval is the "
    "current state. The lakehouse complement of etl_upsert (MERGE "
    "keeps only latest; SCD2 keeps every state queryable). Two "
    "key-partitioned window passes over ONE shuffle — no global "
    "windows; scales with keys, not history depth. Oracle: the same "
    "change-detect / interval-assign pipeline as DuckDB CTEs.",
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.scd import scd2_build

    log = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", "event_type")
    )
    hist = scd2_build(
        log, key="user_id", ts="ts", attrs=["event_type"], tiebreak="event_id"
    )
    return hist.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from_s"),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"), F.lit("current")
        ).alias("valid_to_s"),
        "version",
        "is_current",
    ).orderBy("user_id", "version")


@register(
    "snapshot_as_of_day15",
    oracle="""
WITH f AS (SELECT user_id, event_id, ts, event_type, value FROM events
           WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
r AS (SELECT *, row_number() OVER
        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM f)
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       event_type, value
FROM r WHERE rn = 1 ORDER BY user_id
""",
    doc="Time travel: per-user state reconstructed AS OF Jan 15 from "
    "the append-only log (operators/scd.py snapshot_as_of). "
    "Deliberately NOT the window/row_number plan the oracle uses: "
    "filter + max(struct(ts, tiebreak, row)) hash-aggregates with "
    "map-side partial combine, so each executor reduces its slice to "
    "one candidate per key before the single shuffle — at 100 TB the "
    "reduce side sees n_partitions rows per key instead of the "
    "key's whole history sorted. value rides the struct untouched "
    "(no arithmetic), so doubles hash bit-identically.",
)
def snapshot_as_of_day15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.scd import snapshot_as_of

    log = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    snap = snapshot_as_of(
        log, key="user_id", ts="ts", cutoff="2024-01-15 00:00:00",
        tiebreak="event_id",
    )
    return snap.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
    ).orderBy("user_id")


@register(
    "sink_roundtrip_jsonl",
    oracle="""
SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM documents GROUP BY lang ORDER BY lang
""",
    doc="JSONL sink+source roundtrip under the driver's gate "
    "(sources/io.py write_jsonl/read_jsonl): a documents projection "
    "is written as newline-delimited JSON, read back with the "
    "explicit schema (no inference job — at 100 TB schema inference "
    "is a full extra scan), and aggregated; the oracle runs the same "
    "aggregate over the source table, so any row lost or value "
    "mangled by the text encode/decode (long precision, unicode) "
    "hash-fails. Integer-only measures make parity exact.",
)
def sink_roundtrip_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.sources.io import read_jsonl, write_jsonl

    dest = f"/tmp/spark_graft_sink_jsonl_{os.getpid()}"
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_jsonl(src, dest)
    back = read_jsonl(
        spark, dest, schema="doc_id long, lang string, n_chars long"
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .orderBy("lang")
    )


@register(
    "sink_roundtrip_orc",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="ORC sink+source roundtrip under the driver's gate "
    "(sources/io.py write_orc/read_orc): an events projection "
    "(keys + exact integer cents) written as ORC, read back, "
    "aggregated per type; oracle = the same aggregate over the "
    "source parquet directly (roundtrip is identity). Exercises the "
    "second columnar format end-to-end — ORC carries its own "
    "min/max/bloom indexes, so at 100 TB it is the drop-in "
    "alternative lake format; same eager-write note as the parquet "
    "sinks.",
)
def sink_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.sources.io import read_orc, write_orc

    dest = f"/tmp/spark_graft_sink_orc_{os.getpid()}"
    src = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    write_orc(src, dest)
    back = read_orc(spark, dest)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("id_sum"),
            F.sum("cents").alias("cents_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "scd2_temporal_join",
    oracle="""
WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
           WHERE user_id < 30),
d AS (SELECT *,
             lag(event_type) OVER w AS prev,
             lag(ts) OVER w AS prev_ts
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
k AS (SELECT user_id, event_id, ts, event_type FROM d
      WHERE prev_ts IS NULL OR prev IS DISTINCT FROM event_type),
v AS (SELECT user_id, event_type, ts AS vf,
             lead(ts) OVER w2 AS vt,
             row_number() OVER w2 AS version
      FROM k WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
days AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-02 00:00:00',
                                TIMESTAMP '2024-01-30 00:00:00',
                                INTERVAL 1 DAY)) AS d
)
SELECT v.user_id, strftime(days.d, '%Y-%m-%d') AS day,
       v.event_type AS state, v.version
FROM days JOIN v
  ON days.d >= v.vf AND (v.vt IS NULL OR days.d < v.vt)
ORDER BY user_id, day
""",
    doc="Temporal (point-in-time) join against the SCD2 dimension: "
    "every midnight Jan 2-30 probes each user's state history for "
    "the version whose half-open [valid_from, valid_to) interval "
    "covers it — the daily-dimension-snapshot query every lakehouse "
    "warehouse runs against slowly-changing dimensions. The Spark "
    "plan needs NO join at all: because the probe instants form a "
    "regular grid, each version row EXPANDS directly into the "
    "midnights its interval covers (sequence + explode, clamped to "
    "the probe range) — a pure projection over the history, no "
    "shuffle beyond the SCD2 build, and strictly less work than the "
    "probe-x-history nested loop (which rescans history once per "
    "probe). Irregular probe streams fall back to a user-key "
    "equi-join with interval residual. Exactly one version matches "
    "each probe (interval partition property).",
)
def scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.scd import scd2_build

    log = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", "event_type")
    )
    hist = scd2_build(
        log, key="user_id", ts="ts", attrs=["event_type"], tiebreak="event_id"
    )
    lo = F.lit("2024-01-02 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-30 00:00:00").cast("timestamp")
    # First midnight >= valid_from: trunc(vf) when vf is exactly
    # midnight, else the next midnight.
    vf_day = F.date_trunc("day", "valid_from")
    start = F.greatest(
        F.when(F.col("valid_from") == vf_day, vf_day).otherwise(
            vf_day + F.expr("INTERVAL 1 DAY")
        ),
        lo,
    )
    # Last midnight < valid_to (open interval end -> clamp to hi):
    # trunc(vt) - 1 day when vt is exactly midnight, else trunc(vt).
    vt_day = F.date_trunc("day", "valid_to")
    end = F.least(
        F.when(F.col("valid_to").isNull(), hi).otherwise(
            F.when(
                F.col("valid_to") == vt_day,
                vt_day - F.expr("INTERVAL 1 DAY"),
            ).otherwise(vt_day)
        ),
        hi,
    )
    expanded = hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        "version",
        F.explode(
            F.when(
                start <= end,
                F.sequence(start, end, F.expr("INTERVAL 1 DAY")),
            ).otherwise(F.array().cast("array<timestamp>"))
        ).alias("d"),
    )
    return expanded.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "state",
        "version",
    )


@register(
    "snapshot_diff",
    oracle="""
WITH s10 AS (
  SELECT user_id, event_type FROM events
  WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'
  QUALIFY row_number() OVER
    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
),
s20 AS (
  SELECT user_id, event_type FROM events
  WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
  QUALIFY row_number() OVER
    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
)
SELECT CASE
         WHEN s10.user_id IS NULL THEN 'added'
         WHEN s20.user_id IS NULL THEN 'removed'
         WHEN s10.event_type = s20.event_type THEN 'unchanged'
         ELSE 'changed'
       END AS change_type,
       COUNT(*) AS n_keys
FROM s10 FULL JOIN s20 USING (user_id)
GROUP BY 1 ORDER BY change_type
""",
    doc="Change-data-feed between two time-travel snapshots: per-user "
    "state as of Jan 10 vs Jan 20 (operators/scd.py snapshot_as_of, "
    "the map-side-combined argmax — NOT a window sort), full-outer "
    "joined on the key and classified added / removed / changed / "
    "unchanged. This is the snapshot-diff a lakehouse CDF endpoint "
    "serves, computed from raw logs: two bounded aggregates + one "
    "key equi-join. Counts are integers — exact parity.",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.scd import snapshot_as_of

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    s10 = snapshot_as_of(
        ev, key="user_id", ts="ts", cutoff="2024-01-10 00:00:00",
        tiebreak="event_id",
    ).select("user_id", F.col("event_type").alias("t10"))
    s20 = snapshot_as_of(
        ev, key="user_id", ts="ts", cutoff="2024-01-20 00:00:00",
        tiebreak="event_id",
    ).select("user_id", F.col("event_type").alias("t20"))
    j = s10.join(s20, "user_id", "full")
    change = (
        F.when(F.col("t10").isNull(), "added")
        .when(F.col("t20").isNull(), "removed")
        .when(F.col("t10") == F.col("t20"), "unchanged")
        .otherwise("changed")
    )
    return (
        j.groupBy(change.alias("change_type"))
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("change_type")
    )


@register(
    "source_python_datasource",
    oracle="""
WITH src AS (
  SELECT i AS event_id,
         i % 50 AS user_id,
         ['click','error','purchase','signup','view'][i % 5 + 1]
           AS event_type,
         ((i * 2654435761) % 1000000) / 100.0 AS value
  FROM range(0, 10000) t(i)
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(user_id) AS BIGINT) AS user_sum,
       ROUND(SUM(value), 2) AS value_sum
FROM src GROUP BY event_type ORDER BY event_type
""",
    doc="Custom Python DataSource (Spark 4 pyspark.sql.datasource "
    "API, sources/pydatasource.py) under the driver's gate: a "
    "user-defined connector whose InputPartitions shard the id "
    "space round-robin across 8 parallel tasks, generating rows by "
    "pure integer arithmetic (Knuth multiplicative hash). The "
    "oracle REGENERATES the identical stream from range() — a green "
    "row proves the whole third-party-connector path (registration, "
    "schema declaration, partition planning, per-task iteration, "
    "Python-to-JVM row conversion) end to end. The reference covers "
    "only built-in readers; this is the extension point a real "
    "platform needs for feature stores / internal APIs.",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    src = (
        spark.read.format("synthetic_events")
        .option("rows", "10000")
        .option("partitions", "8")
        .load()
    )
    return (
        src.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").cast("bigint").alias("user_sum"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "etl_schema_evolution",
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
         AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM orders
GROUP BY 1 ORDER BY priority NULLS FIRST
""",
    doc="Parquet schema evolution via mergeSchema: an early-era batch "
    "(even orderkeys, 2 columns) and a later-era batch (odd "
    "orderkeys, +o_orderpriority) are written to the SAME dataset "
    "root as sibling batch directories — the lakehouse reality that "
    "columns get added mid-stream and a reader must union the "
    "schemas, null-filling the era that predates the column. "
    "spark.read.option('mergeSchema', true) merges footers at "
    "planning time (per-file footer reads, driver-parallelized — "
    "the 100 TB cost is metadata-bounded, not data-bounded; default "
    "off for exactly that reason, so turning it on is an explicit "
    "per-dataset contract). The aggregate groups the merged table by "
    "the evolved column: the NULL row IS the old era, counted not "
    "dropped. Oracle replays the era split from raw orders; exact "
    "integer cents.",
)
def etl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.sources.io import cached_tmp_dataset

    def _build(staging: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderpriority",
        )
        old.write.mode("overwrite").parquet(f"{staging}/batch=2023")
        new.write.mode("overwrite").parquet(f"{staging}/batch=2024")

    dest = cached_tmp_dataset(
        "schema_evo",
        [os.path.join(sf_dir, "orders.parquet")],
        _build,
    )
    back = spark.read.option("mergeSchema", "true").parquet(dest)
    return (
        back.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents_sum"),
        )
        .orderBy(F.asc_nulls_first("priority"))
    )
