"""Time-window queries over the ``events`` table (driver north_star
streaming-shaped extensions; the reference is strictly batch ETL —
SURVEY.md §2.2 "Streaming: none").

Each query is computed in BATCH with the same ``F.window`` /
``F.session_window`` operators Structured Streaming uses, so (a) the
DuckDB oracle applies, and (b) the identical plan runs under
``readStream`` (demonstrated in ``streaming/``).

Oracle alignment notes:

* ``F.window`` aligns buckets to the unix epoch; DuckDB
  ``time_bucket`` aligns to 2000-01-03 00:00:00, which sits on a whole
  day — identical grids for any bucket width dividing 24 h.
* Spark ``session_window`` merges [ts, ts+gap) intervals, so an event
  arriving exactly ``gap`` after the previous one starts a NEW session
  — the SQL gaps-and-islands condition is ``diff >= gap``, not ``>``.
* Window starts travel as formatted strings (UTC session timezone on
  the Spark side, naive timestamps on the DuckDB side — same wall
  time, no tz ambiguity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table

_FMT = "yyyy-MM-dd HH:mm:ss"


@register(
    "events_tumbling_window",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling 1-hour window x event_type aggregation via F.window. "
    "Partial (map-side) aggregation bounds the shuffle at "
    "O(windows x types) per partition regardless of event volume; "
    "the identical plan runs under readStream with a watermark.",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_sliding_window",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
                  - k * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S')
         AS window_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value,
       MAX(value) AS max_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
GROUP BY 1
""",
    doc="Sliding window (1 h size, 30 min slide): every event lands in "
    "exactly 2 windows. F.window expands rows by size/slide before the "
    "partial agg — shuffle stays O(windows), not O(events).",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n_events",
            "sum_value",
            "max_value",
        )
    )


@register(
    "events_session_window",
    oracle="""
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '2 hours'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(new_s) OVER
    (PARTITION BY user_id ORDER BY ts, event_id
     ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM s GROUP BY user_id, sid
""",
    doc="Session windows (2 h inactivity gap) per user via "
    "F.session_window; the oracle is the classic gaps-and-islands "
    "rewrite. Shuffle key is user_id; Spark merges candidate sessions "
    "after the partial agg, so state is O(sessions) not O(events).",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "2 hours").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_user_activity",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
         AS purchase_value,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
FROM events GROUP BY user_id
""",
    doc="Per-user activity profile: conditional aggregation + distinct "
    "count + temporal extent. Single hash-agg shuffle on user_id.",
)
def events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)),
            2,
        ).alias("purchase_value"),
        F.date_format(F.min("ts"), _FMT).alias("first_seen"),
        F.date_format(F.max("ts"), _FMT).alias("last_seen"),
    )


@register(
    "events_interval_join",
    oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS gap_s
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 2 HOUR
ORDER BY purchase_id, view_id
""",
    doc="Interval join: every view within 2h before a purchase by the "
    "same user — the batch twin of the stream-stream interval join in "
    "streaming/pipeline.py (same plan, plus watermarks to bound state "
    "when both sides are unbounded). Equi-key on user_id carries the "
    "shuffle; the time bound prunes within each key.",
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS")),
    )
    return joined.select(
        "purchase_id",
        "view_id",
        "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("gap_s"),
    )
    # No global orderBy: the driver's digest is order-insensitive and
    # this is raw join output that grows with event volume — the only
    # thing a full sort would add here is a range exchange
    # (aggregate-bounded outputs elsewhere keep their sorts).


@register(
    "events_funnel",
    oracle="""
WITH su AS (SELECT user_id, MIN(ts) AS s_ts FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
conv AS (SELECT DISTINCT e.user_id FROM events e JOIN su USING (user_id)
         WHERE e.event_type = 'purchase' AND e.ts > su.s_ts
           AND e.ts <= su.s_ts + INTERVAL 7 DAY)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM su) AS n_signed_up,
       (SELECT COUNT(*) FROM conv) AS n_converted_7d,
       ROUND((SELECT COUNT(*) FROM conv) * 100.0
             / (SELECT COUNT(*) FROM su), 4) AS conv_pct
""",
    doc="Funnel conversion: users whose first signup is followed by a "
    "purchase within 7 days. One pass: a per-user window pins the "
    "first signup time onto every row, a per-row flag marks "
    "qualifying purchases, and a user-level agg collapses to "
    "(signed_up, converted) bits — a single user-keyed shuffle, no "
    "self-join, so the shape survives any event volume (users "
    "partition cleanly; a power user is one hot key for AQE). All "
    "counts exact ints; the one division is identical cross-engine.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s_ts = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    flagged = ev.select("user_id", "event_type", "ts", s_ts.alias("s_ts"))
    conv_row = (
        (F.col("event_type") == "purchase")
        & (F.col("ts") > F.col("s_ts"))
        & (F.col("ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAY"))
    )
    per_user = flagged.groupBy("user_id").agg(
        F.max(F.col("s_ts").isNotNull().cast("int")).alias("signed"),
        F.max(conv_row.cast("int")).alias("conv"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("signed").alias("n_signed_up"),
        F.sum("conv").alias("n_converted_7d"),
        F.round(F.sum("conv") * 100.0 / F.sum("signed"), 4).alias("conv_pct"),
    )


@register(
    "events_retention",
    oracle="""
WITH f AS (SELECT user_id, MIN(ts) AS f_ts FROM events GROUP BY user_id),
act AS (SELECT DISTINCT e.user_id,
               CAST(floor(date_diff('day', CAST(f.f_ts AS DATE),
                                    CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
                   AS week_offset,
               strftime(date_trunc('week', f.f_ts), '%Y-%m-%d') AS cohort_week
        FROM events e JOIN f USING (user_id))
SELECT cohort_week, week_offset, COUNT(*) AS n_active
FROM act GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="Cohort retention matrix: users grouped by first-activity "
    "week, counted per whole-week offset of later activity — the "
    "standard growth-analytics triangle. Explicit floor() before the "
    "int cast (DuckDB CAST rounds-to-nearest, Spark truncates — the "
    "Q11 lesson applied to date math) and calendar-day diffs on both "
    "sides. Two user-keyed shuffles (first-activity agg, then the "
    "distinct), both partial-combined; cohort cardinality is "
    "weeks x weeks — tiny.",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("f_ts"))
    act = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            F.floor(
                F.datediff(F.to_date("ts"), F.to_date("f_ts")) / 7.0
            ).cast("long").alias("week_offset"),
            F.date_format(F.date_trunc("week", F.col("f_ts")), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Event-type transition graph: Markov transitions + PageRank.
# ---------------------------------------------------------------------------
# Shared edge derivation: consecutive events per user (ordered by ts
# with event_id tiebreak — timestamps can collide) become directed
# (src, dst) transitions, aggregated to a weighted edge list. The
# lead() window is PARTITIONED by user_id — parallel, bounded state.
_EDGES_SQL = """
seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events),
e AS (SELECT src, dst, COUNT(*) AS n_trans
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst)
"""


def _transition_edges(ev: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("dst"),
    )
    return (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )


@register(
    "events_markov_transitions",
    oracle=f"""
WITH {_EDGES_SQL}
SELECT src, dst, n_trans,
       n_trans::DOUBLE / SUM(n_trans) OVER (PARTITION BY src) AS prob
FROM e
""",
    doc="First-order Markov transition matrix over event types: "
    "per-user lead() (partitioned window), edge counts, and row-"
    "normalized probabilities via a window PARTITIONED by src — the "
    "post-agg input is |types|^2 rows, so every shuffle is tiny. "
    "Integer/integer division left unrounded: identical integers "
    "divide to bit-identical doubles in both engines.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    edges = _transition_edges(ev)
    w = Window.partitionBy("src")
    return edges.select(
        "src",
        "dst",
        "n_trans",
        (F.col("n_trans") / F.sum("n_trans").over(w)).alias("prob"),
    )


def _pagerank_oracle(n_iter: int = 5, d: float = 0.85) -> str:
    """Unroll the exact power iterations pagerank() runs, one CTE
    trio (contributions, dangling mass, new ranks) per iteration.
    Dangling mass uses the same mass-conservation identity as the
    Spark operator (1 - SUM(contrib) — see operators/graph.py).
    Damping constants are emitted as repr'd doubles so both engines
    parse the identical IEEE-754 values Python handed Spark."""
    base = 1.0 - d
    sql = [
        f"""
WITH {_EDGES_SQL},
we AS (SELECT src, dst, n_trans::DOUBLE AS w FROM e),
nodes AS (SELECT src AS node FROM we UNION SELECT dst FROM we),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
outw AS (SELECT src, SUM(w) AS ow FROM we GROUP BY src),
en AS (SELECT src, dst, w / ow AS p FROM we JOIN outw USING (src)),
r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn)"""
    ]
    for i in range(1, n_iter + 1):
        sql.append(
            f""",
c{i} AS (SELECT en.dst AS node, SUM(r.rank * en.p) AS contrib
        FROM r{i - 1} r JOIN en ON r.node = en.src GROUP BY en.dst),
d{i} AS (SELECT 1.0 - COALESCE(SUM(contrib), 0.0) AS dmass FROM c{i}),
r{i} AS (SELECT nodes.node,
        CAST({base!r} AS DOUBLE) / nn.n
        + CAST({d!r} AS DOUBLE)
          * (COALESCE(c{i}.contrib, 0.0) + d{i}.dmass / nn.n) AS rank
        FROM nodes LEFT JOIN c{i} USING (node), d{i}, nn)"""
        )
    sql.append(
        f"""
SELECT node AS event_type, ROUND(rank, 6) AS pagerank FROM r{n_iter}"""
    )
    return "".join(sql)


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(n_iter=5, d=0.85),
    doc="Weighted PageRank (damping 0.85, 5 fixed power iterations, "
    "uniform dangling-mass redistribution) over the event-type "
    "transition graph. Each iteration is ONE rank-to-edges equi-join "
    "+ groupBy(dst) partial-agg sum — the dangling mass is NOT a "
    "second pass over ranks but the mass-conservation identity "
    "1 - SUM(contrib) as a broadcast 1-row aggregate (half "
    "the per-iteration DAG of a rank-checkpoint + anti-join "
    "loop); the oracle unrolls the identical iterations CTE-for-CTE "
    "with the same identity. The loop invariants (normalized edges, "
    "nodes) materialize ONCE and the per-iteration contribution "
    "table (one row per in-linked node) is the only iterated "
    "checkpoint (operators/graph.py:pagerank).",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    edges = _transition_edges(ev)
    pr = pagerank(
        edges,
        "src",
        "dst",
        weight="n_trans",
        damping=0.85,
        n_iter=5,
    )
    return pr.select(
        F.col("node").alias("event_type"),
        F.round("rank", 6).alias("pagerank"),
    )


@register(
    "events_session_path_topk",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) >= 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
i AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess
  FROM s),
p AS (
  SELECT user_id, sess,
         array_to_string(list(event_type ORDER BY ts, event_id), '>')
           AS path
  FROM i GROUP BY user_id, sess)
SELECT path, COUNT(*) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 5
""",
    doc="Top-5 most common within-session event paths: sessionize by "
    "30-min gap (gaps-and-islands — the same diff >= gap convention "
    "as events_session_window), assemble each session's ordered "
    "event-type path, count path frequencies. All windows are "
    "PARTITIONED by user; path assembly is array_sort over a "
    "collect_list inside a per-session agg (bounded by session "
    "length); the final top-5 plans as TakeOrderedAndProject. "
    "Integer counts with path tiebreak — exact cross-engine parity.",
)
def events_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        F.lag("ts").over(w).isNull()
        | (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
            >= 1800
        ),
        1,
    ).otherwise(0)
    sess = ev.withColumn("_brk", brk).withColumn(
        "sess",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = sess.groupBy("user_id", "sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(5)
    )


@register(
    "events_ohlc_resample",
    oracle="""
WITH b AS (SELECT *, time_bucket(INTERVAL '15 minutes', ts) AS bucket
           FROM events),
r AS (SELECT *,
        row_number() OVER (PARTITION BY bucket, event_type
                           ORDER BY ts, event_id) AS rn_a,
        row_number() OVER (PARTITION BY bucket, event_type
                           ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b),
agg AS (SELECT bucket, event_type, MIN(value) AS bar_low,
               MAX(value) AS bar_high, COUNT(*) AS n_events
        FROM b GROUP BY bucket, event_type)
SELECT strftime(a.bucket, '%Y-%m-%d %H:%M:%S') AS bar_start,
       a.event_type,
       o.value AS bar_open, a.bar_high, a.bar_low, c.value AS bar_close,
       a.n_events
FROM agg a
JOIN r o ON o.bucket = a.bucket AND o.event_type = a.event_type
        AND o.rn_a = 1
JOIN r c ON c.bucket = a.bucket AND c.event_type = a.event_type
        AND c.rn_d = 1
ORDER BY bar_start, a.event_type
""",
    doc="Time-series downsampling to 15-minute OHLC bars per event "
    "type — the hypertable-rollup shape (open/high/low/close/volume). "
    "ONE hash aggregation: open and close come from min(struct(ts, "
    "event_id, value)) / max(struct(...)) — struct ordering is "
    "lexicographic, so the earliest/latest (ts, event_id) carries its "
    "value along — which partial-aggregates map-side like any min/"
    "max; NO per-bar window sort anywhere (the oracle's row_number "
    "formulation is what this plan deliberately avoids — at 100 TB "
    "the window would sort every event, the struct-agg reduces each "
    "executor's slice to one candidate per bar first). Doubles ride "
    "untouched; 15 min divides 24 h so the epoch-aligned F.window "
    "grid equals DuckDB's time_bucket grid.",
)
def events_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    return (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("o"),
            F.max(F.struct("ts", "event_id", "value")).alias("c"),
            F.max("value").alias("bar_high"),
            F.min("value").alias("bar_low"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("bar_start"),
            "event_type",
            F.col("o.value").alias("bar_open"),
            "bar_high",
            "bar_low",
            F.col("c.value").alias("bar_close"),
            "n_events",
        )
        .orderBy("bar_start", "event_type")
    )


@register(
    "events_time_to_conversion",
    oracle="""
WITH s AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT user_id, MIN(ts) AS first_purchase_ts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
lat AS (
  -- elapsed hours = floor(whole-seconds delta / 3600); DuckDB's
  -- date_diff('hour') counts calendar-boundary crossings instead,
  -- which disagrees with elapsed-time semantics.
  SELECT s.user_id,
         CAST(floor(date_diff('second', s.signup_ts,
                              p.first_purchase_ts) / 3600.0) AS BIGINT)
           AS hours
  FROM s JOIN p USING (user_id)
  WHERE p.first_purchase_ts >= s.signup_ts
)
SELECT CAST(hours // 24 AS BIGINT) AS days_bucket,
       COUNT(*) AS n_users,
       CAST(MIN(hours) AS BIGINT) AS min_hours,
       CAST(MAX(hours) AS BIGINT) AS max_hours
FROM lat GROUP BY 1 ORDER BY days_bucket
""",
    doc="Time-to-conversion distribution: per user, latency from "
    "first signup to first purchase (only conversions AFTER signup "
    "count), bucketed into days — the survival-curve input every "
    "growth dashboard needs. Two per-key MIN aggregates (map-side "
    "combined: each is one row per user per partition) + one user "
    "equi-join + a histogram groupBy; no windows, no sort over "
    "events. Integer hour arithmetic on both engines.",
)
def events_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    hours = F.floor(
        (
            F.col("first_purchase_ts").cast("long")
            - F.col("signup_ts").cast("long")
        )
        / 3600
    )
    lat = (
        s.join(p, "user_id")
        .filter(F.col("first_purchase_ts") >= F.col("signup_ts"))
        .select(hours.alias("hours"))
    )
    return (
        lat.groupBy(F.floor(F.col("hours") / 24).cast("bigint").alias("days_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("hours").cast("bigint").alias("min_hours"),
            F.max("hours").cast("bigint").alias("max_hours"),
        )
        .orderBy("days_bucket")
    )


@register(
    "events_funnel_3step",
    oracle="""
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_view_click,
       (SELECT COUNT(*) FROM p) AS n_view_click_purchase
""",
    doc="Strict-ORDER 3-step funnel (view -> click AFTER that view "
    "-> purchase AFTER that click): each stage is a per-user MIN "
    "aggregate filtered to events strictly after the previous "
    "stage's first completion — the chained-min formulation, which "
    "needs NO window and no per-user event sorting: three map-side-"
    "combined aggregates chained by user equi-joins. Contrast with "
    "events_funnel's 2-step unordered form. Step counts are "
    "monotonically non-increasing by construction.",
)
def events_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_after(etype: str, prev, prev_col: str, out: str):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(out))
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    v = first_after("view", None, "", "t_view")
    c = first_after("click", v, "t_view", "t_click")
    p = first_after("purchase", c, "t_click", "t_purchase")
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(
            F.broadcast(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        )
        .crossJoin(
            F.broadcast(
                p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
            )
        )
    )
    return counts


@register(
    "events_dau_wau_mtd",
    oracle="""
WITH masks AS (
  SELECT user_id, bit_or(1::BIGINT << (day(ts) - 1)) AS m
  FROM events GROUP BY user_id
),
days AS (SELECT CAST(d AS INT) AS d FROM range(1, 32) t(d))
SELECT d AS day_of_jan,
       CAST(SUM(CASE WHEN m & (1::BIGINT << (d - 1)) != 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS dau,
       CAST(SUM(CASE WHEN m & (((1::BIGINT << d) - 1)
                               - ((1::BIGINT << greatest(d - 7, 0)) - 1))
                        != 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS wau,
       CAST(SUM(CASE WHEN m & ((1::BIGINT << d) - 1) != 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS mtd_au
FROM masks, days
GROUP BY d ORDER BY d
""",
    doc="DAU / trailing-7-day WAU / month-to-date actives for every "
    "January day, computed from the per-user activity BITMAP (one "
    "bit_or aggregate over events — the agg_activity_bitmap "
    "representation put to work): activity-in-range collapses to "
    "one AND against a range mask, so the 31-day dashboard costs "
    "users x 31 cheap bit tests (a flat explode, no join, no "
    "distinct-count per window — the rolling COUNT(DISTINCT) this "
    "replaces shuffles the raw event stream once PER WINDOW SIZE). "
    "WAU mask = bits [d-6, d] via subtraction of powers of two; "
    "the masks nest, so [d-6,d] = (2^d - 1) - (2^(d-7) - 1) by plain "
    "subtraction on both engines. Integer-exact parity.",
)
def events_dau_wau_mtd(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    masks = ev.groupBy("user_id").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), dayofmonth(ts) - 1))").alias(
            "m"
        )
    )
    exploded = masks.select(
        # 1..31: the FULL January grid (a 1..30 grid matches the
        # current data window but would silently drop any Jan-31
        # activity from the dashboard on both engines).
        "m", F.explode(F.sequence(F.lit(1), F.lit(31))).alias("d")
    )
    day_bit = F.expr("shiftleft(CAST(1 AS BIGINT), d - 1)")
    mtd_mask = F.expr("shiftleft(CAST(1 AS BIGINT), d) - 1")
    wau_lo = F.expr("shiftleft(CAST(1 AS BIGINT), greatest(d - 7, 0)) - 1")
    hit = lambda mask: F.sum(  # noqa: E731
        F.when(F.col("m").bitwiseAND(mask) != 0, 1).otherwise(0)
    ).cast("bigint")
    return (
        exploded.groupBy(F.col("d").cast("int").alias("day_of_jan"))
        .agg(
            hit(day_bit).alias("dau"),
            hit(mtd_mask - wau_lo).alias("wau"),
            hit(mtd_mask).alias("mtd_au"),
        )
    )


@register(
    "events_peak_concurrency",
    oracle="""
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
),
deltas AS (
  SELECT date_trunc('day', s) AS day, s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT date_trunc('day', s) AS day,
         least(e, date_trunc('day', s) + INTERVAL 1 DAY) AS t,
         -1 AS delta
  FROM iv
),
swept AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS live
  FROM deltas
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(MAX(live) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY day ORDER BY day
""",
    doc="Peak concurrency per day by sweep line: each event opens a "
    "30-minute presence interval, +1/-1 deltas sort along the day's "
    "timeline, the running sum's max is the peak. The sweep is "
    "PARTITIONED BY DAY with end-events clipped to the day boundary "
    "— the global-timeline sweep would serialize through one task "
    "at 100 TB, the day-partitioned form scales with days x events/"
    "day and matches how a dashboard consumes it. Tie rule: at an "
    "identical instant, ends (-1) sort before starts (+1), i.e. "
    "half-open [s, e) intervals — identical ORDER BY (t, delta) on "
    "both engines.",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
        F.date_trunc("day", "ts").alias("day"),
    )
    starts = iv.select("day", F.col("s").alias("t"), F.lit(1).alias("delta"))
    ends = iv.select(
        "day",
        F.least(
            F.col("e"), F.col("day") + F.expr("INTERVAL 1 DAY")
        ).alias("t"),
        F.lit(-1).alias("delta"),
    )
    deltas = starts.unionByName(ends)
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = deltas.select("day", F.sum("delta").over(w).alias("live"))
    return (
        swept.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.max("live").cast("bigint").alias("peak_concurrent"))
        .orderBy("day")
    )


@register(
    "events_rfm_segmentation",
    oracle="""
WITH rfm AS (
  SELECT user_id,
         date_diff('second', MAX(ts), TIMESTAMP '2024-01-31 00:00:00')
           AS recency_s,
         COUNT(*) AS frequency,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS monetary_cents
  FROM events GROUP BY user_id
),
scored AS (
  SELECT user_id,
         ntile(5) OVER (ORDER BY recency_s, user_id) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m_score
  FROM rfm
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_users,
       CAST(MIN(user_id) AS BIGINT) AS example_user
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
    doc="RFM customer segmentation: per-user recency (seconds before "
    "the Jan-31 anchor), frequency, and purchase monetary value "
    "fold in ONE events pass; each metric then quintile-scores "
    "WITHOUT a global ntile window (the user "
    "aggregate grows with the data): per-metric row ranks come from "
    "operators/prefix.py dist_rank (two-phase bucketed prefix "
    "counts), and ntile_from_rank converts rank + broadcast user "
    "count into the exact SQL-standard ntile(5) bucket, bit-equal "
    "to the window function the oracle keeps. Tie plateaus (every "
    "non-purchaser has monetary 0; frequency is small-int) bucket "
    "on plateau-value * user-id-block, monotone in the (metric, "
    "user_id) rank order; the block width derives from a broadcast "
    "MAX(user_id) so monotonicity holds at any id range (a fixed "
    "width breaks past 2^20). user_id tiebreaks make every quintile "
    "assignment deterministic cross-engine; score-1 means best in "
    "each dimension (most recent / most frequent / highest spend). "
    "Output is the 5x5x5 segment-size cube.",
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.prefix import (
        dist_rank,
        ntile_from_rank,
    )

    ev = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-01-31 00:00:00").cast("timestamp")
    rfm = ev.groupBy("user_id").agg(
        (
            anchor.cast("long") - F.max("ts").cast("long")
        ).alias("recency_s"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("monetary_cents"),
    )
    # Four consumers (three rank passes + the count scalar):
    # materialize the per-user aggregate once.
    rfm = rfm.localCheckpoint(eager=False)
    # Plateau fan-out block width DERIVED from the observed id range:
    # the frequency bucket negf * 4096 + uid_block is
    # monotone in (negf, user_id) only while uid_block < 4096. A
    # fixed 256-wide block silently breaks once user_id >= 2^20, so
    # the width comes from a broadcast MAX instead — uid_block =
    # floor(user_id / ceil((max_uid + 1) / 4096)) <= 4095 at ANY
    # scale, and monotonicity in user_id is preserved by floor.
    uid_stats = rfm.agg(F.max("user_id").alias("_max_uid"))
    m = (
        rfm.withColumn("negf", -F.col("frequency"))
        .withColumn("negm", -F.col("monetary_cents"))
        .crossJoin(F.broadcast(uid_stats))
    )
    bw = F.greatest(
        F.floor(F.col("_max_uid") / 4096) + 1, F.lit(1)
    )
    ublock = F.floor(F.col("user_id") / bw)
    # Recency: near-unique seconds; MINUTE range cells — occupied
    # bucket count is bounded by the time domain (~43k/month) while
    # per-cell occupancy is the per-minute cohort, so neither the
    # bucket-totals pass nor any single cell grows with user count
    # (day cells put 1/31 of all users through one partition).
    m = dist_rank(
        m,
        ["recency_s", "user_id"],
        F.floor(F.col("recency_s") / 60),
        out_col="r_rnk",
    )
    # Frequency DESC: plateau-heavy small-int counts, so each plateau
    # value fans out over <= 4096 user-id blocks whose width derives
    # from the broadcast max — monotone in (negf, user_id) at ANY id
    # range (see bw above); occupied buckets <= 4096 * |distinct f|.
    m = dist_rank(
        m,
        ["negf", "user_id"],
        F.col("negf") * 4096 + ublock,
        out_col="f_rnk",
    )
    # Three consumers below (pos/zer/neg branches) would each re-run
    # the two dist_rank pipelines above — Spark does not dedupe
    # common subplans — so materialize once.
    m = m.localCheckpoint(eager=False)
    # Monetary DESC is MULTIMODAL: positives are near-unique (a
    # value-keyed fan-out bucket would put one bucket per purchaser —
    # an O(n) single-task totals pass), zero holds every
    # non-purchaser (a range bucket would put them all in ONE
    # partition), and NEGATIVE totals (refund-heavy users) are rare
    # but must not vanish (a two-way split would drop them from the
    # output and shift every ntile boundary). Split
    # three ways on the zero plateau: positives range-bucket on $100
    # cells (occupied cells bounded by the spend DOMAIN); zeros rank
    # by user_id over uid blocks and shift by the broadcast positive
    # count; refunds range-bucket on the same $100 cells and shift by
    # positives + zeros. The global order negm ASC puts negatives
    # (negm < 0) first, the zero plateau next, refunds (negm > 0)
    # last, so the shifted union is exactly row_number over
    # (negm, user_id) — the oracle's ntile(5) ORDER BY monetary DESC.
    pos = dist_rank(
        m.filter(F.col("negm") < 0),
        ["negm", "user_id"],
        F.floor(F.col("negm") / 10_000),
        out_col="m_rnk",
    )
    # Count scalars ride the cheap checkpointed per-user aggregate,
    # not the rank pipelines.
    n_pos = rfm.filter(F.col("monetary_cents") > 0).agg(
        F.count(F.lit(1)).alias("npos")
    )
    n_zer = rfm.filter(F.col("monetary_cents") == 0).agg(
        F.count(F.lit(1)).alias("nzer")
    )
    zer = (
        dist_rank(
            m.filter(F.col("negm") == 0),
            ["user_id"],
            ublock,
            out_col="m_rnk",
        )
        .crossJoin(F.broadcast(n_pos))
        .withColumn("m_rnk", F.col("m_rnk") + F.col("npos"))
        .drop("npos")
    )
    neg = (
        dist_rank(
            m.filter(F.col("negm") > 0),
            ["negm", "user_id"],
            F.floor(F.col("negm") / 10_000),
            out_col="m_rnk",
        )
        .crossJoin(F.broadcast(n_pos))
        .crossJoin(F.broadcast(n_zer))
        .withColumn("m_rnk", F.col("m_rnk") + F.col("npos") + F.col("nzer"))
        .drop("npos", "nzer")
    )
    m = pos.unionByName(zer).unionByName(neg)
    n_users = rfm.agg(F.count(F.lit(1)).alias("nu"))
    nu = F.col("nu")
    scored = m.crossJoin(F.broadcast(n_users)).select(
        "user_id",
        ntile_from_rank(F.col("r_rnk"), nu, 5).alias("r_score"),
        ntile_from_rank(F.col("f_rnk"), nu, 5).alias("f_score"),
        ntile_from_rank(F.col("m_rnk"), nu, 5).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").cast("bigint").alias("example_user"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "events_audience_overlap",
    oracle="""
WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
sizes AS (SELECT t, COUNT(*) AS n FROM tu GROUP BY t),
inter AS (
  SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS n_both
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT type_a, type_b, n_both,
       sa.n AS n_a, sb.n AS n_b,
       ROUND(n_both / CAST(sa.n + sb.n - n_both AS DOUBLE), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.t = type_a
JOIN sizes sb ON sb.t = type_b
ORDER BY type_a, type_b
""",
    doc="Audience-overlap matrix: for every event-type pair, the "
    "user-set intersection size and Jaccard similarity — the "
    "segment-overlap report behind campaign planning. Distinct "
    "(type, user) pairs once (map-side combined), then a USER "
    "equi-join produces intersections grouped by type pair — the "
    "join shuffles the distinct pair stream once (|types| x "
    "|users| rows at most) and the OUTPUT is bounded by |types|^2; "
    "set sizes join back as a broadcast dim. At billions of users "
    "the same matrix comes from HLL sketch unions "
    "(agg_hll_mergeable) with ~2% error instead of exact counting.",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select(F.col("event_type").alias("t"), "user_id").distinct()
    sizes = tu.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(F.col("t").alias("type_a"), "user_id")
    b = tu.select(F.col("t").alias("type_b"), F.col("user_id").alias("u2"))
    inter = (
        a.join(b, (a.user_id == b.u2) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "events_seasonality_index",
    oracle="""
WITH hourly AS (
  SELECT hour(ts) AS hr, COUNT(*) AS n FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) / 24.0 AS mean_per_hour FROM hourly)
SELECT hr, n AS n_events,
       ROUND(n / tot.mean_per_hour, 6) AS seasonal_index
FROM hourly, tot
ORDER BY hr
""",
    doc="Hour-of-day seasonality index: each hour's event volume "
    "relative to the uniform per-hour mean (index 1.0 = flat). One "
    "24-group aggregate plus a broadcast scalar — the profile that "
    "feeds anomaly baselines (stat_rolling_zscore's expected-load "
    "prior) and capacity schedules. Integer counts divided by an "
    "identical double on both engines.",
)
def events_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    tot = hourly.agg(
        (F.sum("n_events").cast("double") / 24.0).alias("mean_per_hour")
    )
    return (
        hourly.crossJoin(F.broadcast(tot))
        .select(
            "hr",
            "n_events",
            F.round(
                F.col("n_events") / F.col("mean_per_hour"), 6
            ).alias("seasonal_index"),
        )
        .orderBy("hr")
    )


@register(
    "events_cumulative_reach",
    oracle="""
WITH first_day AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS d FROM events
  GROUP BY user_id
),
daily_new AS (SELECT d, COUNT(*) AS n_new FROM first_day GROUP BY d)
SELECT strftime(d, '%Y-%m-%d') AS day, n_new,
       CAST(SUM(n_new) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS reach
FROM daily_new ORDER BY day
""",
    doc="Cumulative reach curve: distinct users ever seen, by day. "
    "The rolling COUNT(DISTINCT) rewrite: each user contributes on "
    "exactly their FIRST-seen day (one min-aggregate per user, "
    "map-side combined), daily new-user counts aggregate to ~30 "
    "rows, and the cumulative sum runs over that aggregate-bounded "
    "series — no day-by-day distinct scans (the naive form rescans "
    "the table once per day). Same first-occurrence decomposition "
    "as window_running_distinct, applied at corpus-growth scale.",
)
def events_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("d")
    )
    daily_new = first_day.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily_new.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_new",
            F.sum("n_new").over(w).cast("bigint").alias("reach"),
        )
        .orderBy("day")
    )


@register(
    "events_error_rate_sli",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         COUNT(*) AS n_total,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
  FROM events GROUP BY 1
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       n_total, CAST(n_err AS BIGINT) AS n_err,
       ROUND(n_err / CAST(n_total AS DOUBLE), 6) AS error_rate,
       ROUND(SUM(n_err) OVER w / CAST(SUM(n_total) OVER w AS DOUBLE), 6)
         AS error_rate_7d
FROM daily
WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY day
""",
    doc="Error-rate SLI with a trailing-7-day burn window: daily "
    "error share plus the rolling ratio-of-sums (NOT mean-of-"
    "ratios — low-traffic days must not dominate the weekly SLI, "
    "the standard SRE aggregation rule). One (day, counts) "
    "aggregate over events; both the daily ratio and the 7-day "
    "frame run over the ~30-row day series (aggregate-bounded "
    "window). Integer counts divide to engine-identical doubles.",
)
def events_error_rate_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_err"),
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (
        daily.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_total",
            F.col("n_err").cast("bigint").alias("n_err"),
            F.round(
                F.col("n_err") / F.col("n_total").cast("double"), 6
            ).alias("error_rate"),
            F.round(
                F.sum("n_err").over(w)
                / F.sum("n_total").over(w).cast("double"),
                6,
            ).alias("error_rate_7d"),
        )
        .orderBy("day")
    )
