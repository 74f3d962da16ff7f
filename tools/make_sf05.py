"""Generate a TRUE synthetic sf0.5 dataset under /tmp for the scaling
study's fourth decade (distinct values grow with SF; no key-shifted
replication of a smaller decade).

The driver ships sf{0.001,0.01,0.1} only and /root/testdata is
read-only, so the fourth point is GENERATED from scratch with the
same construction the shipped decades evidently use — measured from
sf0.1 (tools-local analysis):

* dims: region/nation are the fixed 5/25-row literals;
* customer/supplier/part/orders: uniform keys over 5x ranges, the
  same categorical domains (5 mktsegments, 25 brands, 6 types, 3
  statuses, 5 priorities), uniform acctbal(-1000, 10000),
  retailprice(900, 1000), totalprice(1000, 500000), orderdate
  uniform 1995-01-01..2001-08-01;
* lineitem: per-order line count ~ Poisson(mean 4) (sf0.1's
  empirical PMF matches to <1% per cell, including 1.8% zero-line
  orders), quantity 1..50, extendedprice uniform(900, 105000)
  independent of quantity (measured: corr 0.001, flat E[p|q]),
  discount 0..0.10 step .01, tax 0..0.08 step .01, shipdate =
  orderdate + 1..95 days, uniform A/N/R x F/O flags;
* events: uniform users (events/user ~ Poisson(67) emerges), ts
  uniform over 2024-01-01..31, value ~ Exponential(mean 50),
  props = '{"k": 0..99}';
* documents: 10..100 words uniform over the observed 30-word vocab,
  source = 'src'||(doc_id%20), lang weights en .4 / de es fr zh .15,
  and 5% of docs are COPIES of an earlier doc's text + ' dup' (the
  shipped data's planted near-dup structure: 250/5000 ' dup' docs at
  sf0.1, 239 of which exactly match an original — collisions between
  two dup docs picking the same source reproduce the ~8 exact-dup
  pairs);
* embeddings: v = normalize(N(0, I_64) + 0.56 * centroid[label]),
  centroids seeded-unit-random — matches the measured within-label
  mean cosine ~0.07 and exact unit norms.

Everything is generated DISTRIBUTED (spark.range + xxhash64-seeded
Catalyst expressions, Box-Muller for normals; zero driver-side row
loops, zero rand()) and deterministic under SEED — so distinct-value
growth is now genuinely linear in SF: no repeated fact values, no
replicated payloads, and the old "TPC-H fact values repeat 5x"
SCALING.md caveat is gone.

The generator is SF-parameterized — the
construction above is per-SF row counts scaled linearly, so any
decade point can be produced. The scaling study generates sf0.5 AND
sf1.0, giving the superlinear-operator screen a true 10x step
(sf0.1 -> sf1).

Usage: python tools/make_sf05.py [SCALE]   (idempotent; writes
       /tmp/spark_graft_sf{SCALE}/{table}.parquet; default 0.5)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42
SCALE = 0.5  # default target scale factor


def out_dir_for(scale: float) -> str:
    return f"/tmp/spark_graft_sf{scale:g}"


OUT_DIR = out_dir_for(SCALE)

# Rows per 1.0 SF, from the shipped decades (each is exactly 10x the
# previous): sf0.1 has 15000 customers, 1000 suppliers, ...
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
USERS_PER_SF = 15_000  # events.user_id domain (1500 at sf0.1)

MKTSEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]  # weights .4 / .15 each
ORDERDATE_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EMB_DIM = 64
EMB_LABELS = 10
EMB_ALPHA = 0.56  # label-signal strength -> within-label cos ~ alpha/8


def _u(*cols, salt: str) -> Column:
    """Deterministic uniform double in [0, 1) from xxhash64."""
    return F.pmod(
        F.xxhash64(*cols, F.lit(salt), F.lit(SEED)), F.lit(2**53)
    ) / F.lit(float(2**53))


def _i(*cols, salt: str, n: int) -> Column:
    """Deterministic uniform int in [0, n)."""
    return F.pmod(F.xxhash64(*cols, F.lit(salt), F.lit(SEED)), F.lit(n))


def _pick(options: list[str], *cols, salt: str) -> Column:
    return F.element_at(
        F.array(*[F.lit(o) for o in options]),
        (_i(*cols, salt=salt, n=len(options)) + 1).cast("int"),
    )


def _gauss(*cols, salt: str) -> Column:
    """Standard normal via Box-Muller on two hash uniforms (u1 nudged
    off 0 so ln() is finite)."""
    u1 = (
        F.pmod(F.xxhash64(*cols, F.lit(salt + "/1"), F.lit(SEED)), F.lit(2**53))
        + 1
    ) / F.lit(float(2**53))
    u2 = _u(*cols, salt=salt + "/2")
    return F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * math.pi * u2)


def _poisson4_cdf(max_k: int = 20) -> list[float]:
    pmf, cdf, acc = [], [], 0.0
    for k in range(max_k + 1):
        p = math.exp(-4.0) * 4.0**k / math.factorial(k)
        acc += p
        cdf.append(acc)
    cdf[-1] = 1.0  # truncate the tail into the last bucket
    return cdf


def _n_lines(u: Column) -> Column:
    """Per-order line count ~ Poisson(4) via inverse CDF."""
    cdf = _poisson4_cdf()
    expr = F.lit(len(cdf) - 1)
    for k in range(len(cdf) - 2, -1, -1):
        expr = F.when(u < cdf[k], F.lit(k)).otherwise(expr)
    return expr


def _doc_words(id_col: Column, n_words: Column) -> Column:
    """n_words uniform draws from VOCAB, joined by single spaces."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words.cast("int")),
            lambda i: F.element_at(
                vocab,
                (
                    F.pmod(
                        F.xxhash64(id_col, i, F.lit("word"), F.lit(SEED)),
                        F.lit(len(VOCAB)),
                    )
                    + 1
                ).cast("int"),
            ),
        ),
        " ",
    )


def _scaled(table: str, scale: float) -> int:
    return int(ROWS_PER_SF[table] * scale)


def _gen_dims(spark: SparkSession) -> dict[str, DataFrame]:
    region = spark.createDataFrame(
        [(i, n) for i, n in enumerate(REGIONS)], "r_regionkey int, r_name string"
    )
    nation = spark.createDataFrame(
        [(i, f"NATION_{i}", i % 5) for i in range(25)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    return {"region": region, "nation": nation}


def _gen_customer(spark: SparkSession, scale: float) -> DataFrame:
    ids = spark.range(_scaled("customer", scale))
    return ids.select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        _i("id", salt="c_nat", n=25).cast("int").alias("c_nationkey"),
        F.round(-1000.0 + 11000.0 * _u("id", salt="c_bal"), 2).alias(
            "c_acctbal"
        ),
        _pick(MKTSEGMENTS, "id", salt="c_seg").alias("c_mktsegment"),
    )


def _gen_supplier(spark: SparkSession, scale: float) -> DataFrame:
    ids = spark.range(_scaled("supplier", scale))
    return ids.select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        _i("id", salt="s_nat", n=25).cast("int").alias("s_nationkey"),
        F.round(-1000.0 + 11000.0 * _u("id", salt="s_bal"), 2).alias(
            "s_acctbal"
        ),
    )


def _gen_part(spark: SparkSession, scale: float) -> DataFrame:
    ids = spark.range(_scaled("part", scale))
    return ids.select(
        F.col("id").alias("p_partkey"),
        F.concat_ws(
            " ",
            _pick(ADJECTIVES, "id", salt="p_adj"),
            _pick(NOUNS, "id", salt="p_noun"),
        ).alias("p_name"),
        F.concat(F.lit("Brand#"), _i("id", salt="p_brand", n=25)).alias(
            "p_brand"
        ),
        _pick(PTYPES, "id", salt="p_type").alias("p_type"),
        (_i("id", salt="p_size", n=50) + 1).cast("int").alias("p_size"),
        F.round(900.0 + 100.0 * _u("id", salt="p_price"), 2).alias(
            "p_retailprice"
        ),
    )


def _gen_orders(spark: SparkSession, scale: float) -> DataFrame:
    n_cust = _scaled("customer", scale)
    ids = spark.range(_scaled("orders", scale))
    return ids.select(
        F.col("id").alias("o_orderkey"),
        _i("id", salt="o_cust", n=n_cust).alias("o_custkey"),
        _pick(STATUSES, "id", salt="o_stat").alias("o_orderstatus"),
        F.round(1000.0 + 499000.0 * _u("id", salt="o_total"), 2).alias(
            "o_totalprice"
        ),
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            _i("id", salt="o_date", n=ORDERDATE_DAYS + 1).cast("int"),
        )
        .cast("timestamp")
        .alias("o_orderdate"),
        _pick(PRIORITIES, "id", salt="o_prio").alias("o_orderpriority"),
    )


def _gen_lineitem(spark: SparkSession, orders: DataFrame, scale: float) -> DataFrame:
    n_part = _scaled("part", scale)
    n_supp = _scaled("supplier", scale)
    base = orders.select(
        "o_orderkey",
        "o_orderdate",
        _n_lines(_u("o_orderkey", salt="l_n")).alias("_n"),
    ).filter(F.col("_n") >= 1)
    k = F.col("o_orderkey")
    pos = F.col("_pos")
    qty = (_i(k, pos, salt="l_qty", n=50) + 1).cast("double")
    return (
        base.select(
            "o_orderkey",
            "o_orderdate",
            F.explode(F.sequence(F.lit(1), F.col("_n").cast("int"))).alias(
                "_pos"
            ),
        )
        .select(
            k.alias("l_orderkey"),
            _i(k, pos, salt="l_part", n=n_part).alias("l_partkey"),
            _i(k, pos, salt="l_supp", n=n_supp).alias("l_suppkey"),
            (F.pmod(pos - 1, F.lit(7)) + 1).cast("int").alias("l_linenumber"),
            qty.alias("l_quantity"),
            # Independent of quantity, matching the shipped decades:
            # corr(extprice, qty) = 0.001 at sf0.1 and
            # E[extprice | qty] is flat ~52.9k for qty 1 and 50.
            F.round(
                900.0 + 104100.0 * _u(k, pos, salt="l_unit"), 2
            ).alias("l_extendedprice"),
            (_i(k, pos, salt="l_disc", n=11) / 100.0).alias("l_discount"),
            (_i(k, pos, salt="l_tax", n=9) / 100.0).alias("l_tax"),
            _pick(["A", "N", "R"], k, pos, salt="l_rf").alias("l_returnflag"),
            _pick(["F", "O"], k, pos, salt="l_ls").alias("l_linestatus"),
            F.timestamp_add(
                "DAY",
                (_i(k, pos, salt="l_ship", n=95) + 1).cast("int"),
                F.col("o_orderdate"),
            ).alias("l_shipdate"),
        )
    )


def _gen_events(spark: SparkSession, scale: float) -> DataFrame:
    n_users = int(USERS_PER_SF * scale)
    start_us = 1704067200 * 1_000_000  # 2024-01-01 UTC
    span_us = 30 * 86400 * 1_000_000
    ids = spark.range(_scaled("events", scale))
    return ids.select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            (F.lit(start_us) + (_u("id", salt="e_ts") * span_us).cast("long"))
        ).alias("ts"),
        _i("id", salt="e_user", n=n_users).alias("user_id"),
        _pick(
            ["click", "error", "purchase", "signup", "view"],
            "id",
            salt="e_type",
        ).alias("event_type"),
        F.round(
            -50.0 * F.log(1.0 - _u("id", salt="e_val")), 2
        ).alias("value"),
        F.format_string(
            '{"k": %d}', _i("id", salt="e_props", n=100)
        ).alias("props"),
    )


def _gen_documents(spark: SparkSession, scale: float) -> DataFrame:
    n_docs = _scaled("documents", scale)
    ids = spark.range(n_docs)
    id_ = F.col("id")
    n_words = 10 + _i("id", salt="d_len", n=91)
    # 5% of docs copy an EARLIER doc's text + ' dup' (the planted
    # near-dup structure). The source doc's text is recomputed from
    # its id via the same deterministic expression — zero joins. A
    # source that is itself a dup-doc is nudged down one id, REPEATED
    # until the landed-on id is a non-dup: a single step could land on
    # another dup (~5% chance), whose recomputed body is NOT its
    # actual text. Six unrolled steps bound the residual
    # at 20^-6 ≈ 1.6e-8 per doc — zero expected misses even at sf1.
    is_dup = (_i("id", salt="d_isdup", n=20) == 19) & (id_ >= 20)
    src_raw = _i("id", salt="d_src", n=n_docs)
    src = F.when(src_raw >= id_, F.pmod(src_raw, F.greatest(id_, F.lit(1))))\
        .otherwise(src_raw)
    for _ in range(6):
        src = F.when(
            (_i(src, salt="d_isdup", n=20) == 19) & (src >= 20), src - 1
        ).otherwise(src)
    # Materialize (id, src) before building text: every unrolled
    # nudge step references the previous src expression ~4x (cond
    # hash, bound check, then/else), so the inlined tree is ~4^6
    # copies of the base hash expression — and _doc_words would embed
    # that tree once PER GENERATED WORD (up to 100). The checkpoint
    # collapses src to a plain column (2 longs x n_docs — tiny) so
    # Catalyst analyzes the text expression once, not 10^5 times.
    # Values are identical; only the plan shrinks.
    ids = ids.select(id_, src.alias("_src")).localCheckpoint(eager=True)
    src = F.col("_src")
    src_words = 10 + _i(src, salt="d_len", n=91)
    text = F.when(
        is_dup, F.concat(_doc_words(src, src_words), F.lit(" dup"))
    ).otherwise(_doc_words(id_, n_words))
    lang_u = _u("id", salt="d_lang")
    lang = (
        F.when(lang_u < 0.40, "en")
        .when(lang_u < 0.55, "de")
        .when(lang_u < 0.70, "es")
        .when(lang_u < 0.85, "fr")
        .otherwise("zh")
    )
    return ids.select(
        id_.alias("doc_id"),
        text.alias("text"),
        lang.alias("lang"),
        F.concat(F.lit("src"), (id_ % 20)).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def _gen_embeddings(spark: SparkSession, scale: float) -> DataFrame:
    rng = np.random.default_rng(SEED)
    cents = rng.standard_normal((EMB_LABELS, EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cent_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in row])
            for row in cents
        ]
    )
    ids = spark.range(_scaled("embeddings", scale))
    label = _i("id", salt="v_label", n=EMB_LABELS).cast("int")
    raw = F.transform(
        F.sequence(F.lit(1), F.lit(EMB_DIM)),
        lambda d: _gauss("id", d, salt="v_g")
        + EMB_ALPHA
        * F.element_at(F.element_at(cent_lit, F.col("_lbl") + 1), d),
    )
    with_raw = ids.withColumn("_lbl", label).withColumn("_raw", raw)
    norm = F.sqrt(
        F.aggregate(
            F.col("_raw"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return with_raw.select(
        F.col("id").alias("vec_id"),
        F.transform(F.col("_raw"), lambda x: (x / norm).cast("float")).alias(
            "embedding"
        ),
        F.col("_lbl").alias("label"),
    )


_MARKER = "_GEN_COMPLETE"


def generate(
    spark: SparkSession, out_dir: str | None = None, scale: float = SCALE
) -> str:
    """Write all ten tables; idempotent per (seed, scale) marker."""
    if out_dir is None:
        out_dir = out_dir_for(scale)
    # The version names the dup-source rule (six iterated nudges);
    # change it whenever generated content changes, so trees written
    # under an older rule regenerate.
    tag = f"seed={SEED} scale={scale} v=r10-nudge6"
    marker = os.path.join(out_dir, _MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == tag:
                return out_dir
    tables: dict[str, DataFrame] = dict(_gen_dims(spark))
    tables["customer"] = _gen_customer(spark, scale)
    tables["supplier"] = _gen_supplier(spark, scale)
    tables["part"] = _gen_part(spark, scale)
    orders = _gen_orders(spark, scale)
    tables["orders"] = orders
    tables["lineitem"] = _gen_lineitem(spark, orders, scale)
    tables["events"] = _gen_events(spark, scale)
    tables["documents"] = _gen_documents(spark, scale)
    tables["embeddings"] = _gen_embeddings(spark, scale)
    files = {"lineitem": 32, "orders": 16, "events": 8}
    for name, df in tables.items():
        df.repartition(files.get(name, 4)).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    with open(marker, "w") as fh:
        fh.write(tag)
    return out_dir


if __name__ == "__main__":
    from hdfs_parquet_importer_spark.session import build_session

    scale_arg = float(sys.argv[1]) if len(sys.argv) > 1 else SCALE
    spark = build_session(
        "make-sf05",
        shuffle_partitions=32,
        conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "64g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    d = generate(spark, scale=scale_arg)
    for t in sorted(
        ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]
    ):
        n = spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()
        print(f"{t}: {n}")
    print(d)
