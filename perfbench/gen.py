"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + PyArrow on the driver: no Spark session is
needed, so input generation never warms the JVM that set-up measures.
The same ``seed`` always yields byte-identical inputs.

* :func:`make_tables` writes the ten star-schema / corpus tables the
  query registry reads (``tables.TABLE_NAMES``), one Parquet file each,
  with the column types and value domains of the shipped test data.
* :func:`make_tweets` writes a tweets CSV with the 31 columns of
  ``fixtures/tweets.schema`` and plants a known share of rows whose
  ``tweet_time`` is corrupt by content, returning what the ETL output
  must look like (row count, partition set, read-back digest).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Rows per 1.0 scale factor (the shipped decades are exact multiples).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}
USERS_PER_SF = 15_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKTSEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
ORDERDATE_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EMB_DIM = 64
EMB_LABELS = 10
EMB_ALPHA = 0.56

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01 UTC
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC


def table_rows(name: str, sf: float) -> int:
    return max(MIN_ROWS.get(name, 1), int(round(ROWS_PER_SF[name] * sf)))


def _pick(rng: np.random.Generator, options: list[str], n: int) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = table_rows("customer", sf)
    n_supp = table_rows("supplier", sf)
    n_part = table_rows("part", sf)
    n_ord = table_rows("orders", sf)
    n_li = table_rows("lineitem", sf)
    n_ev = table_rows("events", sf)
    n_doc = table_rows("documents", sf)
    n_emb = table_rows("embeddings", sf)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-1000.0, 10000.0, n_cust), 2),
        "c_mktsegment": _pick(rng, MKTSEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-1000.0, 10000.0, n_supp), 2),
    })
    pk = np.arange(n_part)
    adj = _pick(rng, ADJECTIVES, n_part)
    noun = _pick(rng, NOUNS, n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n_ord)
    odate = _EPOCH_1995_US + rng.integers(0, ORDERDATE_DAYS + 1, n_ord) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, STATUSES, n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lok = rng.integers(0, n_ord, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 96, n_li) * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": _ts(_EPOCH_2024_US + ev_ts),
        "user_id": rng.integers(0, max(1, int(USERS_PER_SF * sf)), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """10..100 vocabulary words per doc; 5% of docs (id >= 20) copy an
    earlier non-copy doc's text plus ' dup' — the planted near-dups the
    dedup operators look for."""
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    is_dup = (rng.random(n) < 0.05) & (np.arange(n) >= 20)
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        earlier = originals[originals < i]
        texts[i] = texts[earlier[rng.integers(0, len(earlier))]] + " dup"
    ids = np.arange(n)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    cents = rng.standard_normal((EMB_LABELS, EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, n)
    raw = rng.standard_normal((n, EMB_DIM)) + EMB_ALPHA * cents[labels]
    vecs = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _ready(out_dir: str, tag: str) -> bool:
    try:
        with open(os.path.join(out_dir, "_READY")) as fh:
            return fh.read() == tag
    except OSError:
        return False


def _mark_ready(out_dir: str, tag: str) -> None:
    with open(os.path.join(out_dir, "_READY"), "w") as fh:
        fh.write(tag)


def make_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; idempotent."""
    tag = f"tables seed={seed} sf={sf:g}"
    if _ready(out_dir, tag):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    for name, table in _tables(rng, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    _mark_ready(out_dir, tag)
    return out_dir


# ---------------------------------------------------------------- tweets

TWEET_COLUMNS: list[tuple[str, str]] = [
    ("tweetid", "Long"),
    ("userid", "String"),
    ("user_display_name", "String"),
    ("user_screen_name", "String"),
    ("user_reported_location", "String"),
    ("user_profile_description", "String"),
    ("user_profile_url", "String"),
    ("follower_count", "Long"),
    ("following_count", "Long"),
    ("account_creation_date", "String"),
    ("account_language", "String"),
    ("tweet_language", "String"),
    ("tweet_text", "String"),
    ("tweet_time", "String"),
    ("tweet_client_name", "String"),
    ("in_reply_to_tweetid", "Long"),
    ("in_reply_to_userid", "String"),
    ("quoted_tweet_tweetid", "Long"),
    ("is_retweet", "Boolean"),
    ("retweet_userid", "String"),
    ("retweet_tweetid", "Long"),
    ("latitude", "Double"),
    ("longitude", "Double"),
    ("quote_count", "Long"),
    ("reply_count", "Long"),
    ("like_count", "Long"),
    ("retweet_count", "Long"),
    ("hashtags", "String"),
    ("urls", "String"),
    ("user_mentions", "String"),
    ("poll_choices", "String"),
]
TWEET_YEARS = (2013, 2020)  # valid tweet_time years, half-open
CORRUPT_SHARE = 0.02
_CORRUPT_TIMES = [
    "", "garbage", "2016-05-0", "2016-05-01", "2016-05-01T10:15",
    "01/05/2016 10:15", "2016-05-01 10:1", "2016-05-01 10:15:00",
]
_TEXT_WORDS = np.asarray([
    "vote", "election", "polls", "today", "news", "rigged,", "\"fake\"",
    "Выборы", "сегодня", "участки", "https://example.org/a", "#news",
    "they", "said", "—", "results", "count", "again", "state", "live",
], dtype=object)
_LOCATIONS = ["", "Москва", "New York", "London", "Sofia", "Berlin"]
_CLIENTS = ["Twitter Web Client", "Twitter for iPhone", "Twitter for Android", "TweetDeck"]
_LANGS = ["en", "ru", "bg", "de"]


def _hex_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.integers(0, 256, (n, 32), dtype=np.uint8)
    return np.array([bytes(r).hex() for r in raw], dtype=object)


def _nullable(rng, values: np.ndarray, p_null: float) -> pa.Array:
    return pa.array(values, mask=rng.random(len(values)) < p_null)


def _list_strings(rng, n: int, pool: list[str], max_items: int) -> list[str]:
    counts = rng.integers(-1, max_items + 1, n)  # -1 -> empty cell
    items = np.asarray(pool, dtype=object)[rng.integers(0, len(pool), (n, max_items))]
    return [
        "" if c < 0 else "[" + ", ".join(items[i, :c]) + "]"
        for i, c in enumerate(counts)
    ]


def make_tweets(out_dir: str, seed: int, rows: int) -> dict:
    """Write ``tweets.csv`` + ``tweets.schema`` and return the expected
    ETL outcome; idempotent per (seed, rows)."""
    tag = f"tweets seed={seed} rows={rows}"
    expect_path = os.path.join(out_dir, "expect.json")
    if _ready(out_dir, tag):
        with open(expect_path) as fh:
            return json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = rows
    tweetid = 700_000_000_000_000_000 + rng.permutation(n).astype("int64")
    users = _hex_ids(rng, max(1, n // 20))
    userid = users[rng.integers(0, len(users), n)]

    years = rng.integers(*TWEET_YEARS, n)
    months = rng.integers(1, 13, n)
    days = rng.integers(1, 29, n)
    hours = rng.integers(0, 24, n)
    minutes = rng.integers(0, 60, n)
    times = np.array([
        f"{y:04d}-{m:02d}-{d:02d} {h:02d}:{mi:02d}"
        for y, m, d, h, mi in zip(years, months, days, hours, minutes)
    ], dtype=object)
    corrupt = rng.random(n) < CORRUPT_SHARE
    times[corrupt] = np.asarray(_CORRUPT_TIMES, dtype=object)[
        rng.integers(0, len(_CORRUPT_TIMES), int(corrupt.sum()))
    ]
    time_arr = pa.array(times, mask=corrupt & (times == ""))

    n_words = rng.integers(6, 30, n)
    words = _TEXT_WORDS[rng.integers(0, len(_TEXT_WORDS), int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]

    def ids_or_null(p):
        return _nullable(rng, 600_000_000_000_000_000 + rng.integers(0, 10**9, n), p)

    cols = {
        "tweetid": tweetid,
        "userid": userid,
        "user_display_name": userid,
        "user_screen_name": userid,
        "user_reported_location": _pick(rng, _LOCATIONS, n),
        "user_profile_description": [f"#news, politics commentary {k}" for k in rng.integers(0, 1000, n)],
        "user_profile_url": _nullable(rng, np.array([f"https://example.org/u/{k}" for k in rng.integers(0, 1000, n)], dtype=object), 0.5),
        "follower_count": rng.integers(0, 10_001, n),
        "following_count": rng.integers(0, 10_001, n),
        "account_creation_date": [f"{y:04d}-{m:02d}-01" for y, m in zip(rng.integers(2008, 2014, n), rng.integers(1, 13, n))],
        "account_language": _pick(rng, _LANGS, n),
        "tweet_language": _pick(rng, _LANGS, n),
        "tweet_text": text,
        "tweet_time": time_arr,
        "tweet_client_name": _pick(rng, _CLIENTS, n),
        "in_reply_to_tweetid": ids_or_null(0.8),
        "in_reply_to_userid": _nullable(rng, users[rng.integers(0, len(users), n)], 0.8),
        "quoted_tweet_tweetid": ids_or_null(0.9),
        "is_retweet": rng.random(n) < 0.3,
        "retweet_userid": _nullable(rng, users[rng.integers(0, len(users), n)], 0.7),
        "retweet_tweetid": ids_or_null(0.7),
        "latitude": _nullable(rng, np.round(rng.uniform(-60, 70, n), 2), 0.9),
        "longitude": _nullable(rng, np.round(rng.uniform(-180, 180, n), 2), 0.9),
        "quote_count": rng.integers(0, 50, n),
        "reply_count": rng.integers(0, 50, n),
        "like_count": rng.integers(0, 500, n),
        "retweet_count": rng.integers(0, 500, n),
        "hashtags": _list_strings(rng, n, ["election", "news", "vote", "выборы"], 3),
        "urls": _list_strings(rng, n, ["https://example.org/a", "https://example.org/b"], 2),
        "user_mentions": _list_strings(rng, n, ["000", "001", "002", "003"], 3),
        "poll_choices": _nullable(rng, np.full(n, "yes|no", dtype=object), 0.98),
    }
    table = pa.table(cols)
    csv_path = os.path.join(out_dir, "tweets.csv")
    pacsv.write_csv(table, csv_path)
    with open(os.path.join(out_dir, "tweets.schema"), "w") as fh:
        fh.write("# generated tweets schema, order matches CSV\n")
        fh.writelines(f"{c}={t}\n" for c, t in TWEET_COLUMNS)

    keep = ~corrupt
    expect = {
        "rows_in": n,
        "rows_out": int(keep.sum()),
        "csv_bytes": os.path.getsize(csv_path),
        "partitions": sorted(
            {f"year={y:04d}/month={m:02d}" for y, m in zip(years[keep], months[keep])}
        ),
        "digest": tweets_digest(years[keep], months[keep], tweetid[keep]),
    }
    with open(expect_path, "w") as fh:
        json.dump(expect, fh)
    _mark_ready(out_dir, tag)
    return expect


def tweets_digest(years, months, tweetids) -> str:
    """Order-insensitive digest of (year, month, tweetid) triples."""
    keys = np.asarray(years, dtype="int64") * 100 + np.asarray(months, dtype="int64")
    order = np.lexsort((np.asarray(tweetids, dtype="int64"), keys))
    packed = np.stack([keys[order], np.asarray(tweetids, dtype="int64")[order]], axis=1)
    return hashlib.sha256(np.ascontiguousarray(packed).tobytes()).hexdigest()[:16]
