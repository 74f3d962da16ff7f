"""Unit tests for text analysis column builders (known answers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators import textstats as T


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog"),
            (2, "der Hund und die Katze sind nicht da"),
            (3, "el perro es una mascota que ladra"),
            (4, "你好世界 hello"),  # CJK chars + latin
            (5, "!!! ??? ***"),
            (6, "word " * 30),
        ],
        ["doc_id", "text"],
    )


def _one(sdf, col, doc_id):
    return (
        sdf.filter(F.col("doc_id") == doc_id).select(col.alias("v")).first()["v"]
    )


def test_token_counts(sdf):
    assert _one(sdf, T.ws_token_count(F.col("text")), 1) == 8
    # bpe-ish: 8 words, no digits/punct
    assert _one(sdf, T.bpe_token_count(F.col("text")), 1) == 8
    # "!!! ??? ***" -> 9 single punct tokens
    assert _one(sdf, T.bpe_token_count(F.col("text")), 5) == 9


def test_lang_id(sdf):
    got = {
        r["doc_id"]: r["lang"]
        for r in sdf.select("doc_id", T.lang_id(F.col("text")).alias("lang")).collect()
    }
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "es"
    assert got[4] == "zh"  # CJK short-circuit
    assert got[5] == "und"


def test_ratios(sdf):
    assert _one(sdf, T.punct_ratio(F.col("text")), 1) == 0.0
    assert _one(sdf, T.alpha_ratio(F.col("text")), 5) == 0.0
    pr5 = _one(sdf, T.punct_ratio(F.col("text")), 5)
    assert pr5 == pytest.approx(9 / 11)
    sw1 = _one(sdf, T.stopword_ratio(F.col("text")), 1)
    assert sw1 == pytest.approx(3 / 8)  # the, and, the


def test_quality_score_ordering(sdf):
    q = {
        r["doc_id"]: r["q"]
        for r in sdf.select(
            "doc_id", T.quality_score(F.col("text")).alias("q")
        ).collect()
    }
    # fluent english sentence beats punctuation soup
    assert q[1] > q[5]
    # 30-token doc gets the length credit; 8-token doc doesn't
    assert q[6] > q[1] - 0.35
    for v in q.values():
        assert 0.0 <= v <= 1.0


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "A   b c? d e f"),  # same after normalization
            (3, "a b c d e g"),
            (4, "a b"),  # < 5 tokens -> null kgram fp
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: (r["fp"], r["kg"])
        for r in df.select(
            "doc_id",
            T.md5_fingerprint(F.col("text")).alias("fp"),
            T.kgram_min_from_tokens(T.tokens(F.col("text")), 5).alias("kg"),
        ).collect()
    }
    assert rows[1] == rows[2]
    assert rows[1][0] != rows[3][0]
    assert rows[4][1] is None
    # local edit changes content fp but kgram mins may overlap; both non-null
    assert rows[3][1] is not None


def test_rolling_hash_deterministic_and_normalized(spark):
    from hdfs_parquet_importer_spark.operators.textstats import rolling_hash
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "Hello, World"), (2, "hello world"), (3, "goodbye"), (4, "")],
        "i long, t string",
    )
    got = {r.i: r.h for r in df.select("i", rolling_hash(F.col("t")).alias("h")).collect()}
    # Normalization makes punctuation/case-variants collide...
    assert got[1] == got[2]
    # ...different content does not, and empty text hashes to 0.
    assert got[3] != got[1]
    assert got[4] == 0


def test_token_blocks_units(spark):
    from hdfs_parquet_importer_spark.operators.dedup import tokens

    rows = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(25))),  # 2 blocks + tail
            (2, " ".join(f"w{i}" for i in range(10))),  # exactly 1 block
            (3, "short doc only"),                      # no full block
        ],
        ["doc_id", "text"],
    )
    tok = rows.select("doc_id", tokens(F.col("text")).alias("_t"))
    got = {
        r.doc_id: r.blocks
        for r in tok.select(
            "doc_id", T.token_blocks(F.col("_t"), 10).alias("blocks")
        ).collect()
    }
    assert got[3] is None  # explode() will drop it
    assert len(got[2]) == 1 and got[2][0].split() == [f"w{i}" for i in range(10)]
    assert len(got[1]) == 2  # the 5-token remainder tail is dropped
    assert got[1][1].split() == [f"w{i}" for i in range(10, 20)]
    # explode drops the NULL row entirely
    n = tok.select(
        "doc_id", F.explode(T.token_blocks(F.col("_t"), 10)).alias("b")
    ).count()
    assert n == 3
