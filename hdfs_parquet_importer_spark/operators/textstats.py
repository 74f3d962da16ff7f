"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

Every function here is a pure Catalyst column builder (regexp + array
higher-order functions, zero Python UDFs), so each one is a narrow
per-row projection that pipelines inside whole-stage codegen — the
only shuffles in any query using these come from the final groupBy,
never from the text analysis itself. Each builder has an exact DuckDB
SQL twin in ``queries/llm.py`` (the heuristics are deliberately
regexp/arithmetic-only so the oracle can replicate them bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators.dedup import normalize_text, tokens

# Tiny marker-word lists for the n-gram/stopword language heuristic.
# Deliberately short so the DuckDB oracle can inline the same lists.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "es": ["el", "la", "los", "las", "es", "una", "que"],
    "fr": ["le", "la", "les", "est", "une", "dans", "que"],
}
# CJK ideograph presence short-circuits to 'zh' (works in both Java
# regex and RE2 with the \x{...} escape form).
HAN_RX = r"[\x{4e00}-\x{9fff}]"

STOPWORDS_EN = LANG_MARKERS["en"] + ["it", "that", "for", "on", "with", "as"]

# BPE-ish tokenization: letter runs, digit runs, single punctuation.
BPE_RX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def ws_token_count(col: Column) -> Column:
    """Whitespace token count over the normalized text.

    CONVENTION: empty / punctuation-only text counts as 1 — Spark's
    split('', ' ') yields [''], and the DuckDB twins' len(string_split)
    does the same, so the two engines agree by construction. Consumers
    needing true-0 semantics should use tokenize.doc_tokens (which
    filters the '' token) and mirror the filter in their oracle, as
    dedup_substring_span does."""
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: letter runs + digit runs + punct marks."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(BPE_RX), 0))


def marker_hits(col: Column, markers: list[str]) -> Column:
    """How many tokens (with multiplicity) are in the marker list."""
    lit_set = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(lit_set, t)))


def han_char_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, HAN_RX, ""))


def lang_id(col: Column) -> Column:
    """Marker-word argmax language guess; 'und' when nothing matches.

    Tie-break order en > de > es > fr is fixed so the DuckDB oracle's
    CASE chain agrees exactly.
    """
    en = marker_hits(col, LANG_MARKERS["en"])
    de = marker_hits(col, LANG_MARKERS["de"])
    es = marker_hits(col, LANG_MARKERS["es"])
    fr = marker_hits(col, LANG_MARKERS["fr"])
    return (
        # NULL text must short-circuit to 'und': every comparison
        # below is NULL for NULL input, so the chain would fall all
        # the way through to .otherwise('fr') and count null rows as
        # French. (The SQL twins carry the same leading WHEN.)
        F.when(col.isNull(), F.lit("und"))
        .when(han_char_count(col) > 0, F.lit("zh"))
        .when(F.greatest(en, de, es, fr) == 0, F.lit("und"))
        .when((en >= de) & (en >= es) & (en >= fr), F.lit("en"))
        .when((de >= es) & (de >= fr), F.lit("de"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def punct_ratio(col: Column) -> Column:
    """Non-alphanumeric-non-space chars / total chars (double)."""
    punct = F.length(col) - F.length(
        F.regexp_replace(col, r"[^\p{L}\p{N}\s]", "")
    )
    return punct.cast("double") / F.nullif(F.length(col), F.lit(0)).cast("double")


def alpha_ratio(col: Column) -> Column:
    alpha = F.length(F.regexp_replace(col, r"[^\p{L}]", ""))
    return alpha.cast("double") / F.nullif(F.length(col), F.lit(0)).cast("double")


def stopword_ratio(col: Column) -> Column:
    n = ws_token_count(col)
    return marker_hits(col, STOPWORDS_EN).cast("double") / F.nullif(
        n, F.lit(0)
    ).cast("double")


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic (Gopher-rule flavored):

    0.35 * length-in-range  (20..2000 whitespace tokens)
    0.25 * alpha ratio
    0.25 * min(stopword_ratio * 5, 1)   (fluent text has stopwords)
    0.15 * (1 - min(punct_ratio * 4, 1)) (symbol soup is junk)

    CONVENTION: empty/NULL text yields NULL ratios and a NULL score —
    'unscorable', not 'low quality'. Both engines produce the same
    NULL through the shared nullif-denominator formula; curation
    queries pre-filter degenerate docs (see mix_quota_by_quality).
    """
    n = ws_token_count(col)
    len_ok = F.when((n >= 20) & (n <= 2000), F.lit(1.0)).otherwise(F.lit(0.0))
    sw = F.least(stopword_ratio(col) * 5, F.lit(1.0))
    pr = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    return (
        F.lit(0.35) * len_ok
        + F.lit(0.25) * alpha_ratio(col)
        + F.lit(0.25) * sw
        + F.lit(0.15) * pr
    )


def md5_fingerprint(col: Column) -> Column:
    """Exact-content fingerprint: md5 hex of the normalized text."""
    return F.md5(normalize_text(col))


def kgram_min_from_tokens(toks: Column, k: int = 5) -> Column:
    """Winnowing-style fingerprint: lexicographic min of md5 over word
    k-gram shingles. Robust to local edits (an edit only perturbs k
    shingles); null when the document has fewer than k tokens.

    ``toks`` must be a *materialized* token-array column (see
    ``dedup.shingles_of_tokens``'s performance contract: inline
    tokenization would re-run per k-gram inside the lambda)."""
    count = F.size(toks) - (k - 1)
    # sequence(1, 0) would be DESCENDING [1, 0], so clamp + guard.
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
    )
    return F.when(count >= 1, F.array_min(grams))


# Rabin-Karp rolling-hash parameters: base 31, Mersenne prime modulus.
# acc stays < 2^31, so acc*31 + codepoint < 2^36 — no BIGINT overflow
# even under ANSI mode, and the identical fold is expressible in
# DuckDB (list_reduce) for an exact cross-engine oracle.
ROLL_BASE = 31
ROLL_MOD = (1 << 31) - 1


def rolling_hash(col: Column) -> Column:
    """Polynomial (Rabin-Karp) rolling hash of the normalized text:
    ``h = fold(chars, (acc, c) -> (acc*B + ord(c)) mod P)``.

    Unlike md5, the polynomial structure supports O(1) sliding-window
    updates (h(s[1:] + c) derivable from h(s)), which is what makes it
    the fingerprint of choice for streaming/windowed content hashing.
    The char array is the HOF *argument* (evaluated once per row), so
    the fold is a single O(len) pass.
    """
    codes = F.transform(
        F.split(normalize_text(col), ""), lambda c: F.ascii(c).cast("long")
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLL_BASE + c) % F.lit(ROLL_MOD),
    )


# ---------------------------------------------------------------------------
# Repetition (Gopher-rule family) and PII scanning.
# ---------------------------------------------------------------------------
# PII patterns deliberately restricted to syntax valid in BOTH Java
# regex (Spark) and RE2 (DuckDB) — no backreferences, no lookaround —
# so the DuckDB oracle replays them verbatim.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# KNOWN LIMITATION: no leading boundary on PII_PHONE (RE2 has no
# lookbehind, and a consuming (^|[^\d]) prefix group would need
# engine-specific replacement syntax in the scrub) — a 3-3-4 SUFFIX of
# a longer digit run (e.g. serial "91234-567-8901") is counted/scrubbed
# as a phone. Production scanners use a real recognizer; these demo
# patterns stay within the Java-regex ∩ RE2 dialect the oracle replays.
PII_PHONE = r"\+?\d{3}[- .]\d{3}[- .]\d{4}\b"
PII_REDACTED = "[PII]"


def pii_count(col: Column, pattern: str) -> Column:
    """Number of non-overlapping matches of a PII pattern."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def pii_scrub(col: Column) -> Column:
    """Replace every email/IPv4/phone match with the redaction token.
    Order matters: emails first (an email may embed digit runs)."""
    c = F.regexp_replace(col, PII_EMAIL, PII_REDACTED)
    c = F.regexp_replace(c, PII_IPV4, PII_REDACTED)
    return F.regexp_replace(c, PII_PHONE, PII_REDACTED)


def token_blocks(toks: Column, size: int = 10) -> Column:
    """Non-overlapping FULL ``size``-token block strings (the
    remainder tail is dropped) — the C4-style unit for cross-document
    boilerplate detection when documents carry no line structure.
    NULL (which ``explode`` skips) when the document has no full
    block. Takes a materialized token-array column (HOF contract,
    see shingles_of_tokens)."""
    nblk = F.floor(F.size(toks) / F.lit(size)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(1), F.greatest(nblk, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, (i - 1) * size + 1, size), " "),
    )
    return F.when(nblk >= 1, blocks)


def duplicate_ngram_fraction(toks: Column, n: int = 3) -> Column:
    """Fraction of word n-gram OCCURRENCES that are repeats of an
    earlier occurrence within the document: 1 - distinct/total
    (0 when fewer than n tokens). The Gopher repetition rule —
    boilerplate and degenerate text score high.

    Takes a materialized token-array column (see shingles_of_tokens'
    performance contract in operators/dedup.py).
    """
    total = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(total, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    distinct = F.when(total >= 1, F.size(F.array_distinct(grams))).otherwise(
        F.lit(0)
    )
    return F.when(
        total > 0,
        1.0 - distinct.cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))
