"""BPE tokenizer-encode as Catalyst expressions (no Python UDFs).

``bpe_top_merges`` (queries/mixing.py) learns WHICH adjacent pairs to
merge; this module APPLIES a learned merge table to text — the encode
half of the tokenizer loop, and the step that turns "estimated token
counts" into REAL ones for sequence packing.

Formulation: a token sequence travels as one separator-framed string
``.t1.t2.t3.`` (SEP = ``.``, outside the ``[a-z0-9]`` token alphabet
produced by ``operators.dedup.tokens``), and encoding is a DOUBLE fold
of pure string expressions:

* outer fold over the priority-ordered merge array — one pass per
  rule, highest count first;
* inner fold over the current token list — canonical greedy BPE:
  append each token to the framed accumulator, except when the rule is
  (L, R), the accumulator ends with ``.L.`` (i.e. the PREVIOUS token
  is exactly L — the frame dots pin both token boundaries) and the
  incoming token equals R, in which case the trailing separator is
  dropped and R fuses onto L. A fused token is longer than either
  side, so it can never immediately re-fuse — exactly BPE's
  non-overlapping left-to-right greedy (``aaa`` + (a,a) -> [aa, a],
  ``aaaa`` -> [aa, aa]).

Why a fold and not ``replace('.L.R.', '.LR.')``: string replace
consumes the shared separator between back-to-back matches, so chains
(``abab`` with rule (a,b), ``aaaa`` with (a,a)) silently under-merge —
discovered by the closed-form unit tests, and the reason this module
folds. The IDENTICAL fold runs in DuckDB as nested ``list_reduce``
(string accumulator both levels, so the no-initializer list_reduce
stays type-homogeneous via ``list_prepend``), giving a value-exact
cross-engine oracle.

Merge rules are whole-token pairs ``"L R"`` (space-separated; space
is outside both the token alphabet and SEP), so multi-round tables
whose sides are themselves merged tokens (``"ab c"``, ``"a bc"``)
apply exactly, and :func:`merge_pass` REJECTS a rule without exactly
one space at run time instead of misapplying it.

Encode semantics: one ordered pass per rule replays EXACTLY the
corpus state :func:`learn_merges_iterative` maintains during
learning (round ``i`` applies rule ``i`` once to the
rules-``1..i-1`` encoding — the fold is that same incremental
application). With depth-1 rules this is also full canonical BPE (a
merge never creates a new single-char adjacency). For multi-round
tables it differs from the rescan-min-rank encoder (subword-nmt /
HF) only when a LATER rule's output string collides with an EARLIER
rule's operand via a second derivation (e.g. ``aab`` reachable as
``aa+b`` and ``a+ab``) — impossible for the table's own learning
corpus state, and self-consistent here because learn and encode
share one semantics. ~Workload of Sennrich et al. 2016 (public BPE
algorithm); no reference-repo counterpart (the reference is a
CSV->Parquet ETL, package.scala:108-164).

Scale: learning is one explode + partial-agg pair count (alphabet-
bounded shuffle) + a 16-row TakeOrdered; iterative learning loops
that same pass over the DISTINCT-WORDS table (vocabulary-sized, not
corpus-sized — the classic Sennrich trainer reduction) with a
localCheckpoint per round; encoding is a broadcast of the 1-row
merge array cross-joined into a pure per-row projection — no
shuffle at all on the encode pass, linear in corpus bytes (the
per-word fold is O(len^2) string building, bounded by word length).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators.util import record_loop_leg

from hdfs_parquet_importer_spark.operators import dedup as D

SEP = "."
RULE_SEP = " "  # between L and R inside one rule; outside [a-z0-9] and SEP


# Column-expression memo (same contract as operators/dedup.py's
# _EXPR_CACHE): the fold builders construct large expression trees per
# call — pure py4j build time, re-paid per bench cycle and per
# multiround iteration. Keyed by the input expressions' string forms;
# caches EXPRESSIONS only, never data.
_EXPR_CACHE: dict = {}


def _memo(key, build):
    if key not in _EXPR_CACHE:
        _EXPR_CACHE[key] = build()
    return _EXPR_CACHE[key]


def learn_merges(docs: DataFrame, text_col: str, k: int = 16) -> DataFrame:
    """Top-``k`` adjacent character pairs by corpus count -> ONE row
    holding ``merges: array<string>`` of ``"L R"`` rules in priority
    order (count DESC, pair ASC tiebreak). Stays a DataFrame so
    callers can broadcast it into an encode pass without any
    driver-side collect (the registry builder convention is lazy)."""
    words = docs.select(
        F.explode(D.tokens(F.col(text_col))).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat(
                    F.col("w").substr(i, F.lit(1)),
                    F.lit(RULE_SEP),
                    F.col("w").substr(i + 1, F.lit(1)),
                ),
            )
        ).alias("pair")
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(int(k))
    )
    # collect_list is order-nondeterministic; impose priority order
    # inside the array via (negated count, pair) struct sort, then
    # project the pairs back out.
    return top.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.lit(1_000_000_000_000) - F.col("n")).alias("_inv"),
                        F.col("pair").alias("pair"),
                    )
                )
            ),
            lambda s: s.getField("pair"),
        ).alias("merges")
    )


def merge_pass(s: Column, m: Column) -> Column:
    """One greedy left-to-right pass of rule ``m`` (``"L R"``,
    whole-token sides) over the separator-framed token string ``s`` —
    the inner fold, behind a cheap applicability gate: a mergeable
    adjacency exists iff the substring ``.L.R.`` does (the frame dots
    pin both tokens exactly, so a multi-char token ending in L or
    starting with R cannot fake it), and a fold that never merges
    rebuilds ``s`` verbatim — so skipping it is an identity, and most
    (word, rule) pairs skip. Measured 2.8s -> 2.0s on the sf0.1
    encode query.

    Rule sides come from ``substring_index`` (a single scan of the
    <=10-char rule string), NOT ``split`` — expressions referenced
    inside a higher-order-function lambda re-evaluate per ELEMENT, so
    the comparand must stay trivially cheap (a split-to-array here
    measured +30% on the sf0.1 encode query; hoisting parsed structs
    out of the fold measured +100% — struct construction per word
    costs more than it saves). A rule that is not exactly two
    space-separated sides raises at run time (never silently
    misapply), checked once per (word, rule) in the outer
    gate, outside the token fold."""
    toks = F.filter(F.split(s, "[" + SEP + "]"), lambda t: t != F.lit(""))
    left = F.substring_index(m, RULE_SEP, 1)
    right = F.substring_index(m, RULE_SEP, -1)
    folded = F.aggregate(
        toks,
        F.lit(SEP),
        lambda acc, t: F.when(
            (t == right)
            & acc.endswith(F.concat(F.lit(SEP), left, F.lit(SEP))),
            F.concat(
                F.substring(acc, 1, F.length(acc) - 1), t, F.lit(SEP)
            ),
        ).otherwise(F.concat(acc, t, F.lit(SEP))),
    )
    probe = F.concat(F.lit(SEP), left, F.lit(SEP), right, F.lit(SEP))
    # Well-formed = exactly one space AND two non-empty sides AND no
    # frame separator inside the rule. Each extra predicate closes a
    # silent-misapplication hole: a '.'-containing side would let the
    # probe match ACROSS token boundaries (applying a different rule
    # than written), and an empty side (' a' / 'a ') builds a probe
    # like '..a.' that can never match — a dead rule that should be a
    # loud one. All checked once per (word, rule), outside the fold.
    well_formed = (
        (
            F.length(m)
            - F.length(F.replace(m, F.lit(RULE_SEP), F.lit("")))
            == 1
        )
        & ~m.contains(SEP)
        & (left != "")
        & (right != "")
    )
    return (
        F.when(
            ~well_formed,
            F.raise_error(
                F.concat(F.lit("BPE merge rule must be 'L R': got "), m)
            ),
        )
        .when(s.contains(probe), folded)
        .otherwise(s)
    )


def adjacent_pairs(framed: Column) -> Column:
    """Adjacent token pairs of a framed token string, each as an
    ``"L R"`` rule candidate — the recount step of iterative
    learning. Pure array expressions (unframe, then zip the list
    with itself shifted by one)."""
    def build():
        ts = F.filter(
            F.split(framed, "[" + SEP + "]"), lambda t: t != F.lit("")
        )
        n = F.greatest(F.size(ts) - 1, F.lit(0))
        return F.zip_with(
            F.slice(ts, F.lit(1), n),
            F.slice(ts, F.lit(2), n),
            lambda a, b: F.concat(a, F.lit(RULE_SEP), b),
        )

    return _memo(("adjacent_pairs", str(framed)), build)


def word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """Distinct words with occurrence counts ``(w, wn)`` — the
    Sennrich trainer reduction: pair recounts weighted by ``wn`` are
    corpus-exact while every learning round's working set stays
    vocabulary-sized (sublinear in corpus bytes)."""
    return (
        docs.select(F.explode(D.tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )


def learn_merges_iterative(
    docs: DataFrame, text_col: str, rounds: int
) -> DataFrame:
    """Real multi-round BPE learning: each round
    re-encodes the vocabulary under the rules adopted so far,
    recounts adjacent TOKEN pairs (frequency-weighted, so counts are
    corpus-exact), and adopts the single top pair (count DESC, pair
    ASC tiebreak) — Sennrich et al. 2016's trainer loop. Returns ONE
    row ``merges: array<string>`` in adoption order; rules adopted in
    later rounds may have multi-char sides (``"c ab"``), which the
    encode fold applies as whole tokens.

    Scale: the distinct-words table is computed once and
    localCheckpoint-ed; each round is one explode + partial-agg
    count + 1-row TakeOrdered over |vocab| rows, and the 1-row merge
    state is localCheckpoint-ed per round (pagerank convention) so
    the plan never deepens. ``rounds`` is bounded-N by contract —
    the driver loop is N tiny jobs, not a long lineage. A corpus
    with no remaining pairs stops adopting (merge state carried
    unchanged), so ``rounds`` is always safe to overshoot."""
    words = word_counts(docs, text_col).localCheckpoint(eager=False)
    merges = docs.sparkSession.createDataFrame(
        [([],)], "merges array<string>"
    )
    for _ in range(int(rounds)):
        enc = words.crossJoin(F.broadcast(merges)).select(
            "wn", encode_framed(F.col("w"), F.col("merges")).alias("f")
        )
        top = (
            enc.select(F.explode(adjacent_pairs(F.col("f"))).alias("pair"), "wn")
            .groupBy("pair")
            .agg(F.sum("wn").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
        )
        record_loop_leg("bpe_multiround.leg", top)
        merges = (
            merges.join(F.broadcast(top), F.lit(True), "left")
            .select(
                F.when(
                    F.col("pair").isNull(), F.col("merges")
                )
                .otherwise(F.array_append("merges", F.col("pair")))
                .alias("merges")
            )
            .localCheckpoint(eager=False)
        )
    return merges


def encode_framed(word: Column, merges: Column) -> Column:
    """Fold the merge rules over one word; returns the separator-
    framed token string (``.lu.c.k.`` …). ``merges`` is the broadcast
    priority-ordered array column from :func:`learn_merges`."""
    return _memo(
        ("encode_framed", str(word), str(merges)),
        lambda: F.aggregate(
            merges,
            F.concat(F.lit(SEP), F.regexp_replace(word, "(.)", r"$1" + SEP)),
            merge_pass,
        ),
    )


def encode_tokens(word: Column, merges: Column) -> Column:
    """BPE token array for one word (unframe + split). The empty word
    encodes to an empty ARRAY (filtered split), agreeing with
    :func:`token_count`'s 0 — a bare split of the unframed '' would
    yield [''] and disagree by one."""
    return _memo(
        ("encode_tokens", str(word), str(merges)),
        lambda: F.aggregate(
            merges,
            F.concat(F.lit(SEP), F.regexp_replace(word, "(.)", r"$1" + SEP)),
            merge_pass,
            # finish lambda binds the framed accumulator once (see
            # token_count) instead of re-running the fold for the
            # substring bound and the split input.
            lambda framed: F.filter(
                F.split(
                    F.substring(framed, 2, F.length(framed) - 2),
                    "[" + SEP + "]",
                ),
                lambda t: t != F.lit(""),
            ),
        ),
    )


def token_count(word: Column, merges: Column) -> Column:
    """Token count after encoding = separators - 1, counted without
    materializing the split array.

    The count is computed in ``aggregate``'s *finish* lambda so the
    fold's accumulator is bound once: referencing the framed result
    from two sibling expressions (``length(framed)`` and
    ``replace(framed, ...)``) duplicates the whole encode fold in the
    plan — higher-order functions are CodegenFallback, so no
    subexpression elimination rescues it and the fold genuinely ran
    twice per word (measured: the encode projection halved
    when the second evaluation went away)."""
    return _memo(
        ("token_count", str(word), str(merges)),
        lambda: F.aggregate(
            merges,
            F.concat(F.lit(SEP), F.regexp_replace(word, "(.)", r"$1" + SEP)),
            merge_pass,
            lambda framed: (
                F.length(framed)
                - F.length(F.replace(framed, F.lit(SEP), F.lit("")))
                - F.lit(1)
            ),
        ),
    )


def doc_token_counts(
    docs: DataFrame, id_cols: list[str], text_col: str, merges: DataFrame
) -> DataFrame:
    """Per-document REAL BPE token count (plus word/char counts).

    The encode fold is O(len^2) interpreted string building per
    (word, rule), so it runs once per distinct WORD, never per word
    occurrence: at sf0.1 a per-occurrence projection makes 270,704
    fold evaluations for a corpus whose vocabulary holds 31 distinct
    words. The per-word counts come back via a broadcast hash join on
    ``w``, and per-document sums are a map-side partial aggregation —
    integer-identical output, vocabulary-sized fold work (the same
    Sennrich reduction :func:`word_counts` applies to learning).
    ``explode_outer`` keeps zero-token documents as (0, 0, 0) rows;
    the casts pin the three counts to ``int``."""
    words = docs.select(
        *id_cols,
        F.explode_outer(
            F.filter(D.tokens(F.col(text_col)), lambda w: w != "")
        ).alias("w"),
        # ONE tokenize pass: the vocabulary below derives from this
        # persisted explode (explode_outer emits NULL only for empty
        # docs, so the non-null distinct set is exactly the
        # filter(w != '') vocabulary).
    ).localCheckpoint(eager=False)
    vocab = words.select("w").filter(F.col("w").isNotNull()).distinct()
    per_word = vocab.crossJoin(F.broadcast(merges)).select(
        "w", token_count(F.col("w"), F.col("merges")).alias("_wtok")
    )
    return (
        words.join(F.broadcast(per_word), ["w"], "left")
        .groupBy(*id_cols)
        .agg(
            F.count("w").cast("int").alias("n_words"),
            F.coalesce(F.sum(F.length("w")), F.lit(0))
            .cast("int")
            .alias("n_chars"),
            F.coalesce(F.sum("_wtok"), F.lit(0))
            .cast("int")
            .alias("n_tokens_bpe"),
        )
    )
