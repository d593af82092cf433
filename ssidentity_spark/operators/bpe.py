"""Distributed BPE tokenizer training as relational power iteration.

The corpus-scale half of tokenizer training — the part that actually
touches 100 TB — is counting adjacent symbol pairs over the word-frequency
table; the argmax-merge step is model-sized. This module runs classic BPE
(Sennrich et al. 2016, the public algorithm) as k rounds of:

    pair-count (one keyed shuffle with map-side combine over the VOCAB,
    which the first aggregation already collapsed from the corpus)
    → top-1 merge (count DESC, lexicographic tiebreak — deterministic)
    → apply the merge to every vocab entry (narrow map).

Plans are checkpoint-truncated per round exactly like the PageRank /
connected-components operators (operators/graph.py) — the practical
requirement for iterative algorithms on Spark.

Determinism is the whole design: the vocab string carries its symbol
sequence in a canonical spaced form — single space at each end, DOUBLE
spaces between symbols — chosen so that applying a merge is a plain
left-to-right non-overlapping ``replace`` (the same semantics in every
engine) that is boundary-safe on both sides AND handles back-to-back
occurrences of the pair:

    'abab' → ' a  b  a  b  </w> '; merge (a,b): pattern ' a  b ',
    replacement ' ab ' — the consumed single edge spaces leave the
    neighbours' own single spaces, so separators stay double and the
    second occurrence still matches: ' ab  ab  </w> '.

(With single-space separators the two occurrences would share one space
and the second would be silently skipped — and an un-bounded pattern
could merge a symbol with the PREFIX of the next one.) Greedy
left-to-right replace on ' a  a  a ' merges the first pair only —
exactly BPE's tie rule.

Because every step is relational + string-literal replace, a DuckDB
oracle can replay the full k-round training bit-for-bit (the unrolled-CTE
pattern the PageRank oracle uses), putting tokenizer TRAINING itself
under the driver hash gate.

At real scale k is 30k-50k merges and the serial round trip dominates;
production systems batch many non-conflicting merges per round
(SentencePiece/fastBPE style). The relational shape here is unchanged by
that — only the top-1 LIMIT becomes a top-m with a conflict filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssidentity_spark.operators.iterate import materialize

EOW = "</w>"


def word_vocab(docs: DataFrame, text_col: str = "text", max_len: int = 12) -> DataFrame:
    """documents → (s, cnt): the word-frequency table with each word in
    the canonical spaced form ``' c  h  a  r  s  </w> '``. This is the
    single corpus-sized pass; everything after runs on the vocab."""
    w = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word")
    words = docs.select(w).where(
        F.col("word").rlike("^[a-z]+$") & (F.length("word") <= max_len)
    )
    spaced = F.concat(
        F.lit(" "), F.regexp_replace("word", "(.)", "$1  "), F.lit(EOW + " ")
    )
    return words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).select(spaced.alias("s"), "cnt")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    t = F.col("t")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda j: F.concat(
            F.element_at(t, j), F.lit(" "), F.element_at(t, j + 1)
        ),
    )
    # fully-merged single-symbol entries have no pairs; without the guard
    # Spark's sequence(1, 0) DESCENDS ([1, 0]) and element_at(t, 2) throws
    split_rows = vocab.select(
        F.split(F.trim(F.col("s")), "  ").alias("t"), "cnt"
    ).where(F.size("t") >= 2)
    exploded = split_rows.select(F.explode(pairs).alias("p"), "cnt")
    return exploded.groupBy(
        F.substring_index("p", " ", 1).alias("lhs"),
        F.substring_index("p", " ", -1).alias("rhs"),
    ).agg(F.sum("cnt").cast("long").alias("c"))


def bpe_train(
    spark: SparkSession, vocab: DataFrame, k: int = 6
) -> tuple[DataFrame, list[tuple[str, str]]]:
    """k merge rounds → (merge-table DataFrame ``(it, lhs, rhs,
    pair_count)``, merges as Python tuples for ``bpe_apply``).

    Each round's winning pair is model-sized (1 row) — collecting it is
    the same bounded driver traffic as the IVF centroid trainer; the
    heavy pair-count stays a distributed shuffle. Vocab lineage is
    checkpoint-truncated per round."""
    merges: list[tuple[str, str, int]] = []
    cur = vocab
    for it in range(k):
        best = (
            _pair_counts(cur)
            .orderBy(F.col("c").desc(), F.col("lhs").asc(), F.col("rhs").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs, c = best[0]["lhs"], best[0]["rhs"], best[0]["c"]
        merges.append((lhs, rhs, c))
        cur = cur.select(
            F.call_function(
                "replace",
                F.col("s"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ).alias("s"),
            "cnt",
        )
        cur = materialize(cur)
    table = spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "it int, lhs string, rhs string, pair_count bigint",
    )
    return table, [(l, r) for l, r, _ in merges]


def bpe_apply(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply a learned merge list to a canonical spaced-form column, in
    training order — the tokenization step, as a pure expression chain
    (k literal replaces, JVM-side, codegen-friendly)."""
    out = col
    for lhs, rhs in merges:
        out = F.call_function(
            "replace", out, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
        )
    return out


def token_count(col: Column) -> Column:
    """Symbols remaining in a canonical spaced-form string."""
    return F.size(F.split(F.trim(col), "  "))


# ---------------------------------------------------------------------------
# WordPiece: the same relational training loop with the LIKELIHOOD objective
# ---------------------------------------------------------------------------


def _symbol_counts(vocab: DataFrame) -> DataFrame:
    """Current symbol unigram counts over the vocab — (sym, n), each
    occurrence weighted by the word's corpus frequency (a symbol
    appearing twice in one word counts twice)."""
    split_rows = vocab.select(
        F.split(F.trim(F.col("s")), "  ").alias("t"), "cnt"
    )
    return (
        split_rows.select(F.explode("t").alias("sym"), "cnt")
        .groupBy("sym")
        .agg(F.sum("cnt").cast("long").alias("n"))
    )


def wordpiece_train(
    spark: SparkSession, vocab: DataFrame, k: int = 6
) -> tuple[DataFrame, list[tuple[str, str]]]:
    """k WordPiece merge rounds (Schuster & Nakajima 2012; the BERT
    tokenizer's objective): instead of BPE's raw pair count, each round
    merges the pair maximizing the likelihood score

        score(a, b) = count(ab) / (count(a) * count(b))

    — the pair whose merge most increases the corpus unigram-LM
    likelihood. Relationally it is BPE's loop plus one symbol-count
    aggregation and two model-sized joins per round; the merge
    application (canonical spaced form, boundary-safe replace) is shared
    verbatim with :func:`bpe_train`.

    Determinism across engines: count(ab), count(a), count(b) are exact
    integers, ``count(a)*count(b)`` stays exact in BIGINT, and one IEEE
    double division is correctly rounded identically everywhere — ties
    in the double score break lexicographically. (At corpus scale where
    the product could exceed 2^53, rank by log-counts or rescale —
    documented, not needed at these SFs.)

    The merge-table rows carry all three integers, so the hash gate
    covers the OBJECTIVE, not just the chosen pairs."""
    merges: list[tuple[str, str, int, int, int]] = []
    cur = vocab
    for it in range(k):
        pairs = _pair_counts(cur)
        syms = _symbol_counts(cur)
        best = (
            pairs.join(
                syms.select(F.col("sym").alias("lhs"), F.col("n").alias("ca")),
                "lhs",
            )
            .join(
                syms.select(F.col("sym").alias("rhs"), F.col("n").alias("cb")),
                "rhs",
            )
            .orderBy(
                (
                    F.col("c").cast("double")
                    / (F.col("ca") * F.col("cb")).cast("double")
                ).desc(),
                F.col("lhs").asc(),
                F.col("rhs").asc(),
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        r = best[0]
        merges.append((r["lhs"], r["rhs"], r["c"], r["ca"], r["cb"]))
        cur = cur.select(
            F.call_function(
                "replace",
                F.col("s"),
                F.lit(f" {r['lhs']}  {r['rhs']} "),
                F.lit(f" {r['lhs']}{r['rhs']} "),
            ).alias("s"),
            "cnt",
        )
        cur = materialize(cur)
    table = spark.createDataFrame(
        [(i, l, rr, c, ca, cb) for i, (l, rr, c, ca, cb) in enumerate(merges)],
        "it int, lhs string, rhs string, pair_count bigint, "
        "lhs_count bigint, rhs_count bigint",
    )
    return table, [(l, rr) for l, rr, _c, _ca, _cb in merges]
