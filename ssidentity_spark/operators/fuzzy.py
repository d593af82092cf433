"""Approximate (fuzzy) string join: blocked candidate generation +
edit-distance verification — the standard entity-resolution/data-cleaning
join the exact J-family lacks.

Reference impetus: the sniffer's SSID field is free text typed by humans
(ssidentity.c:156-166 sanitizes it); "MyHomeWiFi" / "MyHomeWifi" /
"MyHomeWiFi_5G" are one network to an analyst. The general op — find
string pairs within edit distance k without the O(n²) all-pairs scan —
is the same one a corpus pipeline runs to reconcile near-identical
titles/sources.

Shape (the same candidates-then-verify discipline as every dedup here):

- **Blocking**: an EQUI join on a caller-chosen blocking key (here: a
  token of the string) generates candidates — pairwise work is
  O(Σ block²), bounded by block cardinality, never O(n²). Recall is
  traded exactly like LSH banding: pairs whose typo falls IN the
  blocking token are missed; production stacks several blocking passes
  (token, prefix, length bucket) and unions them.
- **Cheap prune**: ``abs(len(a) − len(b)) ≤ k`` is a Levenshtein lower
  bound — rows failing it never reach the dynamic-programming verify.
- **Verify**: the built-in ``levenshtein`` (JVM codegen; identical
  classic edit-distance semantics in DuckDB, which is what makes the op
  hash-gateable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fuzzy_self_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block: Column,
    max_dist: int = 2,
    min_dist: int = 1,
) -> DataFrame:
    """Pairs (id_a < id_b) whose ``text_col`` values are within
    ``[min_dist, max_dist]`` edit distance AND share the blocking key.
    ``min_dist=1`` excludes exact duplicates by default (exact dedup is
    a cheaper, separate operator). Returns
    ``(id_a, id_b, text_a, text_b, dist)``.
    """
    if max_dist < min_dist or min_dist < 0:
        raise ValueError(f"need 0 <= min_dist <= max_dist, got {min_dist}..{max_dist}")
    t = df.select(
        F.col(id_col).alias("fj_id"),
        F.col(text_col).alias("fj_text"),
        block.alias("fj_block"),
    )
    a = t.select(
        F.col("fj_block"),
        F.col("fj_id").alias("id_a"),
        F.col("fj_text").alias("text_a"),
    )
    b = t.select(
        F.col("fj_block"),
        F.col("fj_id").alias("id_b"),
        F.col("fj_text").alias("text_b"),
    )
    return (
        a.join(b, "fj_block")
        .filter(F.col("id_a") < F.col("id_b"))
        # length-difference lower bound prunes before the DP verify
        .filter(
            F.abs(F.length("text_a") - F.length("text_b")) <= max_dist
        )
        .select(
            "id_a",
            "id_b",
            "text_a",
            "text_b",
            # threshold form (Spark >= 3.5): bounds the DP band to
            # O(max_dist * n) per pair and short-circuits to -1 past the
            # threshold, which the dist >= min_dist filter (min_dist >= 0)
            # already excludes — unbounded Levenshtein is O(len_a * len_b)
            # per candidate pair for distances we were going to discard
            F.levenshtein("text_a", "text_b", threshold=int(max_dist)).alias(
                "dist"
            ),
        )
        .filter((F.col("dist") >= min_dist) & (F.col("dist") <= max_dist))
    )


def deletion_neighborhood_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    min_dist: int = 1,
) -> DataFrame:
    """Approximate self-join with EXACT recall for edit distance <=
    ``max_dist`` — the public SymSpell idea: key every string by itself
    plus each subsequence reachable by deleting <= max_dist characters.
    Two strings within edit distance k always share a deletion key
    (substitution: both delete the edited position; insert/delete: the
    shorter string IS a deletion of the longer), so blocking stops being
    a recall trade (fuzzy_self_join misses pairs whose typo falls in the
    blocking token — measured 0.49-0.96 recall, SCALE.md "r8:
    approximate-join recall") and becomes an index. Sharing a key does NOT bound the distance
    ("ab"/"ba" both delete to "a"), so the levenshtein verify stays.

    Cost shape: the explode emits O(len) keys per string at k=1 and
    O(len²/2) at k=2; key entropy is near-unique, so bucket sizes — and
    candidate volume — track the true near-duplicate structure, not n²
    (measured 0.04% of the pair ceiling vs 7-69% for token/prefix/length
    blocking, recall 1.000 vs 0.49-0.96). k > 2 is rejected: the
    neighborhood grows combinatorially and banded MinHash (plans/dedup)
    is the right tool past that radius.
    """
    if not (0 <= min_dist <= max_dist):
        raise ValueError(f"need 0 <= min_dist <= max_dist, got {min_dist}..{max_dist}")
    if max_dist > 2:
        raise ValueError(
            f"deletion neighborhood supports max_dist <= 2, got {max_dist}"
        )
    del1 = (
        "transform(sequence(1, length(fj_text)), i -> "
        "concat(substring(fj_text, 1, i-1), substring(fj_text, i+1)))"
    )
    if max_dist == 1:
        keys = f"array_distinct(concat(array(fj_text), {del1}))"
    else:
        # delete-2: every i < j pair of positions, flattened. O(len²/2)
        # keys per string — documented cost of the k=2 radius.
        del2 = (
            "flatten(transform(sequence(1, length(fj_text)), j -> "
            "transform(sequence(1, j - 1), i -> "
            "concat(substring(fj_text, 1, i-1), "
            "substring(fj_text, i+1, j-i-1), substring(fj_text, j+1)))))"
        )
        keys = f"array_distinct(concat(array(fj_text), {del1}, {del2}))"
    t = df.select(
        F.col(id_col).alias("fj_id"),
        F.col(text_col).alias("fj_text"),
    ).withColumn("fj_key", F.explode(F.expr(keys)))
    a = t.select(
        "fj_key",
        F.col("fj_id").alias("id_a"),
        F.col("fj_text").alias("text_a"),
    )
    b = t.select(
        "fj_key",
        F.col("fj_id").alias("id_b"),
        F.col("fj_text").alias("text_b"),
    )
    return (
        a.join(b, "fj_key")
        .filter(F.col("id_a") < F.col("id_b"))
        # length-diff lower bound BEFORE the dedup exchange — prunes
        # candidate rows map-side so the (id_a, id_b) shuffle carries
        # only pairs the verify could accept
        .filter(F.abs(F.length("text_a") - F.length("text_b")) <= max_dist)
        # a pair can share many deletion keys — dedup BEFORE the DP verify
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "text_a",
            "text_b",
            F.levenshtein("text_a", "text_b", threshold=int(max_dist)).alias(
                "dist"
            ),
        )
        .filter((F.col("dist") >= min_dist) & (F.col("dist") <= max_dist))
    )
