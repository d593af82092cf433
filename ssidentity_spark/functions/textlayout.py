"""Similarity-ordered storage layout for text corpora.

Parquet compresses pages independently, so ROW ORDER changes the bytes
on disk: near-duplicate / shared-boilerplate documents that land in the
same page share dictionary and backreference context. Clustering the
corpus by a 32-bit SimHash before the write is measured at **-11.5%
parquet bytes vs a shuffled corpus** at 30% planted near-dups (prefix
sort manages only -4.6% — it can't see duplication past the first
divergent byte; SCALE.md "r9: similarity-ordered text layout").

The rewrite slot is OPTIMIZE's ``repartition_fn`` — the same hook
Z-order uses for numeric box queries — so the layout is applied during
the compaction the table needs anyway, read-identical by the optimize
contract.

``simhash32`` is a PURE Column expression (one pass over the token
array, no explode/groupBy), so the layout key adds no shuffle of its
own: ``repartitionByRange`` on it is the only exchange, exactly like a
zorder rewrite. It deliberately trades fidelity for expression-onlyness
vs plans/dedup.dedup_simhash (same hash family, same bit rule; that one
is the oracle-gated analytics form, this one is the layout key).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def simhash32(text: Column) -> Column:
    """32-bit SimHash of whitespace-tokenized ``text`` as a single
    Column expression: per token, an md5-slice 60-bit hash votes ±1 on
    each of 32 bits; the signature sets the bits with positive votes.

    Evaluation shape matters here (the lambda-CSE trap plans/dedup.py
    documents): the md5 per token is computed ONCE as the aggregate's
    INPUT array — ``transform(toks, h)`` — and everything inside the
    fold is integer bit math on the precomputed hash. The first draft
    ran one aggregate per bit with ``h(t)`` inside each lambda, which
    re-evaluated the md5 32x per token (caught in review)."""
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")
    hashes = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    bit_idx = F.sequence(F.lit(0), F.lit(31))
    votes = F.aggregate(
        hashes,
        F.expr("array_repeat(CAST(0 AS BIGINT), 32)"),
        lambda acc, hv: F.zip_with(
            acc,
            bit_idx,
            lambda a, b: a
            + (
                F.call_function("shiftright", hv, b.cast("int")).bitwiseAND(
                    F.lit(1)
                )
                * 2
                - 1
            ),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            bit_idx,
            lambda v, b: F.when(
                v > 0,
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), b.cast("int")
                ),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
