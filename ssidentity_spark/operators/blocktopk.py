"""Exact top-K similarity as block products: ``block_topk`` for float
vectors (6-dp cosine) and its integer twin ``block_topk_int`` for count
profiles.

One Python task scores a block of query rows against a corpus matrix and
keeps each query's top ``k`` under ``(score DESC, corpus id ASC)``: the
block-partitioned exact search with a top-K merge of EDBT 2019
(distributed time-series similarity search) and EDBT 2020 (incremental
top-K similarity). A per-pair SQL fold, rank window and pair join do the
same arithmetic one row at a time.

The size switch is the engine's driver budget,
``operators.iterate.BROADCAST_BYTES``, which the in-memory PageRank and
k-core paths share; here it counts corpus matrix bytes (ids x width x
8). A corpus within it is collected once and shipped with the task
closure, and query rows run in few, large blocks (each Python task has a
fixed cost). Past it, both sides are packed into hash blocks whose
matrices fit the budget, each (query block, corpus block) pair keeps its
partial top-K, and a merge per query id keeps the global one. Every task scores at most ``_BLOCK_CELLS`` pairs at once.
``mutual=True`` (self-scoring only) keeps a pair only if each side is in
the other's top-K: inside the block when one block holds every query,
else in one merge task over the K-per-query lists.

Exactness, so that the rows equal the SQL tiers' bit for bit:

- float dots and squared norms add one dimension at a time, in the order
  of ``aggregate(zip_with(...))`` (BLAS adds in another order), and the
  cosine is ``dot / (|q| * |c|)``;
- the 6-dp value is Spark's ``round(x, 6)``, HALF_UP on the decimal
  string of the double, computed for the candidates within 2e-6 of each
  row's K-th raw cosine: rounding moves a value by at most 5e-7, so they
  hold the rounded top-K;
- integer dots are exact, and the cosine is ``dot / (sqrt(n2a) *
  sqrt(n2b))``.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ssidentity_spark.operators import iterate as loop
from ssidentity_spark.operators.iterate import materialize

# The same arithmetic as SQL expressions, for the pairs a candidate join
# (LSH bucket, IVF cell, MMR pool) or a stream produces.


def dot(a, b) -> F.Column:
    """The per-pair dot product: a left-to-right fold of the products."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cos6(a: str, an: str, b: str, bn: str) -> F.Column:
    """The 6-dp cosine of vector columns ``a`` and ``b`` with norms ``an``
    and ``bn``."""
    return F.round(dot(F.col(a), F.col(b)) / (F.col(an) * F.col(bn)), 6)


def top_rows(scored: DataFrame, k: int, *by: str) -> DataFrame:
    """``scored``'s first ``k`` rows per ``by`` (default ``query_id``) by
    ``cos`` DESC, ``neighbor_id`` ASC, ranked ``rnk``."""
    w = Window.partitionBy(*(by or ("query_id",))).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# score-matrix cells one block computes at once (32 MB of doubles)
_BLOCK_CELLS = 1 << 22
_6DP = Decimal("0.000001")


def round6(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 6)`` on doubles: HALF_UP on the shortest
    round-trip string; ``+ 0.0`` drops a rounded-away negative's sign, as
    ``java.math.BigDecimal`` has no -0."""
    return np.array(
        [float(Decimal(repr(v)).quantize(_6DP, ROUND_HALF_UP)) + 0.0 for v in x.tolist()],
        dtype=np.float64,
    )


class _Block:
    """Row-aligned numpy arrays for one block of ids."""

    def rows(self, lo: int, hi: int):
        out = object.__new__(type(self))
        out.__dict__ = {a: v[lo:hi] for a, v in self.__dict__.items()}
        return out


class _Vectors(_Block):
    """Float vectors (widened to doubles) and their fold-ordered norms."""

    def __init__(self, pdf: pd.DataFrame, _cells=None):
        self.ids = pdf["id"].to_numpy(np.int64)
        self.m = np.stack(pdf["v"].to_numpy()).astype(np.float64) if len(pdf) else np.zeros((0, 0))
        self.nrm = np.sqrt(_fold(self.m, self.m, outer=False))


class _Profiles(_Block):
    """Sparse count profiles densified over a shared cell index. A null
    cell key never equals another, so it adds to norms and cell counts
    but never to a dot."""

    def __init__(self, pdf: pd.DataFrame, cells: dict):
        self.ids, uix = np.unique(pdf["id"].to_numpy(np.int64), return_inverse=True)
        c = pdf["c"].to_numpy(np.int64)
        self.n2 = np.bincount(uix, weights=c * c, minlength=len(self.ids)).astype(np.int64)
        self.n_cells = np.bincount(uix, minlength=len(self.ids)).astype(np.int64)
        keys = zip(*(pdf[k] for k in pdf.columns if k not in ("id", "c")))
        cix = np.array([cells.get(k, -1) for k in keys], dtype=np.int64)
        on = cix >= 0
        self.m = np.zeros((len(self.ids), len(cells)), np.int64)
        self.m[uix[on], cix[on]] = c[on]


def _cell_index(pdf: pd.DataFrame) -> dict:
    keys = pdf[[k for k in pdf.columns if k not in ("id", "c")]].dropna()
    return {k: i for i, k in enumerate(sorted(set(keys.itertuples(index=False, name=None))))}


def _fold(a: np.ndarray, b: np.ndarray, outer: bool = True) -> np.ndarray:
    """``aggregate(zip_with(a, b, x * y), 0.0, acc + x)``, one product and
    one add per dimension, left to right: for every (a row, b row) pair,
    or row by row when ``outer`` is False."""
    acc = np.zeros((len(a), len(b)) if outer else len(a))
    for j in range(a.shape[1] if acc.size else 0):
        acc += np.multiply.outer(a[:, j], b[:, j]) if outer else a[:, j] * b[:, j]
    return acc


def _near_top(s: np.ndarray, k: int, slack: float) -> tuple[np.ndarray, np.ndarray]:
    """(row, col) of every finite score within ``slack`` of its row's
    K-th largest: the candidates the exact ranking chooses from."""
    s[~np.isfinite(s)] = -np.inf
    keep = np.isfinite(s)
    n = s.shape[1]
    if n > k:
        keep &= s >= (np.partition(s, n - k, axis=1)[:, n - k] - slack)[:, None]
    return np.nonzero(keep)


def _float_block(q: _Vectors, c: _Vectors, k: int) -> pd.DataFrame:
    with np.errstate(divide="ignore", invalid="ignore"):
        s = _fold(q.m, c.m) / np.multiply.outer(q.nrm, c.nrm)
    s[np.equal.outer(q.ids, c.ids)] = -np.inf
    r, j = _near_top(s, k, 2e-6)
    return _rank(pd.DataFrame({"qid": q.ids[r], "cid": c.ids[j], "cos": round6(s[r, j])}), "cos", k)


def _int_block(q: _Profiles, c: _Profiles, k: int) -> pd.DataFrame:
    # a partial sum of non-negative products never exceeds the dot, nor
    # the dot the larger squared norm: below 2**53 each is an exact
    # double, whatever order BLAS adds in
    if max(q.n2.max(initial=0), c.n2.max(initial=0)) < 2**53:
        dots = (q.m.astype(np.float64) @ c.m.T.astype(np.float64)).astype(np.int64)
    else:
        dots = q.m @ c.m.T
    with np.errstate(divide="ignore", invalid="ignore"):
        s = dots / np.multiply.outer(np.sqrt(q.n2), np.sqrt(c.n2))
    s[(dots == 0) | np.equal.outer(q.ids, c.ids)] = -np.inf
    r, j = _near_top(s, k, 0.0)
    shared = np.count_nonzero((q.m[r] > 0) & (c.m[j] > 0), axis=1)
    out = pd.DataFrame({"qid": q.ids[r], "cid": c.ids[j], "n_cells": q.n_cells[r],
                        "shared_cells": shared, "dot": dots[r, j], "cosine": s[r, j]})
    return _rank(out, "cosine", k)


def _rank(df: pd.DataFrame, key: str, k: int) -> pd.DataFrame:
    df = df.sort_values(["qid", key, "cid"], ascending=[True, False, True], kind="mergesort")
    df["rnk"] = (df.groupby("qid").cumcount() + 1).astype(np.int32)
    return df[df["rnk"] <= k]


def _scored(kind, q: _Block, c: _Block, k: int, cells: int) -> pd.DataFrame:
    """``kind.block`` of ``q`` against ``c`` in pieces of at most ``cells``
    scores, merged to each query's top ``k``."""
    cstep = max(1, min(len(c.ids), cells))
    qstep = max(1, cells // cstep)
    out = pd.concat([
        kind.block(q.rows(i, i + qstep), c.rows(j, j + cstep), k)
        for i in range(0, max(len(q.ids), 1), qstep)
        for j in range(0, max(len(c.ids), 1), cstep)
    ])
    return out if cstep >= len(c.ids) else _rank(out.drop(columns="rnk"), kind.key, k)


def _mutual(df: pd.DataFrame) -> pd.DataFrame:
    fwd = pd.MultiIndex.from_arrays([df["qid"], df["cid"]])
    return df[fwd.isin(pd.MultiIndex.from_arrays([df["cid"], df["qid"]]))]


def _whole(fn):
    """A ``mapInPandas`` function applying ``fn`` to a partition's rows at once."""

    def run(batches):
        parts = list(batches)
        if parts:
            yield fn(pd.concat(parts, ignore_index=True))

    return run


class _Kind(NamedTuple):
    schema: str
    key: str  # the score ranked DESC
    build: Callable  # (pandas rows, cell index) -> _Block
    block: Callable  # (query _Block, corpus _Block, k) -> ranked rows
    index: Callable | None  # corpus rows -> cell index
    width: Callable  # corpus frame -> least matrix cells a row adds
    shape: Callable  # (pandas rows, cell index) -> (ids, matrix width)


def _vector_width(df: DataFrame) -> int:
    row = df.select(F.size("v")).first()
    return max(1, row[0]) if row else 1


_FLOAT = _Kind(
    "qid long, cid long, cos double, rnk int", "cos", _Vectors, _float_block, None,
    _vector_width, lambda pdf, cells: (len(pdf), len(pdf["v"].iloc[0]) if len(pdf) else 0),
)
_INT = _Kind(
    "qid long, cid long, n_cells long, shared_cells long, dot long, cosine double, rnk int",
    "cosine", _Profiles, _int_block, _cell_index,
    lambda df: 1, lambda pdf, cells: (pdf["id"].nunique(), len(cells)),
)


def block_topk(
    corpus: DataFrame,
    k: int,
    queries: DataFrame | None = None,
    *,
    mutual: bool = False,
) -> DataFrame:
    """Top-``k`` corpus rows per query by 6-dp cosine, ties to the smaller
    corpus id: ``(qid, cid, cos, rnk)``. ``corpus`` and ``queries`` are
    ``(id, v)`` frames, ``v`` an array of floats or doubles;
    ``queries=None`` scores the corpus against itself. A pair of equal
    ids is never scored."""

    def ids(df):
        return None if df is None else df.select(F.col("id").cast("long"), "v")

    return _block_topk(_FLOAT, ids(corpus), ids(queries), k, mutual)


def block_topk_int(
    prof: DataFrame, k: int, key: str, cells: list[str], value: str, *, mutual: bool = False
) -> DataFrame:
    """Top-``k`` other profiles per profile by exact cosine over integer
    count profiles, ties to the smaller id, pairs sharing no cell left
    out: ``(qid, cid, n_cells, shared_cells, dot, cosine, rnk)``. ``prof``
    holds one ``(key, *cells, value)`` row per profile cell."""
    sparse = prof.select(
        F.col(key).cast("long").alias("id"), *cells, F.col(value).cast("long").alias("c")
    )
    return _block_topk(_INT, sparse, None, k, mutual)


def _block_topk(kind: _Kind, corpus, queries, k, mutual) -> DataFrame:
    if mutual and queries is not None:
        raise ValueError("mutual=True ranks a corpus against itself: pass no queries")
    # past this many rows no matrix fits the budget, so the collect stops there
    cap = loop.BROADCAST_BYTES // (8 * kind.width(corpus))
    head = corpus.limit(cap + 1).toPandas()
    cells = kind.index(head) if kind.index else None
    n, width = kind.shape(head, cells)
    if len(head) > cap or 8 * n * width > loop.BROADCAST_BYTES:
        return _block_pairs(kind, corpus, queries, k, mutual, head[:1])
    cmat = kind.build(head, cells)
    if queries is not None:

        def run_queries(qpdf):
            return _scored(kind, kind.build(qpdf, cells), cmat, k, _BLOCK_CELLS)

        return queries.mapInPandas(_whole(run_queries), kind.schema)
    # self-scoring: the query blocks are row ranges of the shipped matrix
    step = max(1, _BLOCK_CELLS // max(len(cmat.ids), 1))  # query rows a task
    n_blocks = max(1, -(-len(cmat.ids) // step))
    one = mutual and n_blocks == 1

    def run_self(blocks):
        for part in blocks:
            for b in part["id"].tolist():
                out = _scored(kind, cmat.rows(b * step, (b + 1) * step), cmat, k, _BLOCK_CELLS)
                yield _mutual(out) if one else out

    out = corpus.sparkSession.range(n_blocks, numPartitions=n_blocks).mapInPandas(
        run_self, kind.schema
    )
    return out.coalesce(1).mapInPandas(_whole(_mutual), kind.schema) if mutual and not one else out


def _block_pairs(kind: _Kind, corpus, queries, k, mutual, sample) -> DataFrame:
    """Past the broadcast budget: hash blocks whose matrices fit
    ``BROADCAST_BYTES`` on each side, one task per (query block, corpus
    block) pair keeping its partial top-K, then a merge per query id."""
    spark = corpus.sparkSession
    corpus = materialize(corpus)  # read by the cell index, the id counts and the packing
    cells = kind.index(corpus.drop("id", "c").distinct().toPandas()) if kind.index else None
    per_block = max(1, loop.BROADCAST_BYTES // (8 * max(kind.shape(sample, cells)[1], 1)))

    def packed(df, name):
        n = max(1, -(-df.select("id").distinct().count() // per_block))
        return n, df.groupBy(F.pmod(F.xxhash64("id"), F.lit(n)).alias(name + "b")).agg(
            F.collect_list(F.struct(*df.columns)).alias(name)
        )

    n_qb, qb = packed(corpus if queries is None else queries, "q")
    n_cb, cb = packed(corpus, "c")

    def run_pair(it):
        for part in it:
            for qrows, crows in zip(part["q"], part["c"]):
                qmat, cmat = (kind.build(pd.DataFrame(list(x)), cells) for x in (qrows, crows))
                yield _scored(kind, qmat, cmat, k, _BLOCK_CELLS)

    width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    merged = (
        qb.crossJoin(cb)
        .repartition(n_qb * n_cb)
        .mapInPandas(run_pair, kind.schema)
        .repartition(width, "qid")
        .mapInPandas(_whole(lambda df: _rank(df.drop(columns="rnk"), kind.key, k)), kind.schema)
    )
    return merged.coalesce(1).mapInPandas(_whole(_mutual), kind.schema) if mutual else merged
