"""The block top-K operator (operators/blocktopk.py): its 6-dp cosines
are Spark's ``round(..., 6)`` of the SQL fold, value for value."""

from __future__ import annotations

import math
import random
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from ssidentity_spark.io import load_table
from ssidentity_spark.operators.blocktopk import block_topk, cos6, round6
from ssidentity_spark.plans.similarity import _norm_vec


def test_round6_is_sparks_half_up_round_on_half_way_values(spark):
    """Half-way points between 6-dp values, the doubles either side of
    them, powers of two and random values: ``round6`` equals Spark's
    ``round(x, 6)`` on each (HALF_UP on the decimal string, no -0)."""
    rnd = random.Random(11)
    vals = [0.0, -1e-9, 1e-9, 1.0, -1.0, 0.9999995, -0.9999995, 0.0000005]
    for _ in range(400):
        h = float(Decimal(rnd.randrange(-10**6, 10**6)) / 10**6 + Decimal("5e-7"))
        vals += [h, math.nextafter(h, 2.0), math.nextafter(h, -2.0)]
    vals += [2.0**-e for e in range(1, 40)] + [rnd.uniform(-1, 1) for _ in range(400)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    want = [r.r for r in df.orderBy("i").select(F.round("v", 6).alias("r")).collect()]
    got = round6(np.array(vals)).tolist()
    assert [repr(g) for g in got] == [repr(w) for w in want]


def test_block_cosines_equal_spark_round_of_the_fold_on_every_pair(spark):
    """Every pair of the sf0.01 embeddings: with k covering the corpus
    the operator returns all pairs, and each 6-dp cosine equals the SQL
    ``round(dot / (|q| * |c|), 6)`` (``cos6``) bit for bit."""
    base = _norm_vec(load_table(spark, "/root/testdata/sf0.01", "embeddings"))
    n = base.count()
    got = {
        (r.qid, r.cid): r.cos
        for r in block_topk(base.select(F.col("vec_id").alias("id"), "v"), n).collect()
    }
    c = base.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    pairs = base.crossJoin(c).where(F.col("vec_id") != F.col("cid"))
    want = {
        (r.vec_id, r.cid): r.cos
        for r in pairs.select("vec_id", "cid", cos6("v", "nrm", "cv", "cn").alias("cos")).collect()
    }
    assert len(got) == n * (n - 1)
    assert got == want


def test_scored_pieces_stay_within_block_cells_and_merge_to_the_whole():
    """Float and integer blocks: no piece scores more than the cell
    budget, even when the corpus alone holds more rows than the budget,
    and the merged pieces give the rows of one whole block."""
    import pandas as pd

    from ssidentity_spark.operators import blocktopk as B

    rnd = np.random.default_rng(3)
    vec = pd.DataFrame({"id": np.arange(60), "v": list(rnd.normal(size=(60, 8)))})
    prof = pd.DataFrame({"id": rnd.integers(0, 40, 300), "hod": rnd.integers(0, 6, 300),
                         "c": rnd.integers(1, 5, 300)}).drop_duplicates(["id", "hod"])
    for kind, pdf in ((B._FLOAT, vec), (B._INT, prof)):
        cells = kind.index(pdf) if kind.index else None
        m = kind.build(pdf, cells)
        seen = []

        def block(q, c, k, kind=kind, seen=seen):
            seen.append(len(q.ids) * len(c.ids))
            return kind.block(q, c, k)

        whole = kind.block(m, m, 3).reset_index(drop=True)
        for budget in (500, 37, 1):
            got = B._scored(kind._replace(block=block), m, m, 3, budget)
            assert max(seen) <= budget
            pd.testing.assert_frame_equal(got.reset_index(drop=True), whole)
            seen.clear()


def test_mutual_needs_self_scoring(spark):
    corpus = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, v array<double>")
    with pytest.raises(ValueError):
        block_topk(corpus, 1, corpus, mutual=True)
