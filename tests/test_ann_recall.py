"""ANN quality pins (SCALE.md quality curve): recall@k of the approximate
paths against brute-force ground truth — run at sf0.01 for speed; the full
sf0.1 sweep's table is in SCALE.md "Measured recall-vs-cost"."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from ssidentity_spark.io import load_table
from ssidentity_spark.operators.ivf import ivf_topk, train_centroids
from ssidentity_spark.plans.similarity import (
    N_QUERIES,
    TOP_K,
    lsh_topk,
    sim_topk_bruteforce,
)

SF_DIR = "/root/testdata/sf0.01"


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(truth, got):
    per_q = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    return sum(per_q) / len(per_q)


@pytest.fixture(scope="module")
def truth(spark):
    return _topk_sets(sim_topk_bruteforce(spark, SF_DIR))


def test_ivf_default_recall_at_least_080(spark, truth):
    """The registered sim_ivf_topk defaults (k=16, 3 iters, 4 probes) must
    keep recall@5 >= 0.8 — the quality bar the probe-limited search trades
    against its ~probes/k cost fraction."""
    em = load_table(spark, SF_DIR, "embeddings")
    cents = train_centroids(em, k=16, iters=3)
    got = _topk_sets(ivf_topk(em, cents, list(range(N_QUERIES)), top_k=TOP_K, n_probes=4))
    assert _recall(truth, got) >= 0.8


def test_lsh_banding_lifts_recall(spark, truth):
    """OR-construction: 4 bands x 4 bits must recall at least as much as a
    single 8-bit bucket (the AND-construction), while still scoring a
    bounded candidate subset — the knob SCALE.md documents."""
    em = load_table(spark, SF_DIR, "embeddings")
    n = em.count()
    single = _recall(truth, _topk_sets(lsh_topk(em, n_proj=8, n_bands=1)))
    banded = _recall(truth, _topk_sets(lsh_topk(em, n_proj=4, n_bands=4)))
    assert banded >= single
    cand = lsh_topk(em, n_proj=4, n_bands=4, top_k=10**9).count()
    assert cand < N_QUERIES * (n - 1) * 0.5  # bounded: <50% of brute force


def test_multiprobe_candidates_superset_and_recall_monotone(spark, truth):
    """Multi-probe candidates strictly contain the single-probe candidates
    (probe set = original bucket + flips), so per-query results can only
    improve: recall is monotone in n_flips and the candidate count stays
    bounded by (1 + n_flips) x the per-bucket population."""
    em = load_table(spark, SF_DIR, "embeddings")
    n = em.count()
    single_pairs = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(em, n_proj=8, top_k=10**9).collect()
    }
    multi_pairs = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(em, n_proj=8, top_k=10**9, n_flips=3).collect()
    }
    assert single_pairs <= multi_pairs
    r_single = _recall(truth, _topk_sets(lsh_topk(em, n_proj=8)))
    r_multi = _recall(truth, _topk_sets(lsh_topk(em, n_proj=8, n_flips=3)))
    assert r_multi >= r_single
    assert len(multi_pairs) < N_QUERIES * (n - 1) * 0.5  # still bounded


def test_lsh_recall_high_in_near_dup_regime(spark):
    """Sign-projection LSH is built for the near-dup operating point
    (cos -> 1 => per-bit collision -> 1): with planted ~0.98-cosine
    duplicates, 4 bands x 8 bits must find nearly all of them. This is the
    regime dedup_embedding_cosine runs the same banding in."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    rows = []
    vid = 0
    for b in base:
        for _ in range(4):  # original + 3 near-copies per group
            noisy = b + rng.normal(scale=0.05, size=64)  # cos ~ 0.98
            rows.append((vid, [float(x) for x in noisy]))
            vid += 1
    em = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")

    # ground truth: top-3 by brute force for the first 10 vectors
    from ssidentity_spark.operators.blocktopk import block_topk
    from ssidentity_spark.plans.similarity import _vectors

    corpus = _vectors(em)
    truth = _topk_sets(
        block_topk(corpus, 3, corpus.filter(F.col("id") < 10)).select(
            F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id")
        )
    )

    got = _topk_sets(lsh_topk(em, n_proj=8, n_queries=10, top_k=3, n_bands=4))
    assert _recall(truth, got) >= 0.9
