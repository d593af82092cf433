"""Semantics of operators/graph.pagerank on hand-checkable graphs.

The driver-gate hash row (graph_pagerank) proves Spark ≡ DuckDB on the
real event graph; these pin the recurrence itself.
"""

from __future__ import annotations

import pytest

from ssidentity_spark.operators.graph import pagerank


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w double")


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_symmetric_cycle_is_uniform(spark):
    # a ↔ b: perfect symmetry → stationary uniform distribution at any
    # iteration count
    r = _ranks(pagerank(_edges(spark, [("a", "b", 1.0), ("b", "a", 1.0)])))
    assert r["a"] == pytest.approx(0.5)
    assert r["b"] == pytest.approx(0.5)


def test_mass_conserved_with_dangling_sink(spark):
    # c has no out-edges: its mass must be redistributed, total stays 1
    e = _edges(spark, [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 3.0)])
    r = _ranks(pagerank(e, iters=8))
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-5)
    # b receives only a quarter of a's out-mass; c receives from both →
    # c outranks b
    assert r["c"] > r["b"]


def test_star_center_dominates(spark):
    leaves = [chr(ord("a") + i) for i in range(1, 6)]
    e = _edges(
        spark,
        [(leaf, "hub", 1.0) for leaf in leaves]
        + [("hub", leaf, 1.0) for leaf in leaves],
    )
    r = _ranks(pagerank(e))
    assert all(r["hub"] > r[leaf] for leaf in leaves)
    assert len({round(r[leaf], 9) for leaf in leaves}) == 1  # symmetry


def test_weights_steer_rank(spark):
    # a splits 9:1 between b and c → b must outrank c
    e = _edges(
        spark,
        [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
    )
    r = _ranks(pagerank(e))
    assert r["b"] > r["c"]


def test_join_strategy_modes_agree(spark):
    """r13: the contribution step picks broadcast-rank vs shuffle from
    the measured vertex count (broadcast_max_nodes). Both paths compute
    the identical recurrence — only the join strategy and the addition
    order inside each dst's sum differ, and round(6) absorbs that."""
    e = _edges(
        spark,
        [
            ("a", "b", 2.0),
            ("b", "c", 1.0),
            ("c", "a", 1.0),
            ("a", "c", 1.0),
            ("c", "d", 3.0),  # d is a dangling sink
        ],
    )
    broadcast_mode = _ranks(pagerank(e, iters=4))  # 4 nodes << 2M default
    shuffle_mode = _ranks(pagerank(e, iters=4, broadcast_max_nodes=0))
    assert shuffle_mode == broadcast_mode
