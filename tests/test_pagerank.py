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


def test_join_strategy_modes_agree(spark, monkeypatch):
    """The edge count picks the driver-memory rounds (within
    BROADCAST_BYTES) or the Spark rounds, and there the vertex count
    picks a broadcast or a shuffled rank vector. All three compute the
    same recurrence; only the addition order inside each dst's sum
    differs, and the rounding absorbs it."""
    from ssidentity_spark.operators import graph
    from ssidentity_spark.operators import iterate as loop

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
    in_memory = _ranks(pagerank(e, iters=4))
    monkeypatch.setattr(loop, "BROADCAST_BYTES", 0)
    broadcast_mode = _ranks(pagerank(e, iters=4))  # 4 nodes << 2M
    monkeypatch.setattr(graph, "_BROADCAST_MAX_NODES", 0)
    shuffle_mode = _ranks(pagerank(e, iters=4))
    assert len(in_memory) == 4
    assert broadcast_mode == in_memory
    assert shuffle_mode == in_memory


@pytest.mark.parametrize("budget", [1 << 27, -1], ids=["in_memory", "spark"])
def test_empty_edge_list_gives_an_empty_frame(spark, monkeypatch, budget):
    """No edges, no vertices: both paths return an empty (node, rank)
    frame typed like the input (an empty edge list fits any budget of 0
    or more, so -1 pins the Spark rounds)."""
    from ssidentity_spark.operators import iterate as loop

    monkeypatch.setattr(loop, "BROADCAST_BYTES", budget)
    out = pagerank(_edges(spark, []))
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<node:string,rank:double>"
