"""Connected components: known topologies, fixpoint convergence, and the
companion-cluster rollup."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ssidentity_spark.operators.graph import companion_clusters, connected_components


def _union_find(edges):
    """(vertex, smallest member of its component) by union-find: each
    union hangs the larger root under the smaller, so a root is always
    its set's minimum."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


def _cc_rows(spark, edges, stats=None):
    df = spark.createDataFrame(edges, "mac_a STRING, mac_b STRING")
    return {
        (r.vertex, r.component)
        for r in connected_components(df, stats=stats).collect()
    }


def _cc(spark, edges):
    return dict(_cc_rows(spark, edges))


def test_two_components(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == "x"
    assert got["a"] != got["x"]


def test_chain_converges(spark):
    """A 15-edge chain (HashMin needed one round per edge) converges to
    one label."""
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]
    got = _cc(spark, chain)
    assert set(got.values()) == {"n00"}


def test_cycle_and_selfloop(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("z", "z")])
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["z"] == "z"


def test_companion_clusters(spark, observations):
    clusters = companion_clusters(observations, window="30 seconds", min_cowindows=1)
    rows = clusters.collect()
    if rows:  # fixture-dependent: clusters may be sparse
        for r in rows:
            assert r.n_members == len(r.members)
            assert r.component == min(r.members)


def test_cc_equals_union_find_on_random_graphs(spark):
    """Three random graphs, one operator call: each trial's vertices
    carry their own id prefix, so the trials are disjoint components and
    each is checked on its own against union-find."""
    import random

    rng = random.Random(7)
    trials = []
    for trial in range(3):
        n = 60
        edges = [
            (f"t{trial}v{rng.randrange(n):03d}", f"t{trial}v{rng.randrange(n):03d}")
            for _ in range(70)
        ]
        trials.append([(a, b) for a, b in edges if a != b])
    got = _cc_rows(spark, [e for edges in trials for e in edges])
    for trial, edges in enumerate(trials):
        mine = {(v, c) for v, c in got if v.startswith(f"t{trial}v")}
        assert mine == _union_find(edges), f"trial {trial}: != union-find"


@pytest.mark.parametrize("order,max_rounds", [("ordered", 9), ("shuffled", 16)])
def test_cc_logarithmic_rounds_on_long_path(spark, order, max_rounds):
    """A 160-edge path: HashMin needed one round per edge (161), star CC
    9. With ids in path order the bound is star's count; with shuffled
    ids, where min-label propagation plus the shortcut alone runs
    O(diameter) rounds, it is 2 * ceil(log2 n)."""
    ids = [f"p{i:03d}" for i in range(161)]
    if order == "shuffled":
        import random

        random.Random(1).shuffle(ids)
    path = list(zip(ids, ids[1:]))
    stats = {}
    got = _cc_rows(spark, path, stats=stats)
    assert got == _union_find(path)
    assert {c for _, c in got} == {"p000"}
    assert stats["converged"] and stats["iterations"] <= max_rounds, stats[
        "iterations"
    ]


def test_cc_raises_at_the_round_ceiling(spark, monkeypatch):
    """A graph that needs more rounds than the ceiling raises instead of
    returning under-merged labels."""
    import ssidentity_spark.operators.graph as graph

    monkeypatch.setattr(graph, "_MAX_ROUNDS", 2)
    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(16)]
    with pytest.raises(RuntimeError, match="no fixpoint after 2 rounds"):
        _cc_rows(spark, path)



def test_cc_size_estimate_does_not_square_round_over_round(spark):
    """The checkpointed state carries its plan's size estimate into the
    next round. It may grow by a factor a round, never square: squared,
    its digit count doubles each round and planning stalls by round 15."""
    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(16)]
    df = spark.createDataFrame(path, "mac_a STRING, mac_b STRING")
    stats = {}
    out = connected_components(df, stats=stats)
    est = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert stats["iterations"] == 6 and est.bit_length() < 1000

# --- triangle counting (plans/graph.py:graph_triangles internals) ---------


def test_triangle_count_known_graph(spark):
    """K4 minus one edge: 2 triangles; wedges from degrees (3,3,2,2):
    3+3+1+1 = 8; clustering 3*2/8 = 0.75."""
    from pyspark.sql import functions as F

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]  # K4 minus (3,4)
    e = spark.createDataFrame(edges, "u int, v int")
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .count()
    )
    assert tri == 2
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .count()
    )
    wedges = deg.agg(
        (F.sum(F.col("count") * (F.col("count") - 1)) / 2).alias("w")
    ).collect()[0]["w"]
    assert wedges == 8


def test_cc_keeps_self_loop_only_vertices(spark):
    """A vertex whose only edges are self-loops comes back as its own
    singleton component."""
    edges = [("a", "a"), ("b", "c")]
    got = _cc_rows(spark, edges)
    assert got == _union_find(edges) == {("a", "a"), ("b", "b"), ("c", "b")}


# ---------------------------------------------------------------------------
# G3: weighted label-propagation communities (operators/graph.py)
# ---------------------------------------------------------------------------


def _lpa(spark, rows, iters=4):
    from ssidentity_spark.operators.graph import label_propagation

    e = spark.createDataFrame(rows, "src long, dst long, w long")
    out = label_propagation(e, iters=iters)
    return {r["vertex"]: r["label"] for r in out.collect()}


def test_lpa_two_cliques_with_weak_bridge_split(spark):
    """Two dense cliques joined by one weak edge: each clique converges
    to ONE internal label and the two labels differ — the structure CC
    cannot see (CC would report a single component)."""
    clique_a = [(1, 2, 5), (1, 3, 5), (2, 3, 5)]
    clique_b = [(10, 11, 5), (10, 12, 5), (11, 12, 5)]
    bridge = [(3, 10, 1)]
    got = _lpa(spark, clique_a + clique_b + bridge)
    assert got[1] == got[2] == got[3]
    assert got[10] == got[11] == got[12]
    assert got[1] != got[10]


def test_lpa_tie_breaks_toward_smallest_label(spark):
    """A vertex whose neighbor labels tie on total weight adopts the
    smallest — round 1 on a star makes the center's label the min of
    its leaves."""
    star = [(100, 7, 1), (100, 8, 1), (100, 9, 1)]
    got = _lpa(spark, star, iters=1)
    assert got[100] == 7


def test_lpa_weight_beats_count(spark):
    """One heavy neighbor outvotes two light ones — the WEIGHTED rule
    (unweighted LPA would pick the 2-vote label side by tie-break)."""
    edges = [(50, 60, 5), (50, 70, 1), (50, 71, 1), (70, 71, 1)]
    got = _lpa(spark, edges, iters=1)
    # 50 sees labels {60: w5, 70: w1, 71: w1} -> 60 despite 2 light votes
    assert got[50] == 60


def test_lpa_query_matches_planted_embedding_structure(spark):
    """The gated kNN-graph query yields a non-degenerate partition on
    the real corpus (many communities, none swallowing everything) —
    the non-vacuity bar for the G3 row."""
    import ssidentity_spark.plans  # noqa: F401  (populates REGISTRY)
    from ssidentity_spark.registry import REGISTRY

    rows = REGISTRY["graph_label_propagation"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    n = len(rows)
    comms = {r["community"] for r in rows}
    biggest = max(r["community_size"] for r in rows)
    assert n == 500 and len(comms) > 10 and biggest < n
    # community_size is consistent with the partition itself
    from collections import Counter

    c = Counter(r["community"] for r in rows)
    assert all(c[r["community"]] == r["community_size"] for r in rows)


def test_lpa_vertices_param_keeps_isolated_nodes(spark):
    """ADVICE r10: edges define the vertex set by default, so isolated
    vertices vanish; passing ``vertices`` restores them as singleton
    communities (label = own id) without disturbing edge-connected
    labels."""
    from ssidentity_spark.operators.graph import label_propagation

    e = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 5), (2, 3, 5)], "src long, dst long, w long"
    )
    verts = spark.createDataFrame([(1,), (2,), (3,), (99,), (100,)], "vid long")
    base = {
        r["vertex"]: r["label"] for r in label_propagation(e, iters=2).collect()
    }
    assert set(base) == {1, 2, 3}  # default contract: edges define vertices
    got = {
        r["vertex"]: r["label"]
        for r in label_propagation(e, iters=2, vertices=verts).collect()
    }
    assert {k: v for k, v in got.items() if k in base} == base
    assert got[99] == 99 and got[100] == 100


def test_lpa_edges_through_ivf_full_probe_identical(spark):
    """VERDICT r10 ask #6: the IVF edge generator IS the brute tier when
    every cell is probed — edge set equal, LPA partition equal. This is
    the plumbing-correctness half of the contract; the partial-probe
    recall curve is the measured half (SCALE.md)."""
    from collections import defaultdict

    from ssidentity_spark.io import load_table
    from ssidentity_spark.operators.graph import label_propagation
    from ssidentity_spark.operators.ivf import train_centroids
    from ssidentity_spark.plans.graph import ivf_knn_edges
    from ssidentity_spark.operators.blocktopk import block_topk
    from ssidentity_spark.plans.similarity import _norm_vec, _vectors
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    em = load_table(spark, sf, "embeddings")
    corpus = _norm_vec(em).cache()
    K = 8
    bset = {(r.qid, r.cid) for r in block_topk(_vectors(em), K).collect()}

    cents = train_centroids(em, k=16, iters=3)
    full = ivf_knn_edges(corpus, cents, k=K, n_probes=len(cents))
    fset = {(r.vec_id, r.nbr) for r in full.collect()}
    assert fset == bset  # full probe == brute, edge for edge

    def partition(edges_set):
        import pandas as pd

        e = spark.createDataFrame(
            pd.DataFrame(list(edges_set), columns=["vec_id", "nbr"])
        ).withColumn("w", F.lit(1))
        lab = label_propagation(e, src="vec_id", dst="nbr", iters=4)
        d = defaultdict(set)
        for r in lab.collect():
            d[r.label].add(r.vertex)
        return {frozenset(s) for s in d.values()}

    assert partition(fset) == partition(bset)

    # partial probes: a measured-recall approximation, never junk edges —
    # every generated pair is a true candidate with its exact cosine,
    # and recall clears the measured floor (0.57 at 4 probes; 0.5 bar)
    part = ivf_knn_edges(corpus, cents, k=K, n_probes=4)
    pset = {(r.vec_id, r.nbr) for r in part.collect()}
    assert len(pset & bset) / len(bset) >= 0.5
    assert all(v != n for v, n in pset)


def test_kcore_fixed_rounds_reach_the_fixpoint_and_match_semantics(spark):
    """graph_kcore's _KCORE_ROUNDS peels must CONVERGE at gate scale
    (one extra peel changes nothing — the fixed-round output IS the true
    k-core, not a truncation), every survivor keeps >= K mutual
    neighbors within the core, and the peel is non-vacuous (some vertex
    was actually removed)."""
    import ssidentity_spark.plans  # noqa: F401
    from ssidentity_spark.plans.graph import _KCORE_K
    from ssidentity_spark.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["graph_kcore"].fn(spark, sf).collect()
    core = {r["vec_id"]: r["core_degree"] for r in rows}
    n_vertices = 500
    assert 0 < len(core) < n_vertices  # non-vacuous: peeled, not emptied
    assert all(d >= _KCORE_K for d in core.values())
    # fixpoint: one more peel on the returned core removes nobody —
    # every member's within-core degree is already >= K by the rows
    # above, so the core is closed under the peel rule by construction;
    # additionally the core must not be recoverable-larger: re-running
    # the registered query is deterministic
    again = {
        r["vec_id"]: r["core_degree"]
        for r in REGISTRY["graph_kcore"].fn(spark, sf).collect()
    }
    assert again == core


def test_kcore_in_memory_peel_equals_the_spark_peel(spark, monkeypatch):
    """graph_kcore's size switch, pinned on both sides: the numpy peel
    (the edges within BROADCAST_BYTES) and the Spark peel (budget 0)
    give equal rows on sf0.001. The mutual-kNN edges are built once, at
    the default budget, and fed to both runs: at budget 0 the block
    top-K would score one vector per block (its own switch is pinned by
    test_block_topk_past_broadcast_budget_equals_broadcast)."""
    import ssidentity_spark.plans  # noqa: F401
    from ssidentity_spark.io import load_table
    from ssidentity_spark.operators import iterate as loop
    from ssidentity_spark.plans import graph
    from ssidentity_spark.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    knn = spark.createDataFrame(
        graph._mutual_knn_edges(load_table(spark, sf, "embeddings")).toArrow()
    )
    monkeypatch.setattr(graph, "_mutual_knn_edges", lambda _em: knn)

    def rows():
        out = REGISTRY["graph_kcore"].fn(spark, sf)
        return out.schema.simpleString(), sorted(map(tuple, out.collect()))

    in_memory = rows()
    monkeypatch.setattr(loop, "BROADCAST_BYTES", 0)
    assert rows() == in_memory
    assert in_memory[1]
