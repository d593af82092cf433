"""Relational graph analytics over the co-occurrence network (the
reference's README.md:15-19, "things that can be correlated"): connected
components (pointer jumping with tree hooking, O(log diameter) rounds),
weighted label propagation and weighted PageRank, built from joins and
aggregations rather than a graph engine.

Every loop here runs through :func:`~ssidentity_spark.operators.iterate.
iterate`: each round's state is written out by ``materialize`` (so plans
never grow round over round) and the round's fixpoint scalar is observed
on that same checkpoint job.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ssidentity_spark.operators import iterate as loop
from ssidentity_spark.operators.iterate import (
    iterate,
    materialize,
    materialize_observed,
)


# Rounds to the fixpoint grow with log(diameter): 11 on a 1,000-edge
# path, 12 with its ids shuffled. Reaching this ceiling means a fault,
# never a deep graph, so it raises instead of returning under-merged
# labels.
_MAX_ROUNDS = 64


def connected_components(
    edges: DataFrame,
    src: str = "mac_a",
    dst: str = "mac_b",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of the undirected graph ``edges``: returns
    ``(vertex, component)``, the component being its smallest member id.
    Every endpoint is a vertex, so a vertex whose only edge is a self-loop
    comes back as its own singleton. When ``stats`` is passed, ``iterate``
    records the round count, whether the fixpoint was reached, and rows
    and seconds per round.

    The state is one parent pointer ``p`` per vertex, first the vertex
    itself, and a round runs the hook-and-shortcut steps of
    Shiloach-Vishkin as FastSV (Zhang, Azad, Hu 2020) orders them:

    (a) ``gp[u] = p[p[u]]``, one window over the state keyed by parent;
    (b) ``m[u]``, the least ``gp`` over u's closed neighbourhood, one join
        with the symmetrized edges (self-edges included) and one group-by;
    (c) tree hooking, ``h[x]``: the least ``m[u]`` over the vertices u
        whose parent is x;
    (d) ``p' = least(m, h)``. (c) and (d) are one group-by over the union
        of the rows ``(u, m[u])`` and ``(p[u], m[u])``.

    Pointers only ever fall and stay inside their component. At the
    fixpoint every tree is a star rooted at its component's minimum,
    reached in O(log diameter) rounds: 8 on an 80-edge path, 9 on a
    160-edge one and 10 with its ids shuffled. Without (c), min-label
    propagation with the shortcut is logarithmic only when ids run in
    path order. The change count is observed on the round's checkpoint,
    so the stop test runs no job."""
    # one run of the caller's edge plan: each union branch below reads it
    raw = materialize(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    # closed neighbourhoods: both directions plus a self-edge per vertex
    sym = (
        raw.unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .unionByName(raw.select("u", F.col("u").alias("v")))
        .unionByName(raw.select(F.col("v").alias("u"), "v"))
        .distinct()
        .cache()
    )
    state = sym.where(F.col("u") == F.col("v")).select(
        F.col("u").alias("vertex"), F.col("u").alias("p")
    )

    def step(s: DataFrame, _m: dict) -> DataFrame:
        # each vertex's own row meets its children's rows in one window on
        # the parent id. A self-join would square the state's size
        # estimate, which the checkpoint carries into the next round: its
        # digit count doubles each round and planning stalls by round 15
        t = s.schema["vertex"].dataType
        rows = s.select(
            F.col("vertex").alias("x"), "p", F.lit(None).cast(t).alias("vertex")
        ).unionByName(
            s.select(
                F.col("p").alias("x"), F.lit(None).cast(t).alias("p"), "vertex"
            )
        )
        gp = rows.select(
            "vertex",
            F.col("x").alias("p"),
            F.max("p").over(Window.partitionBy("x")).alias("gp"),
        ).where(F.col("vertex").isNotNull())
        # the self-edge carries u's own parent through the group-by
        m = (
            sym.join(gp, sym.v == gp.vertex)
            .groupBy("u")
            .agg(
                F.min("gp").alias("m"),
                F.min(F.when(F.col("u") == F.col("v"), F.col("p"))).alias("p"),
            )
        )
        hooks = m.select(F.col("u").alias("vertex"), "m", F.col("p").alias("old"))
        hooks = hooks.unionByName(
            m.select(F.col("p").alias("vertex"), "m", F.lit(None).alias("old"))
        )
        return (
            hooks.groupBy("vertex")
            .agg(F.min("m").alias("p"), F.min("old").alias("old"))
            .select("vertex", "p", (F.col("p") < F.col("old")).alias("chg"))
        )

    run = {} if stats is None else stats
    labels = iterate(
        step,
        state,
        _MAX_ROUNDS,
        metrics={"chg": F.count_if("chg")},
        done=lambda m, _prev: m["chg"] == 0,
        stats=run,
    )
    sym.unpersist()
    if not run["converged"]:
        raise RuntimeError(
            f"connected_components: no fixpoint after {_MAX_ROUNDS} rounds"
        )
    return labels.select("vertex", F.col("p").alias("component"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 4,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """COMMUNITY detection by synchronous weighted label propagation
    (Raghavan et al. 2007) — the modularity-style partition next to
    :func:`connected_components`' reachability partition: CC answers
    "which devices ever touch", LPA answers "which devices cluster
    together more than with the rest" on the SAME co-observation graph
    (/root/reference/README.md:15-17 "traveling companions").

    Every vertex starts as its own label; each round every vertex adopts
    the label with the greatest total incident edge WEIGHT in its
    neighborhood, ties broken toward the smallest label. A FIXED round
    count (no convergence test) keeps the computation a static dataflow
    both engines replay bit-for-bit: weights stay integral, so the
    argmax is exact — no float tie anywhere, which is what lets the
    whole training loop sit under a driver hash (the text_logreg_train
    pattern).

    Relational per round: one join of the symmetrized edge list with the
    label vector on the neighbor key, one (vertex, label) weight
    aggregate, one argmax-by-struct aggregate — two keyed exchanges,
    the state materialized each round by ``iterate``. State is one row
    per vertex.

    Vertex universe contract (ADVICE r10): by default EDGES DEFINE THE
    VERTEX SET — a vertex with no incident edge has no neighborhood to
    propagate over and is absent from the result. Callers whose graph
    carries isolated nodes pass ``vertices`` (a one-column frame of
    vertex ids, any column name); isolated members then come back as
    their own singleton community (label = own id), exactly the LPA
    fixpoint for a degree-0 vertex."""
    sym = _lpa_sym(edges, src, dst, weight).cache()
    labels = (
        sym.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
    )
    labels = iterate(lambda lab, _m: _lpa_round(sym, lab), labels, iters)
    sym.unpersist()
    if vertices is not None:
        # degree-0 members never appear in `support`, so they are added
        # once at the end with their LPA fixpoint (own label) — cheaper
        # than carrying no-op rows through every propagation round
        vcol = vertices.columns[0]
        isolated = (
            vertices.select(F.col(vcol).alias("vertex"))
            .distinct()
            .join(labels, "vertex", "left_anti")
            .withColumn("label", F.col("vertex"))
        )
        labels = labels.unionByName(isolated)
    return labels


def _lpa_sym(edges: DataFrame, src: str, dst: str, weight: str) -> DataFrame:
    """label_propagation's undirected view of a directed multigraph:
    (u, v, w) with weights summed over both directions, cast to long so
    the argmax stays exact."""
    w = F.col(weight).cast("long").alias("w")
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), w)
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v"), w))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )


def _lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One label_propagation round: each vertex adopts the label of
    greatest incident weight, ties to the smallest label."""
    support = (
        sym.join(labels, sym.v == labels.vertex)
        .groupBy(F.col("u").alias("vertex"), "label")
        .agg(F.sum("w").alias("s"))
    )
    # argmax(s) with min-label tie-break via one struct-max: compare
    # (s, -label) lexicographically — exact on integers
    return support.groupBy("vertex").agg(
        (-F.max(F.struct(F.col("s"), (-F.col("label")).alias("nl")))["nl"]).alias(
            "label"
        )
    )


def companion_clusters(obs: DataFrame, window: str = "30 seconds", min_cowindows: int = 2) -> DataFrame:
    """Device clusters that repeatedly travel together: co-occurrence edges
    above a support threshold → connected components → cluster rollup."""
    from ssidentity_spark.operators.analytics import co_occurrence

    edges = co_occurrence(obs, window).filter(F.col("n_cowindows") >= min_cowindows)
    comp = connected_components(edges)
    return comp.groupBy("component").agg(
        F.sort_array(F.collect_list("vertex")).alias("members"),
        F.count(F.lit(1)).alias("n_members"),
    )


# pagerank's join strategy past the driver budget: a rank row is a key
# and a double, about 100 MB framed at this many vertices, so up to it
# each round broadcasts the rank vector
_BROADCAST_MAX_NODES = 2_000_000
# decimals of the returned ranks: float summation order differs between
# engines and between pagerank's paths, and the rounding absorbs it
_ROUND_DP = 6


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 6,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank, ``iters`` rounds of the damped power iteration
    with the dangling mass spread uniformly: returns ``(node, rank)``,
    ``rank`` rounded to 6 decimals. An empty edge list gives an empty
    frame.

    Reference impetus: README.md:15 ranks "things that can be correlated";
    the influence ranking over the device co-observation graph is the
    natural next analytic after connected components (A3 network tree).

    The edge list is materialized once with its count observed, and the
    count picks the path:

    - at most ``BROADCAST_BYTES`` of edges (``operators/iterate.py``; an
      edge is about 24 bytes, two ids and a weight): the edges are
      collected and every round runs in numpy on the driver. A Spark
      round costs its planning, a broadcast job and a checkpoint job,
      more than the arithmetic of a graph this size.
    - larger graphs: the rounds run on Spark through ``iterate``, with
      the state one row per vertex (see ``_pagerank_setup``).

    Both paths compute ``p = w / wout`` per edge, ``rank[src] * p``
    summed per ``dst``, and ``(1 - d) / N + d * (m + dm / N)`` in that
    operation order, ``dm`` being the previous round's dangling ranks
    summed. Only the addition order inside each sum differs, and the
    final rounding (Spark's ``round``, HALF_UP, on both paths) absorbs
    it. Fixed rounds (no convergence test) keep the loop a static
    recurrence the DuckDB oracle unrolls.

    Nulls act as SQL's do, on both paths. A null endpoint is a vertex no
    join key matches: it is dangling, and an edge with a null end carries
    no rank (an edge to a null ``dst`` still counts in its source's
    out-weight). A null weight adds to no sum, and a vertex whose
    out-weights are all null is dangling."""
    e, ec = materialize_observed(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("double").alias("w"),
        ),
        n=F.count(F.lit(1)),
    )
    if 24 * ec["n"] <= loop.BROADCAST_BYTES:
        ranks = _pagerank_local(e, iters, damping)
    else:
        step, ranks, init, caches = _pagerank_setup(e, ec["n"], damping)
        # dm: the rank a round leaves on dangling nodes, spread by the next
        dm = F.coalesce(F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0))
        ranks = iterate(step, ranks, iters, metrics={"dm": dm}, init=init)
        for cached in caches:
            cached.unpersist()
    return ranks.select("node", F.round("rank", _ROUND_DP).alias("rank"))


def _pagerank_local(e: DataFrame, iters: int, damping: float) -> DataFrame:
    """pagerank's rounds in driver memory over the materialized edge
    list ``(src, dst, w)``: one collect, numpy rounds, and the unrounded
    ``(node, rank)`` frame, ``node`` typed as ``src``."""
    t = e.toArrow()
    ends = pa.chunked_array(t["src"].chunks + t["dst"].chunks, t["src"].type)
    ids = ends.combine_chunks().dictionary_encode(null_encoding="encode")
    ix = ids.indices.to_numpy(zero_copy_only=False)
    s, d = ix[: t.num_rows], ix[t.num_rows :]
    null = ids.dictionary.is_null().to_numpy(zero_copy_only=False)
    w = t["w"].to_numpy()
    n = len(ids.dictionary)
    weighted = ~null[s] & ~np.isnan(w)
    dangling = np.bincount(s[weighted], minlength=n) == 0
    wout = np.bincount(s[weighted], w[weighted], minlength=n)
    live = weighted & ~null[d]
    s, d = s[live], d[live]
    p = w[live] / wout[s]
    # an empty graph returns no rows; the 1 only keeps the divisions finite
    n_nodes = max(n, 1)
    rank = np.full(n, 1.0 / n_nodes)
    dm = int(dangling.sum()) / n_nodes
    for _ in range(iters):
        m = np.bincount(d, rank[s] * p, minlength=n)
        rank = (1.0 - damping) / n_nodes + damping * (m + dm / n_nodes)
        dm = float(rank[dangling].sum())
    schema = StructType(
        [StructField("node", e.schema["src"].dataType), StructField("rank", DoubleType())]
    )
    return e.sparkSession.createDataFrame(pa.table([ids.dictionary, rank], ["node", "rank"]), schema)


def _pagerank_setup(e: DataFrame, n_edges: int, damping: float) -> tuple:
    """pagerank's loop-invariant frames for the Spark rounds, built once
    from the materialized edge list ``e`` of ``n_edges`` rows: returns
    the round ``step``, the initial rank state, the initial observed
    values and the two cached frames the rounds read.

    Out-weights are folded into ``p = w / wout`` and the state frame
    ``(node, dangling)`` (dangling: no out-edge) is materialized with the
    node and dangling counts observed. Each round is one contribution
    join + per-``dst`` sum and one state join. The dangling mass a round
    redistributes is observed on the previous round's checkpoint job and
    passed in as a literal, so no round runs a job for it.

    The loop's shuffle width is the session's
    ``spark.sql.shuffle.partitions``, or about one partition per 2M
    edges when that is more. Both cached sides are hash-partitioned at
    that width, which is the width ``EnsureRequirements`` asks of the
    state join, so a round re-shuffles neither of them. A width of 1
    would plan as ``SinglePartition``, which the join re-shuffles every
    round.

    The contribution join's strategy comes from the observed node count:

    - up to ``_BROADCAST_MAX_NODES``: the normalized edges are cached
      hash-partitioned on ``dst`` and each round broadcasts the slim
      ``(node, rank)`` vector, so the contribution join, the per-``dst``
      sum and the state join all ride one partitioning and the round's
      only jobs are the broadcast and the checkpoint.
    - more: the edges are cached on ``src``, the rank vector is shuffled
      to them, and the per-``dst`` sum partial-aggregates before its
      exchange, which then carries vertex-bounded partial sums rather
      than one row per edge."""
    spark = e.sparkSession
    partitions = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        -(-n_edges // 2_000_000),
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("wout"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    state, sc = materialize_observed(
        nodes.join(out_w, nodes.node == out_w.src, "left").select(
            "node", F.col("wout").isNull().alias("dangling")
        ),
        n=F.count(F.lit(1)),
        n_dangling=F.count_if("dangling"),
    )
    # a checkpoint scans back with no known partitioning, a cache keeps
    # it: cached on node at the loop width, the per-round state join
    # never moves the state
    state = state.repartition(partitions, "node").cache()
    # an empty graph runs its rounds over no rows
    n_nodes = max(sc["n"], 1)
    broadcast_ranks = sc["n"] <= _BROADCAST_MAX_NODES
    ew = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("wout")).alias("p"))
        .repartition(partitions, "dst" if broadcast_ranks else "src")
        .cache()
    )

    def step(ranks: DataFrame, m: dict) -> DataFrame:
        # slim rank vector for the contribution join: the dangling flag
        # never crosses the exchange or broadcast
        rv = ranks.select("node", "rank")
        if broadcast_ranks:
            contrib = (
                ew.join(F.broadcast(rv), ew.src == rv.node)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("p")).alias("m"))
            )
        else:
            # re-pin the rank vector to (node, width) so the join reuses
            # ew's hash(src, width) layout, and the partial sums to
            # (dst, width) so the state join stays exchange-free
            contrib = (
                ew.join(rv.repartition(partitions, "node"), ew.src == rv.node)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("p")).alias("m"))
                .repartition(partitions, "dst")
            )
        return state.join(contrib, state.node == contrib.dst, "left").select(
            "node",
            "dangling",
            (
                F.lit((1.0 - damping) / n_nodes)
                + damping
                * (F.coalesce("m", F.lit(0.0)) + F.lit(m["dm"]) / n_nodes)
            ).alias("rank"),
        )

    ranks = state.withColumn("rank", F.lit(1.0 / n_nodes))
    return step, ranks, {"dm": sc["n_dangling"] / n_nodes}, (state, ew)
