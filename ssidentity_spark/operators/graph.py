"""Relational graph analytics over the co-occurrence network (the
reference's README.md:15-19, "things that can be correlated"): connected
components (HashMin and large-star/small-star), weighted label
propagation and weighted PageRank, built from joins and aggregations
rather than a graph engine.

Every loop here runs through :func:`~ssidentity_spark.operators.iterate.
iterate`: each round's state is written out by ``materialize`` (so plans
never grow round over round) and the round's fixpoint scalar is observed
on that same checkpoint job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ssidentity_spark.operators.iterate import (
    iterate,
    materialize,
    materialize_observed,
)


def connected_components(
    edges: DataFrame,
    src: str = "mac_a",
    dst: str = "mac_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """HashMin label propagation: every vertex adopts the smallest label in
    its neighborhood until fixpoint. Returns (vertex, component) where
    component is the lexicographically smallest member id. When ``stats``
    is passed, ``iterate`` records the round count, whether the fixpoint
    was reached, and rows and seconds per round.

    HashMin converges in O(component diameter) rounds; the r5 blow-up
    study measured 18 rounds on chain-shaped 10-replica clusters, so the
    default ceiling carries headroom (the fixpoint early-exit makes the
    extra budget free on converged graphs). For graphs with unknown or
    adversarial diameter use ``connected_components_star`` — O(log
    diameter) rounds, measured 161 vs 9 on a 160-edge path (SCALE.md).
    HashMin remains the default because shallow co-occurrence/near-dup
    graphs converge in a handful of rounds at lower per-round cost.
    """
    # undirected: symmetrize once
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .cache()
    )
    labels = (
        sym.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
    )

    def step(labels: DataFrame, _m: dict) -> DataFrame:
        # candidate labels: own label + min neighbor label; the round's
        # join sees old and new label side by side, so the change flag
        # rides the state and its count is observed on the checkpoint
        neighbor_min = (
            sym.join(labels, sym.v == labels.vertex)
            .groupBy(F.col("u").alias("vertex"))
            .agg(F.min("component").alias("nbr_min"))
        )
        nbr = F.coalesce("nbr_min", F.col("component"))
        return labels.join(neighbor_min, "vertex", "left").select(
            "vertex",
            F.least(F.col("component"), nbr).alias("component"),
            (nbr < F.col("component")).alias("chg"),
        )

    labels = iterate(
        step,
        labels,
        max_iter,
        metrics={"chg": F.count_if("chg")},
        done=lambda m, *_: m["chg"] == 0,
        stats=stats,
    )
    sym.unpersist()
    return labels.select("vertex", "component")


def connected_components_star(
    edges: DataFrame,
    src: str = "mac_a",
    dst: str = "mac_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    pointer-doubling counterpart to HashMin: converges in O(log diameter)
    rounds instead of O(diameter), the difference the r5 blow-up study
    measured on chain-shaped near-dup clusters (18 HashMin rounds at 10×;
    see SCALE.md). Same relational building blocks — one keyed shuffle per
    star phase, checkpoint-truncated — so the per-round cost matches
    HashMin and the round COUNT is the win on long-chain graphs.

    large-star: every node links its larger neighbors to the minimum of
    its closed neighborhood; small-star: every node links its smaller-or-
    equal neighbors likewise. The edge set converges to a star forest
    whose centers are the component minima. Returns (vertex, component),
    identical to ``connected_components`` (equivalence is pytest-pinned
    on random graphs).
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # r12 optimization pass 2: `cur` and `vertices` below BOTH eagerly
    # checkpoint from `raw`, so an unpersisted caller's edge pipeline
    # (e.g. dedup_cc_clusters' full shingle→minhash→band build) ran
    # TWICE before the first star round. Materialize the two-column edge
    # projection once; a caller that already persisted its pairs only
    # pays one extra edge-list-sized copy. Interleaved A/B at sf0.1
    # (dedup_cc_clusters, 4 rounds): 8.05 → 7.22 s median, faster every
    # round, exceptAll-identical output.
    raw = materialize(raw)
    cur, init = materialize_observed(
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct(),
        rows=F.count(F.lit(1)),
    )
    # vertex set from the UNFILTERED edges: a vertex whose only edges are
    # self-loops must still appear (as its own singleton component), or
    # this function disagrees with connected_components on such graphs
    vertices = materialize(
        raw.select(F.col("u").alias("vertex"))
        .unionByName(raw.select(F.col("v").alias("vertex")))
        .distinct()
    )

    def same_edges(m: dict, prev: dict, new: DataFrame, old: DataFrame) -> bool:
        # fixpoint: the edge multiset stopped changing. The counts are
        # observed; the exact test runs only once they agree
        return m["rows"] == prev["rows"] and new.exceptAll(old).limit(1).count() == 0

    cur = iterate(
        _star_round,
        cur,
        max_iter,
        done=same_edges,
        init=init,
        stats=stats,
    )
    # converged: a star forest — every non-min vertex carries exactly one
    # (vertex, min) edge; the min-agg is belt-and-braces if max_iter cut
    # convergence short on an adversarial graph
    comp = cur.groupBy(F.col("u").alias("vertex")).agg(
        F.min("v").alias("component")
    )
    return (
        vertices.join(comp, "vertex", "left")
        .select(
            "vertex", F.coalesce("component", F.col("vertex")).alias("component")
        )
    )


def _star(e: DataFrame, large: bool) -> DataFrame:
    """One large-star (``large``) or small-star phase over canonical
    ``(u > v)`` edges."""
    # closed neighborhood of u: neighbors over both directions + u
    nbrs = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # no .distinct() on the self-edges: the only consumer is the
    # duplicate-insensitive min() below, so deduping here would be a
    # pure-waste extra shuffle per star phase
    with_self = nbrs.unionByName(nbrs.select("u", F.col("u").alias("v")))
    m = with_self.groupBy("u").agg(F.min("v").alias("m"))
    joined = nbrs.join(m, "u")
    if large:
        # connect strictly larger neighbors to the neighborhood min
        linked = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
    else:
        # connect smaller-or-equal neighbors AND u itself to the min
        linked = (
            joined.filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(
                m.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        )
    linked = linked.select("a", "b")
    return (
        linked.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
    )


def _star_round(e: DataFrame, _m: dict | None = None) -> DataFrame:
    """One connected_components_star round: large-star, then small-star."""
    return _star(_star(e, large=True), large=False)


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


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 6,
    damping: float = 0.85,
    round_dp: int = 6,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Weighted PageRank by plain joins + aggregations, fixed ``iters``
    power-iteration rounds (the relational formulation — no graph engine).

    Reference impetus: README.md:15 ranks "things that can be correlated";
    the influence ranking over the device co-observation graph is the
    natural next analytic after connected components (A3 network tree).

    The rank-independent work runs once, before the loop: the edge list
    is materialized with its count observed, out-weights are folded into
    ``p = w / wout``, and the state frame ``(node, dangling)`` — dangling
    means no out-edge — is materialized with the node and dangling counts
    observed. Each round is then one contribution join + per-``dst`` sum
    and one state join, run by ``iterate``. The dangling mass a round
    redistributes is the sum of the previous round's dangling ranks,
    observed on that round's checkpoint job and passed in as a literal,
    so no round runs a job for it. Rank state is one row per vertex,
    never collected. Fixed rounds (no convergence test) keep the loop a
    static recurrence the DuckDB oracle unrolls; float summation order
    differs between engines and the final ``round(round_dp)`` absorbs it.

    The loop's shuffle width is the session's
    ``spark.sql.shuffle.partitions``, or about one partition per 2M
    edges when that is more. Both cached sides are hash-partitioned at
    that width, which is the width ``EnsureRequirements`` asks of the
    state join, so a round re-shuffles neither of them (on the broadcast
    path below its only jobs are the rank broadcast and the checkpoint).
    A width of 1 would plan as ``SinglePartition``, which the join
    re-shuffles every round.

    The contribution join's strategy comes from the observed node count:

    - ``n_nodes <= broadcast_max_nodes`` (default 2M; a rank row is a key
      and a double, about 100 MB framed): the normalized edges are cached
      hash-partitioned on ``dst`` and each round broadcasts the slim
      ``(node, rank)`` vector, so the contribution join, the per-``dst``
      sum and the state join all ride one partitioning and the round's
      only exchange is the broadcast.
    - larger graphs: the edges are cached on ``src``, the rank vector is
      shuffled to them, and the per-``dst`` sum partial-aggregates before
      its exchange, which then carries vertex-bounded partial sums rather
      than one row per edge.

    Both paths compute the same recurrence; only the addition order
    inside each ``dst``'s sum differs, which the rounding absorbs.
    """
    step, ranks, init, caches = _pagerank_setup(
        edges, src, dst, weight, damping, broadcast_max_nodes
    )
    # dm: the rank a round leaves on dangling nodes, spread by the next
    dm = F.coalesce(F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0))
    ranks = iterate(step, ranks, iters, metrics={"dm": dm}, init=init)
    for cached in caches:
        cached.unpersist()
    return ranks.select("node", F.round("rank", round_dp).alias("rank"))


def _pagerank_setup(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str,
    damping: float,
    broadcast_max_nodes: int,
) -> tuple:
    """pagerank's loop-invariant frames, built once: returns the round
    ``step``, the initial rank state, the initial observed values and the
    two cached frames the rounds read."""
    e, ec = materialize_observed(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("double").alias("w"),
        ),
        n=F.count(F.lit(1)),
    )
    spark = edges.sparkSession
    partitions = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        -(-ec["n"] // 2_000_000),
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
    # an empty graph (e.g. every transition was a self-loop) runs its
    # rounds over no rows and returns an empty (node, rank) frame
    n_nodes = max(sc["n"], 1)
    broadcast_ranks = sc["n"] <= broadcast_max_nodes
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
