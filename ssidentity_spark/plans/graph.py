"""Graph-analytics queries over the event stream: PageRank on the
user-transition graph.

Reference impetus: README.md:15-17 — the declared correlation surface
("traveling companions", "habitual movements") is graph analysis over the
device co-observation network; connected components carries the clustering
half (A3, dedup_cc_clusters), PageRank carries the *influence ranking*
half. ``events`` stands in for the observation stream as everywhere.

Oracle strategy: PageRank with a FIXED iteration count is a static
dataflow, so the DuckDB twin is the same power iteration *unrolled* —
one chained, materialized CTE per round step, generated programmatically
below from the same (damping, iters) constants the Spark operator
receives. Both engines use identical operation order in every formula;
only float summation order differs, absorbed by the final round(6).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ssidentity_spark.io import load_table
from ssidentity_spark.operators import iterate as loop
from ssidentity_spark.operators.graph import pagerank
from ssidentity_spark.operators.iterate import iterate, materialize, materialize_observed
from ssidentity_spark.registry import register

_DAMPING = 0.85
_ITERS = 6

# shared edge derivation: within each calendar day, an edge from the user
# of each event to the user of the next event (by ts, event_id), self-loops
# dropped, weighted by transition count
_EDGES_SQL = """
    SELECT user_id AS src, nxt AS dst, CAST(count(*) AS DOUBLE) AS w
    FROM (
      SELECT user_id,
             lead(user_id) OVER (
               PARTITION BY CAST(ts AS DATE) ORDER BY ts, event_id
             ) AS nxt
      FROM events
    )
    WHERE nxt IS NOT NULL AND nxt <> user_id
    GROUP BY 1, 2
"""


def _pagerank_oracle(iters: int, damping: float) -> str:
    # every round reads the one before twice (its dangling sum and its
    # contributions): DuckDB inlines CTEs by reference, so without
    # MATERIALIZED the chain re-expands ~2^iters times (5.8 s at sf0.001
    # against 0.05 s materialized, the same rows)
    steps = []
    for k in range(1, iters + 1):
        prev = f"r{k - 1}"
        steps.append(
            f"""d{k} AS MATERIALIZED (
      SELECT coalesce(sum(rank), 0.0) AS dm FROM {prev}
      WHERE node NOT IN (SELECT src FROM o)
    ), s{k} AS MATERIALIZED (
      -- parenthesized (e.w / o.wout) mirrors the operator's
      -- pre-normalized p = w/wout, so each term is rank * p in the SAME
      -- IEEE operation order on both engines; bare rank*w/wout would be
      -- (rank*w)/wout, 1 ulp off p-multiplication on ~30% of triples
      SELECT e.dst AS node, sum(r.rank * (e.w / o.wout)) AS m
      FROM e JOIN o ON e.src = o.src JOIN {prev} r ON r.node = e.src
      GROUP BY e.dst
    ), r{k} AS MATERIALIZED (
      SELECT n.node,
             ({(1.0 - damping)!r} / nc.c)
               + {damping!r} * (coalesce(s{k}.m, 0.0) + d{k}.dm / nc.c)
               AS rank
      FROM n CROSS JOIN nc CROSS JOIN d{k}
      LEFT JOIN s{k} ON n.node = s{k}.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH e AS MATERIALIZED ({_EDGES_SQL}),
    o AS MATERIALIZED (SELECT src, sum(w) AS wout FROM e GROUP BY 1),
    n AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nc AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS c FROM n),
    r0 AS MATERIALIZED (SELECT node, 1.0 / nc.c AS rank FROM n, nc),
    {chain}
    SELECT node AS user_id, round(rank, 6) AS rank FROM r{iters}
    """


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(_ITERS, _DAMPING),
    survey="EXT-graph,A3,J9",
    bench=True,  # r6 headliner: the iterative join+agg shape (seeds its
    # baseline this round)
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence ranking of users in the daily transition graph: 6 rounds
    of damped weighted power iteration, dangling mass redistributed
    uniformly (the exact PageRank recurrence, not the simplified
    no-sink variant)."""
    # ONE source of truth for the edge derivation: the same _EDGES_SQL
    # the oracles and graph_triangles run (a hand-built DataFrame twin
    # here previously risked silently diverging from the shared SQL)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    edges = spark.sql(_EDGES_SQL)
    ranks = pagerank(edges, iters=_ITERS, damping=_DAMPING)
    return ranks.select(F.col("node").alias("user_id"), "rank")


@register(
    "a11_type_correlation",
    # Pearson correlation between event types' hourly activity profiles.
    # Determinism: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    # Σy²) are sums of INTEGER counts — bit-exact on any engine and any
    # partition order — and r is then ONE fixed-order double expression,
    # so unlike corr()-style streaming covariance there is no float
    # summation tail to absorb. round(6) guards only the final formula.
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), hours AS (SELECT DISTINCT hr FROM hc),
    types AS (SELECT DISTINCT event_type FROM hc),
    dense AS (
      SELECT t.event_type, h.hr, coalesce(hc.c, 0) AS c
      FROM types t CROSS JOIN hours h
      LEFT JOIN hc ON hc.event_type = t.event_type AND hc.hr = h.hr
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n,
             sum(a.c) AS sx, sum(b.c) AS sy,
             sum(a.c * b.c) AS sxy,
             sum(a.c * a.c) AS sxx, sum(b.c * b.c) AS syy
      FROM dense a JOIN dense b
        ON a.hr = b.hr AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) AS pearson_r
    FROM pairs
    """,
    survey="A1,J9,EXT-graph",
)
def a11_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference README's literal ask — "things that can be
    correlated" (README.md:15) — as a dense correlation matrix: which
    event types rise and fall together hour-by-hour. Scale shape: the
    hourly rollup is one shuffle; the type×type pairing joins on the hour
    key only across a TYPES-sized dimension (bounded, e.g. protocol/SSID
    cardinality), never on raw events."""
    e = load_table(spark, sf_dir, "events")
    hc = (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    hours = hc.select("hr").distinct()
    types = hc.select("event_type").distinct()
    dense = (
        types.crossJoin(hours)
        .join(hc, ["event_type", "hr"], "left")
        .select("event_type", "hr", F.coalesce("c", F.lit(0)).alias("c"))
    )
    a = dense.alias("a")
    b = dense.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a.c").alias("sx"),
            F.sum("b.c").alias("sy"),
            F.sum(F.col("a.c") * F.col("b.c")).alias("sxy"),
            F.sum(F.col("a.c") * F.col("a.c")).alias("sxx"),
            F.sum(F.col("b.c") * F.col("b.c")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    r_num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    r_den = F.sqrt(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return pairs.select(
        "type_a", "type_b", "n", F.round(r_num / r_den, 6).alias("pearson_r")
    )


# ---------------------------------------------------------------------------
# TS9 — lead-lag cross-correlation: A11's correlation matrix given a
# TIME AXIS. For every type pair, Pearson r of the hourly count series at
# lags -2..+2 hours; the reported row is the lag maximizing r (ties to
# the smallest lag) — positive best_lag means type_a LEADS type_b. The
# classical cross-correlation function (Box/Jenkins, the two-series
# sibling of TS8's ACF) and the temporal sharpening of the README's
# "things that can be correlated" (README.md:15): not just which
# activities rise together, but which one rises FIRST.
#
# Determinism — the a11 contract verbatim: all six sufficient statistics
# per (pair, lag) are sums of INTEGER counts (bit-exact any partition
# order), r is ONE pinned-order double expression of them (IEEE sqrt),
# and the argmax ranks bit-identical doubles with a (r DESC, lag ASC)
# tie-break. Unrounded outputs (the TS6 argument) — unlike a11 there is
# a selection downstream of r, so rounding is exactly what could
# diverge.
# ---------------------------------------------------------------------------

_LL_LAGS = (-2, -1, 0, 1, 2)


@register(
    "ts_leadlag_correlation",
    oracle=f"""
    WITH hc AS (
      SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), hours AS (SELECT DISTINCT hr FROM hc),
    types AS (SELECT DISTINCT event_type FROM hc),
    dense AS (
      SELECT t.event_type, h.hr, coalesce(hc.c, 0) AS c
      FROM types t CROSS JOIN hours h
      LEFT JOIN hc ON hc.event_type = t.event_type AND hc.hr = h.hr
    ), lags AS (SELECT unnest(ARRAY{list(_LL_LAGS)}) AS lag),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(l.lag AS BIGINT) AS lag,
             CAST(count(*) AS BIGINT) AS n,
             sum(a.c) AS sx, sum(b.c) AS sy, sum(a.c * b.c) AS sxy,
             sum(a.c * a.c) AS sxx, sum(b.c * b.c) AS syy
      FROM lags l
      JOIN dense a ON true
      JOIN dense b ON a.event_type < b.event_type
                  AND b.hr = a.hr + l.lag
      GROUP BY 1, 2, 3
    ), scored AS (
      SELECT type_a, type_b, lag, n,
             CASE WHEN CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx > 0
                   AND CAST(n AS DOUBLE) * syy
                         - CAST(sy AS DOUBLE) * sy > 0
                  THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (sqrt(CAST(n AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(n AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy))
             END AS r
      FROM pairs
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                                   ORDER BY r DESC, lag ASC) AS rk
      FROM scored WHERE r IS NOT NULL
    )
    SELECT type_a, type_b, lag AS best_lag, r AS r_best,
           n AS n_hours_overlap
    FROM best WHERE rk = 1
    """,
    survey="TS9,A1,TS8,J9,W2",
)
def ts_leadlag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type pair: the hour lag in {_LL_LAGS} at which the two
    hourly count series correlate most (Pearson r at that lag, ties to
    the smallest lag, overlap length alongside) — positive best_lag
    means type_a leads type_b. A11 answers "which activities rise
    together"; this answers "which rises FIRST".

    Plan shape: the hourly rollup is one shuffle (a11's); the lag
    explode multiplies the TYPES×HOURS dense frame by {len(_LL_LAGS)}
    literal lags and joins on the hour key only across the bounded type
    dimension — never on raw events; one (pair)-keyed rank at the end.
    At 100 TB the dense frame is types × hours (dimension-sized), so
    every stage after the rollup is model-sized.

    Determinism: integer sufficient statistics (order-free exact), ONE
    pinned-order r expression, zero-variance lags dropped (r NULL →
    filtered) — and r stays UNROUNDED because the argmax SELECTS on it
    (the TS6 dyadic argument: rounding before a comparison is the only
    way to make bit-identical engines disagree)."""
    from ssidentity_spark.functions.timeutil import epoch_s

    hc = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(epoch_s("ts") / F.lit(3600)).cast("long").alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    hours = hc.select("hr").distinct()
    types = hc.select("event_type").distinct()
    dense = (
        types.crossJoin(hours)
        .join(hc, ["event_type", "hr"], "left")
        .select("event_type", "hr", F.coalesce("c", F.lit(0)).alias("c"))
        # two join sides read this dimension-sized frame
        .persist()
    )
    lags = spark.createDataFrame(
        [(int(l),) for l in _LL_LAGS], "lag long"
    )
    a = dense.alias("a")
    b = dense.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("a.event_type") < F.col("b.event_type"))
            & (F.col("b.hr") == F.col("a.hr") + F.col("lag")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("lag"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("a.c").alias("sx"),
            F.sum("b.c").alias("sy"),
            F.sum(F.col("a.c") * F.col("b.c")).alias("sxy"),
            F.sum(F.col("a.c") * F.col("a.c")).alias("sxx"),
            F.sum(F.col("b.c") * F.col("b.c")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    r = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        F.sqrt(vx) * F.sqrt(vy)
    )
    scored = pairs.select(
        "type_a",
        "type_b",
        "lag",
        "n",
        F.when((vx > 0) & (vy > 0), r).alias("r"),
    ).where(F.col("r").isNotNull())
    rk = F.row_number().over(
        Window.partitionBy("type_a", "type_b").orderBy(
            F.desc("r"), F.asc("lag")
        )
    )
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "type_a",
            "type_b",
            F.col("lag").alias("best_lag"),
            F.col("r").alias("r_best"),
            F.col("n").alias("n_hours_overlap"),
        )
    )


# ---------------------------------------------------------------------------
# G3 (r10) — weighted label-propagation COMMUNITIES (Raghavan et al. 2007)
# over the embedding kNN graph: the modularity-style partition next to
# A3/CC's reachability partition, run where the corpus actually HAS
# community structure (the planted embedding clusters; the daily transition
# graph is near-random — probed to collapse to one community, so it would
# gate nothing). Edges: each vector's top-{_LPA_KNN} cosine neighbors
# (6-dp-rounded, id tie-break — the sim_topk_bruteforce determinism
# contract), directed weight 1, symmetrized by summation (mutual edge = 2).
# Integral weights + fixed rounds make the whole training loop a static
# dataflow with an EXACT argmax, so every round sits under the driver hash
# (the text_logreg_train pattern applied to a graph recurrence).
# ---------------------------------------------------------------------------

_LPA_ITERS = 4
_LPA_KNN = 8


def _lpa_oracle(iters: int, knn: int) -> str:
    from ssidentity_spark.plans.similarity import _DUCK_VEC

    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""l{k} AS (
      SELECT vertex, label FROM (
        SELECT eu.u AS vertex, l.label,
               row_number() OVER (
                 PARTITION BY eu.u
                 ORDER BY sum(eu.w) DESC, l.label
               ) AS rn
        FROM eu JOIN l{k - 1} l ON l.vertex = eu.v
        GROUP BY eu.u, l.label
      ) WHERE rn = 1
    )"""
        )
    chain = ",\n    ".join(steps)
    # eu AS MATERIALIZED: DuckDB inlines CTEs by reference, and eu is
    # consumed once per unrolled round — without materialization the n^2
    # cosine scan would re-run iters+1 times (memory: duckdb-oracle
    # pitfalls)
    return f"""
    WITH {_DUCK_VEC}, knn AS (
      SELECT vec_id AS u, nbr AS v FROM (
        SELECT q.vec_id, c.vec_id AS nbr,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_sum(list_transform(
                            generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6)
                          DESC, c.vec_id
               ) AS rnk
        FROM n q JOIN n c ON c.vec_id <> q.vec_id
      ) WHERE rnk <= {knn}
    ), eu AS MATERIALIZED (
      SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM (
        SELECT u, v FROM knn UNION ALL SELECT v AS u, u AS v FROM knn
      ) GROUP BY 1, 2
    ),
    l0 AS (SELECT DISTINCT u AS vertex, u AS label FROM eu),
    {chain},
    final AS (SELECT vertex, label FROM l{iters})
    SELECT f.vertex AS vec_id,
           CAST(f.label AS BIGINT) AS community,
           CAST(c.n AS BIGINT) AS community_size
    FROM final f
    JOIN (SELECT label, count(*) AS n FROM final GROUP BY 1) c
      ON f.label = c.label
    """


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(_LPA_ITERS, _LPA_KNN),
    survey="G3,A3,U5",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community id (and its size) per vector after {_LPA_ITERS} rounds
    of synchronous weighted label propagation over the mutual-kNN cosine
    graph — argmax-weight label adoption, smallest-label tie-break.

    Plan shape: the kNN edge build here is the exact block tier
    (operators/blocktopk.py; fine at gate scale; at 100 TB candidate
    generation swaps to :func:`ivf_knn_edges` — TESTED full-probe-identical in r11, with the
    partial-probe recall/partition-fidelity trade measured in SCALE.md —
    with LPA unchanged), then two keyed exchanges per round
    (operators/graph.py:label_propagation), checkpoint-truncated. The
    oracle replays the identical recurrence as unrolled CTEs, so the
    training loop itself is hash-gated."""
    from ssidentity_spark.operators.blocktopk import block_topk
    from ssidentity_spark.operators.graph import label_propagation
    from ssidentity_spark.plans.similarity import _vectors

    em = load_table(spark, sf_dir, "embeddings")
    knn = block_topk(_vectors(em), _LPA_KNN).select(
        F.col("qid").alias("vec_id"), F.col("cid").alias("nbr"), F.lit(1).alias("w")
    )
    labels = label_propagation(knn, src="vec_id", dst="nbr", iters=_LPA_ITERS)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(F.broadcast(sizes), "label").select(
        F.col("vertex").alias("vec_id"),
        F.col("label").cast("long").alias("community"),
        "community_size",
    )


@register(
    "graph_triangles",
    # Canonical ordered triangle counting: undirected edges stored once
    # as (u < v), wedges joined on the middle vertex (the ordering means
    # each triangle is generated exactly once as a < b < c), closed by a
    # semi-join back to the edge set. DuckDB replays the identical joins.
    oracle="""
    WITH tr AS (
      SELECT user_id AS src, nxt AS dst FROM (
        SELECT user_id,
               lead(user_id) OVER (
                 PARTITION BY CAST(ts AS DATE) ORDER BY ts, event_id
               ) AS nxt
        FROM events
      ) WHERE nxt IS NOT NULL AND nxt <> user_id
    ), e AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM tr
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ), tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           n_triangles,
           round(3.0 * n_triangles /
                 (SELECT sum(d * (d - 1) / 2) FROM deg), 6)
             AS clustering_coeff
    FROM tri
    """,
    survey="A3,J9,A7",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the user
    co-transition graph — the companion-detection signal (README.md:18:
    who moves together) in its graph-metric form. Edges are canonical
    (u < v) so each triangle is counted once; the wedge join's skew lever
    at 100 TB is degree-ordered edge orientation (orient toward the
    higher-degree endpoint, bounding wedge fan-out by sqrt(m)) —
    documented here, unnecessary at the transition graph's degree
    distribution. Three shuffles: edge dedup, wedge join, closure join."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    tr = spark.sql(_EDGES_SQL).select("src", "dst")
    # r12 optimization: the canonical edge set feeds FIVE consumers (deg,
    # the three wedge/closure join legs, n_edges) and each lazily re-ran
    # the date-window edge derivation + distinct; materialize the
    # edge-bounded frame once (the graph_degree_assortativity precedent).
    e = materialize(
        tr.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )


def ivf_knn_edges(
    corpus: DataFrame,
    centroids,
    k: int,
    n_probes: int,
) -> DataFrame:
    """kNN edge generation through an IVF index — the 100 TB candidate
    path the G3 docstring promises (VERDICT r10 ask #6): every corpus
    vector probes its ``n_probes`` nearest cells (L2 against the
    broadcast ``centroids`` model, ties on cid — the operators/ivf.py
    convention) and ranks ONLY co-cell candidates by exact 6-dp cosine,
    so edge-generation cost is Σ probed-cell sizes instead of corpus².
    Returns (vec_id, nbr) — each vector's top-``k`` candidates.

    Equivalence contract (pinned by tests/test_graph.py): with
    ``n_probes >= len(centroids)`` every pair is a candidate, so the
    edge set — and any LPA run on it — is IDENTICAL to the brute tier.
    At partial probes the edges are a measured-recall approximation
    (SCALE.md "r11: LPA edges through IVF"): on this corpus's diffuse
    mid-similarity neighborhoods, LPA COMMUNITIES are boundary-sensitive
    — 0.89 edge recall still reshuffles most communities — so the gated
    query keeps exact edges at gate scale and callers at 100 TB choose
    the probe count (or the maintained-index X12b pattern) knowing the
    knob trades candidate cost against partition fidelity, measured, not
    assumed."""
    import pandas as pd

    from ssidentity_spark.operators.blocktopk import cos6
    from ssidentity_spark.plans.similarity import _norm_vec

    spark = corpus.sparkSession
    # pass-through only when BOTH derived columns are present (a frame
    # with a stray 'v' but no 'nrm' must not skip normalization — it
    # would fail late in the plan, or worse, rank on a mismatched norm)
    base = (
        corpus
        if {"v", "nrm"} <= set(corpus.columns)
        else _norm_vec(corpus)
    )
    cent = spark.createDataFrame(
        pd.DataFrame(
            {
                "cid": range(len(centroids)),
                "ccv": [[float(x) for x in c] for c in centroids],
            }
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("ccv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v", "nrm", "cid", d2.alias("d2")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cid"))
    ranked = scored.withColumn("rn", F.row_number().over(w_assign))
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "v", "nrm", F.col("cid").alias("cell")
    )
    probes = ranked.filter(F.col("rn") <= n_probes).select(
        F.col("vec_id").alias("qid"), F.col("cid").alias("cell")
    )
    qv = cells.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cand = (
        cells.alias("c")
        .join(probes.alias("p"), F.col("c.cell") == F.col("p.cell"))
        .filter(F.col("c.vec_id") != F.col("p.qid"))
        .join(qv.alias("q"), F.col("p.qid") == F.col("q.qid"))
        .select(
            F.col("p.qid").alias("vec_id"),
            F.col("c.vec_id").alias("nbr"),
            cos6("q.qv", "q.qn", "c.v", "c.nrm").alias("cos"),
        )
        # a vector probing 2 cells can meet the same candidate once per
        # probe only if cell assignment were ambiguous — it is not (rn=1
        # is unique), so (vec_id, nbr) pairs are already distinct
    )
    w_rank = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nbr"))
    return (
        cand.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= k)
        .select("vec_id", "nbr")
    )


# ---------------------------------------------------------------------------
# G4 (r11) — K-CORE decomposition (Seidman 1983) over the MUTUAL embedding
# kNN graph: the density partition next to CC's reachability (G1-era) and
# LPA's communities (G3). A vertex is in the k-core iff it keeps >= k
# neighbors after everyone below k is recursively peeled — the standard
# "dense cohesive subgroup" analytic (ssidentity impetus: the devices that
# persistently co-cluster, README.md:15-17). Graph choice is measured, not
# assumed: the daily transition graph is too dense (everyone survives any
# small k at every SF) and the UNION-symmetrized kNN graph has a sharp
# k=8/9 cliff (out-degree >= 8 by construction); the MUTUAL graph's degree
# spread (p10 4, median 7, p90 8) peels non-vacuously at K=4 on all three
# SFs — 27/39/95 vertices peeled, fixpoint in <= 5 rounds (probed in-
# session). The oracle unrolls _KCORE_ROUNDS peels; the Spark loop runs
# at most that many and stops at the fixpoint (an unchanged alive count),
# after which every further peel is a no-op, so both give the same core;
# convergence at gate scale is pinned by pytest.
# ---------------------------------------------------------------------------

_KCORE_K = 4
_KCORE_ROUNDS = 6
_KCORE_KNN = 8


def _mutual_sym_ctes(knn: int) -> str:
    """Shared oracle prefix for the mutual-kNN graph family (G4 k-core,
    G6 BFS hops): embeddings → 6-dp cosine kNN → the MATERIALIZED
    mutual (symmetric) edge list ``sym``."""
    from ssidentity_spark.plans.similarity import _DUCK_VEC

    return f"""{_DUCK_VEC}, s AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             round(list_sum(list_transform(generate_series(1, len(a.v)),
                            i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ), r AS (
      SELECT qid, nid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, nid) AS rk
      FROM s
    ), knn AS (
      SELECT qid AS u, nid AS v FROM r WHERE rk <= {knn}
    ), sym AS MATERIALIZED (
      SELECT a.u, a.v FROM knn a JOIN knn b ON a.u = b.v AND a.v = b.u
    )"""


def _kcore_oracle(k: int, rounds: int, knn: int) -> str:
    # every aN is referenced twice by a(N+1) (u-side and v-side) and
    # sym twice per round: DuckDB inlines CTEs by reference, so without
    # MATERIALIZED the kNN build would re-expand ~2^rounds times (the
    # BPE-oracle lesson, tools-proven in r9)
    steps = []
    for r in range(1, rounds + 1):
        prev = f"a{r - 1}"
        steps.append(
            f"""a{r} AS MATERIALIZED (
      SELECT s.u FROM sym s
      WHERE s.u IN (SELECT u FROM {prev}) AND s.v IN (SELECT u FROM {prev})
      GROUP BY s.u HAVING count(*) >= {k}
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_mutual_sym_ctes(knn)}, a0 AS MATERIALIZED (
      SELECT DISTINCT u FROM sym
    ),
    {chain}
    SELECT s.u AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM sym s
    WHERE s.u IN (SELECT u FROM a{rounds})
      AND s.v IN (SELECT u FROM a{rounds})
    GROUP BY s.u
    """


@register(
    "graph_kcore",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS, _KCORE_KNN),
    survey="G4,G3,A3,U5",
    bench=True,  # benched from r12 (VERDICT r11 ask #6): the iterative
    # peeling family's regression tracker; floor seeds this round
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {_KCORE_K}-core of the mutual-kNN cosine graph: vertices
    keeping >= {_KCORE_K} mutual neighbors after {_KCORE_ROUNDS} rounds
    of recursive peeling, with each survivor's within-core degree.

    Plan shape: the mutual-kNN build is the exact block tier
    (operators/blocktopk.py; at 100 TB candidates come from
    :func:`ivf_knn_edges`, same trade as G3), materialized once with its
    edge count observed. The count picks where the peel runs:

    - at most ``BROADCAST_BYTES`` of edges (``operators/iterate.py``;
      an edge is two ids, 16 bytes): the edges are collected and every
      peel is a numpy degree count on the driver (``_kcore_local``).
    - more: each peel round is one semi-join of the edge endpoints
      against one broadcast of the shrinking alive set plus two count
      aggregates, materialized by ``iterate``.

    Both stop at the fixpoint (an unchanged alive count: alive only ever
    shrinks) or after {_KCORE_ROUNDS} peels, and both return only
    vertices that keep at least one core edge. Peeling is pure integer
    degree counting: no float anywhere after the 6-dp kNN ranks, so
    both paths give the oracle's rows exactly."""
    knn, kc = materialize_observed(
        _mutual_knn_edges(load_table(spark, sf_dir, "embeddings")),
        n=F.count(F.lit(1)),
    )
    if 16 * kc["n"] <= loop.BROADCAST_BYTES:
        return _kcore_local(knn)
    # cached hash-partitioned on u at the session width, so a peel
    # round's counts need no exchange (see _alive_edges)
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sym = knn.repartition(width, "u").cache()

    def peel(alive: DataFrame, _m: dict) -> DataFrame:
        deg = (
            _alive_edges(sym, alive)
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return deg.filter(F.col("c") >= _KCORE_K).select("u")

    # alive only shrinks, so an unchanged alive count is an unchanged
    # alive set: the fixpoint, after which further peels are no-ops
    alive = iterate(
        peel,
        sym.select("u").distinct(),
        _KCORE_ROUNDS,
        done=lambda m, prev: m["rows"] == prev.get("rows"),
    )
    # the core edges are materialized before sym is unpersisted, so the
    # returned frame never reads the edges again
    core_edges = materialize(_alive_edges(sym, alive))
    sym.unpersist()
    return (
        core_edges.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("u").alias("vec_id"), "core_degree")
    )


def _kcore_local(knn: DataFrame) -> DataFrame:
    """graph_kcore's peel in driver memory over the materialized edge
    list ``(u, v)``: one collect, numpy degree counts, and the
    ``(vec_id, core_degree)`` frame."""
    t = knn.toArrow()
    u, v = (t[c].to_numpy() for c in ("u", "v"))
    ids, ix = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = ix[: len(u)], ix[len(u) :]
    alive = np.zeros(len(ids), bool)
    alive[a] = True
    for _ in range(_KCORE_ROUNDS):
        deg = np.bincount(a[alive[a] & alive[b]], minlength=len(ids))
        kept = deg >= _KCORE_K
        if np.array_equal(kept, alive):
            break
        alive = kept
    deg = np.bincount(a[alive[a] & alive[b]], minlength=len(ids))
    core = deg > 0
    schema = StructType(
        [StructField("vec_id", knn.schema["u"].dataType), StructField("core_degree", LongType())]
    )
    return knn.sparkSession.createDataFrame(
        pa.table([ids[core], deg[core].astype(np.int64)], ["vec_id", "core_degree"]), schema
    )


def _alive_edges(sym: DataFrame, alive: DataFrame) -> DataFrame:
    """The edges of ``sym`` with both ends in ``alive``, through ONE
    broadcast of ``alive``: each edge meets it once per endpoint and
    survives with both. (Two semi-joins, one per endpoint, broadcast
    ``alive`` twice: a checkpointed leaf joined to itself never reuses
    the other side's exchange.) ``sym`` hash-partitioned on ``u`` keeps
    the per-edge count free of any exchange."""
    ends = sym.select("u", "v", F.explode(F.array("u", "v")).alias("x"))
    return (
        ends.join(F.broadcast(alive.select(F.col("u").alias("x"))), "x", "left_semi")
        .groupBy("u", "v")
        .count()
        .filter(F.col("count") == 2)
        .select("u", "v")
    )


# ---------------------------------------------------------------------------
# G5 (r12) — degree assortativity: do the transition graph's hubs link to
# hubs or to leaves? (Newman 2002, "Assortative mixing in networks": the
# Pearson correlation of endpoint degrees over the edge list.) Completes
# the graph descriptor set: G1 ranks influence, GT counts closure, G4
# finds the dense core — assortativity is the one-number summary of the
# WIRING PATTERN (positive = social-network-like hub clustering,
# negative = infrastructure-like hub-and-spoke), and on a device
# co-observation graph it distinguishes "a few gateways relay everyone"
# from "peers talk to peers" before any per-vertex analysis runs.
#
# Determinism — the a11 contract verbatim: degrees are integer neighbor
# counts over the symmetrized distinct edge set, the five sufficient
# statistics are BIGINT sums of those integers (bit-exact any partition
# order), r is ONE pinned-order double expression (IEEE sqrt), rounded 6
# dp with nothing selecting on it downstream; a zero-variance degree
# sequence yields NULL via a lazy nullif guard on both engines.
# ---------------------------------------------------------------------------


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH tr AS ({_EDGES_SQL}),
    sym AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM tr
        UNION ALL
        SELECT dst, src FROM tr
      )
    ), deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1
    ), ed AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM sym
      JOIN deg du ON sym.u = du.u
      JOIN deg dv ON sym.v = dv.u
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy,
             CAST(count(DISTINCT dx) AS BIGINT) AS ndeg
      FROM ed
    )
    SELECT n AS n_directed_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / nullif(sqrt(CAST(n AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(n AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy), 0.0), 6)
             AS assortativity
    FROM s
    """,
    survey="G5,G1,GT,A11",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the daily transition graph:
    Pearson r of (deg(u), deg(v)) over every directed edge of the
    symmetrized distinct graph — one number saying whether high-degree
    users transition among themselves (r > 0) or fan out to low-degree
    users (r < 0).

    Plan shape: the edge derivation is the shared _EDGES_SQL (one
    date-partitioned window + one keyed aggregate); symmetrize +
    distinct is one exchange on the edge key; degrees are one keyed
    count whose frame is edge-bounded, joined back to the edge list
    twice (broadcast — the degree table is vertex-sized); the final
    reduction is a single scalar aggregate with map-side partials.
    Nothing in the pipeline holds more than the edge list, and every
    aggregate combines exactly (integers) — the 100 TB shape is the
    same plan with the degree join left as a shuffle join if the vertex
    table outgrows broadcast."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    tr = spark.sql(_EDGES_SQL).select("src", "dst")
    # sym is read three times (degrees + both endpoint joins) and each
    # lazy read would re-run the date-window edge derivation; checkpoint
    # the edge-bounded distinct frame once (kcore precedent), and cache
    # the vertex-sized degree table for its three consumers
    sym = materialize(
        tr.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            tr.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .distinct()
    )
    deg = sym.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).persist()
    du = deg.select(F.col("u").alias("_u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("_v"), F.col("d").alias("dy"))
    ed = (
        sym.join(F.broadcast(du), sym.u == du._u)
        .join(F.broadcast(dv), sym.v == dv._v)
        .select("dx", "dy")
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return s.crossJoin(F.broadcast(nv)).select(
        F.col("n").alias("n_directed_edges"),
        "n_vertices",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# G6 (r12) — BFS hop distance from the hub: single-source shortest paths
# (unweighted) on the mutual-kNN embedding graph, the one classical
# graph primitive the family still lacked (G1 importance, A3/CC
# reachability, G3 modularity, G4 density, G5 wiring, GT closure — but
# nothing measured DISTANCE). Seed = the maximum-degree vertex (ties to
# the smallest id — deterministic integers); every vertex reached
# within the round budget reports its minimum hop count. On a corpus
# embedding graph this is the "how far from the densest neighborhood"
# audit — measured radius 5/6/7 at sf0.001/0.01/0.1 with non-trivial
# mass at every level (1/8/43/177/244/27 at sf0.001), and a handful of
# vertices unreachable at the larger SFs, so the reached-only contract
# is exercised too.
#
# Determinism: the graph is the k-core family's 6-dp-rounded mutual-kNN
# edge list; seeding, frontier expansion and the min-hop label are pure
# integer operations; fixed round budget (cycle guard ≥ the measured
# radius) with a deterministic converged-early exit. The oracle replays
# the BFS as a recursive CTE with UNION dedup (bounded at vertices ×
# rounds rows) over the shared MATERIALIZED sym prefix.
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 8


def _bfs_oracle(rounds: int, knn: int) -> str:
    return f"""
    WITH RECURSIVE {_mutual_sym_ctes(knn)}, seed AS MATERIALIZED (
      SELECT u FROM (SELECT u, count(*) AS c FROM sym GROUP BY u
                     ORDER BY c DESC, u LIMIT 1)
    ), reach(u, hops) AS (
      SELECT u, 0 AS hops FROM seed
      UNION
      SELECT s2.v, r2.hops + 1 FROM reach r2 JOIN sym s2 ON s2.u = r2.u
      WHERE r2.hops < {rounds}
    )
    SELECT u AS vec_id, CAST(min(hops) AS BIGINT) AS hops
    FROM reach GROUP BY u
    """


@register(
    "graph_bfs_hops",
    oracle=_bfs_oracle(_BFS_ROUNDS, _KCORE_KNN),
    survey="G6,G4,A3,U5",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop count from the hub (max-degree vertex, ties to the
    smallest id) to every reachable vertex of the mutual-kNN cosine
    graph, within a fixed round budget — unweighted single-source
    shortest paths as frontier BFS.

    Plan shape: the mutual edge build is graph_kcore's (exact block
    tier at gate scale; ivf_knn_edges is the 100 TB candidate path,
    same trade as G3/G4), checkpointed once and read by every round.
    Each round is ONE keyed join of the edge list against the current
    FRONTIER (which only ever holds newly-reached vertices — frontier
    size is bounded by the reached set, and at 100 TB by the degree
    budget × previous frontier) plus one anti-join against the
    assigned set; lineage is checkpoint-truncated per round and the
    loop exits early once a frontier comes back empty (a deterministic
    integer fixpoint — the CC convention). Hop labels, seeding and
    frontier algebra are all integer-exact; the only floats anywhere
    are the 6-dp kNN ranks inside the shared edge derivation."""
    em = load_table(spark, sf_dir, "embeddings")
    sym = materialize(_mutual_knn_edges(em))
    # reached only grows, so an unchanged row count is an empty frontier
    reached = iterate(
        lambda r, m: _bfs_round(sym, r, m),
        _bfs_seed(sym),
        _BFS_ROUNDS,
        metrics={"hops": F.coalesce(F.max("hops"), F.lit(0))},
        done=lambda m, prev: m["rows"] == prev["rows"],
        init={"rows": 1, "hops": 0},
    )
    return reached.select(
        F.col("node").alias("vec_id"), F.col("hops").cast("long")
    )


def _bfs_seed(sym: DataFrame) -> DataFrame:
    """graph_bfs_hops' initial state: the max-degree vertex (ties to the
    smallest id) at hop 0."""
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
    return (
        deg.orderBy(F.desc("c"), F.asc("u"))
        .limit(1)
        .select(F.col("u").alias("node"), F.lit(0).alias("hops"))
    )


def _bfs_round(sym: DataFrame, reached: DataFrame, m: dict) -> DataFrame:
    """One graph_bfs_hops round: the vertices first reached at hop
    ``m["hops"]`` (the frontier) expand to their unreached neighbors."""
    frontier = reached.filter(F.col("hops") == m["hops"])
    nxt = (
        sym.join(frontier, sym.u == frontier.node)
        .select(F.col("v").alias("node"))
        .distinct()
        .join(reached.select("node"), "node", "left_anti")
    )
    return reached.unionByName(nxt.withColumn("hops", F.lit(m["hops"] + 1)))


def _mutual_knn_edges(em: DataFrame) -> DataFrame:
    """The mutual-kNN symmetric edge list (u, v) shared by graph_kcore and
    graph_bfs_hops: K = _KCORE_KNN by exact 6-dp cosine, ties to the
    smaller id, each edge once per direction."""
    from ssidentity_spark.operators.blocktopk import block_topk
    from ssidentity_spark.plans.similarity import _vectors

    return block_topk(_vectors(em), _KCORE_KNN, mutual=True).select(
        F.col("qid").alias("u"), F.col("cid").alias("v")
    )
