"""IVF-style ANN (SURVEY §2.9 U5 scale path, BASELINE.json north star):
inverted-file search over k-means cells — the second classic ANN family
next to LSH (plans/similarity.py:sim_lsh_bucketed).

Spark-first split of the work:
- **Train** (driver): k-means on a bounded deterministic sample — centroid
  count × dims is tiny; training on the driver avoids an iterative
  distributed job for what is a broadcast-sized model.
- **Assign** (executors): vectorized Pandas UDF — one numpy matmul per Arrow
  batch against the broadcast centroid matrix. This is the documented
  exception to "no Python in the hot path": a 64×k matmul per batch is
  exactly what Arrow-batched UDFs are for, and stays ~100× faster than
  per-row Python.
- **Search** (executors): score only vectors whose cell is among the
  query's ``n_probes`` nearest cells — candidate count ~ (n_probes/k) of
  the corpus. With n_probes == k the search is exhaustive and provably
  equals brute force (property-tested).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ssidentity_spark.operators.blocktopk import cos6, top_rows

# The probe/LUT builders below collect the QUERY vectors to the driver —
# sound only while the query set is broadcast-sized. The cap turns a
# silent driver OOM (10^6 query ids → 10^6 collected vectors + LUTs) into
# an immediate, explanatory error.
MAX_BROADCAST_QUERIES = 10_000


def check_query_cap(query_ids) -> None:
    if len(query_ids) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"{len(query_ids)} query ids exceed the broadcast-probe cap of "
            f"{MAX_BROADCAST_QUERIES}: ivf/pq top-k builds per-query probe "
            "lists and ADC LUTs on the driver by design (queries are the "
            "small side). For corpus-scale query sets, use the symmetric "
            "join-based searches in plans/similarity.py (e.g. "
            "sim_lsh_bucketed / sim_ivf_pinned_topk shapes) or batch the "
            "queries."
        )


def train_centroids(
    em: DataFrame,
    k: int = 16,
    iters: int = 5,
    sample_mod: int = 1,
    max_sample: int = 4096,
) -> np.ndarray:
    """Deterministic Lloyd's k-means on a bounded sample (no RNG: seeds are
    the first k sample vectors in vec_id order)."""
    sample = (
        em.filter(F.col("vec_id") % sample_mod == 0)
        .orderBy("vec_id")
        .limit(max_sample)
        .select("embedding")
        .collect()
    )
    x = np.array([r.embedding for r in sample], dtype=np.float64)
    cent = x[:k].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return cent


def train_centroids_distributed(
    em: DataFrame,
    k: int = 16,
    iters: int = 5,
) -> np.ndarray:
    """Distributed Lloyd's k-means over the FULL corpus — the scale path
    past ``train_centroids``'s bounded driver sample (which caps training
    input at 4096 vectors; fine for model *quality* at small SF, but a
    100 TB corpus wants training to see all of it without moving it).

    Spark-first split per iteration:
    - **assign**: the same vectorized Pandas-UDF argmin as search-time
      assignment (one numpy matmul per Arrow batch, centroids shipped in
      the closure — model is broadcast-sized by contract, k × dims).
    - **update**: JVM-native ``posexplode`` → groupBy(cell, dim) partial+
      final ``avg`` — one shuffle of k × dims groups; only the k × dims
      model rows are collected to the driver, never the corpus.

    Determinism: seeds are the first ``k`` vectors in vec_id order (no
    RNG), and the elementwise mean is Spark's fixed-plan aggregate, so two
    runs over the same data produce identical models. Empty cells keep
    their previous centroid (same rule as the sampled trainer).

    ``pyspark.ml.clustering.KMeans`` is the library alternative; this
    hand-rolled loop keeps the deterministic seeding + no-UDT contract and
    stays dependency-light.
    """
    seeds = em.orderBy("vec_id").limit(k).select("embedding").collect()
    cent = np.array([r.embedding for r in seeds], dtype=np.float64)
    base = em.select("vec_id", "embedding").persist()
    try:
        base.count()  # materialize once; every iteration rescans the cache
        for _ in range(iters):
            means = (
                assign_cells(base, cent)
                .select("cell", F.posexplode("embedding").alias("pos", "val"))
                .groupBy("cell", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            new = cent.copy()
            for r in means:
                new[r.cell][r.pos] = r.m
            cent = new
    finally:
        base.unpersist()
    return cent


def assign_cells(em: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Vectorized cell assignment: argmin L2 distance per Arrow batch.

    The UDF is marked non-deterministic (guide §4.4, r13): consumers
    join/filter on ``cell``, and the optimizer pushes the join key's
    isnotnull below the projection by DUPLICATING the UDF — the r12
    plans show two ArrowEvalPython nodes with cell_of in both, i.e.
    every corpus row paid the argmin (and a Python boundary crossing)
    twice. The fence forces a single evaluation; the assignment is in
    fact deterministic (pure argmin of the captured model), so results
    are unchanged — only duplication/reordering is blocked, and cell_of
    never returns null so the fenced filter is a no-op either way."""
    cent = centroids  # captured; shipped once per task via closure pickle

    @F.pandas_udf(IntegerType())
    def cell_of(embs: pd.Series) -> pd.Series:
        x = np.stack(embs.map(np.asarray).to_numpy()).astype(np.float64)
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    return em.withColumn("cell", cell_of.asNondeterministic()("embedding"))


def ivf_topk(
    em: DataFrame,
    centroids: np.ndarray,
    query_ids: list[int],
    top_k: int = 5,
    n_probes: int = 2,
) -> DataFrame:
    """Top-k cosine neighbors per query, searching only the query's
    ``n_probes`` nearest cells. Returns (query_id, neighbor_id, cos, rnk).
    """
    v = F.transform("embedding", lambda x: x.cast("double"))
    # corpus side: the ONLY consumer of the cell-assignment UDF. The
    # query side is built straight from `em` (queries need v/nrm, never
    # cell), so assignment runs exactly once and nothing needs a cache
    # that would outlive this call pinned in executor storage (r7 review).
    base = assign_cells(em, centroids).select(
        "vec_id",
        "cell",
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )

    check_query_cap(query_ids)
    queries = em.filter(F.col("vec_id").isin(query_ids)).select(
        "vec_id",
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    q_rows = queries.collect()  # |queries| is small — capped above
    probe_map = []
    for r in q_rows:
        qv = np.asarray(r.v)
        d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
        # stable sort: exact-tied centroid distances (bit-identical
        # centroids survive seeding on a dup-heavy corpus) must resolve
        # to the LOWEST cid, matching the oracle's ORDER BY d2, cid
        for c in np.argsort(d2, kind="stable")[:n_probes]:
            probe_map.append((r.vec_id, int(c)))
    probes = em.sparkSession.createDataFrame(
        probe_map, "query_id LONG, probe_cell INT"
    )

    qside = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    ).join(F.broadcast(probes), "query_id")

    scored = (
        base.join(
            F.broadcast(qside),
            (F.col("cell") == F.col("probe_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos6("qv", "qnrm", "v", "nrm").alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return top_rows(scored, top_k).select("query_id", "neighbor_id", "cos", "rnk")
