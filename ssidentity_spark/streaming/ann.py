"""Streaming ANN probe — score an unbounded stream of query embeddings
against a static IVF-indexed corpus (the U5×T cell: the online-serving
half of the similarity-search family, e.g. near-dup screening of arriving
training documents against the indexed corpus).

Division of labour, exactly like a production vector store:

- The INDEX is batch-built and static per model version: corpus vectors
  assigned to inverted cells (here the pinned-centroid assignment the
  driver hash-verifies in ``sim_ivf_pinned_topk``). Re-indexing is a batch
  job, not stream state.
- The MODEL (centroids) is tiny and ships to the stream as literal
  expressions — the same broadcast-model pattern as
  ``streaming/corpus.decontaminate_stream``'s gram set. Per-query cell
  selection is a pure JVM array expression (sort a model-sized array),
  NOT a window rank — streams don't support row_number, and a rank over a
  20-element literal array is driver-free anyway.
- The probe is a stream-static equi-join on the cell id: each arriving
  query touches only its ``n_probes`` cells' vectors, so per-batch work is
  O(batch × corpus/k × n_probes), never O(batch × corpus).
- Top-k per query is a watermarked windowed aggregation over the BOUNDED
  candidate set (collect_list is capped by the probed cells' population);
  state expires with the watermark.

The whole pipeline is expression-only, so the SAME function runs on a
batch DataFrame — tests/test_streaming.py pins stream ≡ batch on identical
input (the operator contract the driver's batch gate extends to here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssidentity_spark.io import load_table
from ssidentity_spark.operators.blocktopk import cos6, dot
from ssidentity_spark.plans.similarity import (
    N_PINNED_PROBES,
    TOP_K,
    _norm_vec,
    nearest_cells,
    pinned_centroids,
)

# The model ships as a LITERAL array-of-structs expression in the plan
# (every centroid element becomes a Catalyst literal), so the realistic
# boundary is total literal scalars, not centroid count — tens of
# thousands of full-embedding struct literals would blow up plan
# size/codegen long before a count cap fired (ADVICE r5). 64k scalars ≈
# 1k centroids at dim 64; past that, switch to a broadcast-joined model
# table (build_pinned_index's `cent` side) instead of a literal.
MAX_MODEL_SCALARS = 65_536


def _index_from_centroids(
    base: DataFrame, cent: DataFrame
) -> tuple[list[tuple[int, list[float], float]], DataFrame]:
    """Shared index construction: collect the (capped) literal model and
    assign every corpus vector to its best cell by the same rounded
    cosine + cid tiebreak the stream-side probe uses."""
    # check the cap BEFORE collecting: the cap exists to protect the
    # driver, so materializing the full frame first would OOM exactly in
    # the oversized case the error message is for (r7 review)
    n_scalars = int(
        cent.agg(F.sum(F.size("cv") + 2)).collect()[0][0] or 0
    )  # cv elems + cid + cnrm per centroid
    if n_scalars > MAX_MODEL_SCALARS:
        raise ValueError(
            f"centroid model would put {n_scalars} literal scalars in the "
            f"plan, over the cap {MAX_MODEL_SCALARS}: use a broadcast model "
            "table, not a literal-expression model"
        )
    rows = cent.collect()
    model = [(r.cid, list(r.cv), float(r.cnrm)) for r in rows]
    cells = nearest_cells(base, cent, 1).select(
        "vec_id", "v", "nrm", F.col("cid").alias("cell")
    )
    return model, cells


def build_pinned_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, list[float], float]], DataFrame]:
    """(centroid model, cell-indexed corpus) — the batch-built static side.

    Centroids are the deterministic ``vec_id % PINNED_CENT_MOD == 0``
    subset (the driver-hash-verified construction of sim_ivf_pinned_topk);
    every corpus vector is assigned to its best cell once, batch-side.
    """
    base = _norm_vec(load_table(spark, sf_dir, "embeddings"))
    return _index_from_centroids(base, pinned_centroids(base))


def build_trained_index(
    spark: SparkSession, sf_dir: str, k: int = 16, iters: int = 3
) -> tuple[list[tuple[int, list[float], float]], DataFrame]:
    """Same contract as ``build_pinned_index`` but with a Lloyd's-TRAINED
    centroid model (operators/ivf.py:train_centroids) — the production
    path when no natural corpus-subset centroid set exists. The trained
    matrix becomes a (cid, cv, cnrm) frame and flows through the identical
    cosine cell assignment, so probe_stream serves either index without
    knowing which trainer built it (a model version swap is a new index
    build + query restart, exactly like rolling a new embedding model)."""
    from ssidentity_spark.operators.ivf import train_centroids

    em = load_table(spark, sf_dir, "embeddings")
    base = _norm_vec(em)
    cents = train_centroids(em, k=k, iters=iters)
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid INT, cv ARRAY<DOUBLE>",
    ).select(
        "cid",
        "cv",
        F.sqrt(
            F.aggregate("cv", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("cnrm"),
    )
    return _index_from_centroids(base, cent)


def _model_literal(model: list[tuple[int, list[float], float]]):
    return F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                F.lit(cnrm).alias("cnrm"),
            )
            for cid, cv, cnrm in model
        ]
    )


def probe_stream(
    queries: DataFrame,
    corpus_cells: DataFrame,
    model: list[tuple[int, list[float], float]],
    n_probes: int = N_PINNED_PROBES,
    k: int = TOP_K,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """(ts, query_id, embedding) stream → per-(window, query) top-k
    neighbours from the probed cells. Works identically on a batch frame
    (same expressions; the parity test relies on it).

    Returns (win_start, query_id, rnk, neighbor_id, cos).
    """
    q = queries.withWatermark("ts", watermark) if queries.isStreaming else queries
    qv = F.transform("embedding", lambda x: x.cast("double"))
    q = q.select(
        "ts",
        F.col("query_id"),
        qv.alias("qv"),
        F.sqrt(F.aggregate(qv, F.lit(0.0), lambda a, x: a + x * x)).alias("qnrm"),
    )
    # model-sized array sort: per-query probe cells without a window rank
    cell_scores = F.transform(
        _model_literal(model),
        lambda c: F.struct(
            (
                -F.round(
                    dot(F.col("qv"), c["cv"]) / (F.col("qnrm") * c["cnrm"]), 6
                )
            ).alias("neg_cos"),
            c["cid"].alias("cid"),
        ),
    )
    probe_cells = F.transform(
        F.slice(F.array_sort(cell_scores), 1, n_probes), lambda s: s["cid"]
    )
    probed = q.select(
        "ts", "query_id", "qv", "qnrm", F.explode(probe_cells).alias("cell")
    )
    cand = probed.join(corpus_cells, "cell").filter(
        # compare as strings: with a numeric corpus vec_id and a
        # non-numeric query_id (e.g. 'q-7f3a'), an implicit cast yields
        # NULL and the != filter would silently drop EVERY candidate
        F.col("vec_id").cast("string") != F.col("query_id").cast("string")
    )
    scored = cand.select(
        "ts",
        "query_id",
        F.col("vec_id"),
        cos6("qv", "qnrm", "v", "nrm").alias("cos"),
    )
    # bounded per-key state: candidates from <= n_probes cells.
    # collect_SET, not list: at-least-once upstream delivery can put the
    # same query event in a window twice, and duplicate (cos, vec_id)
    # structs would fill top-k ranks with the same neighbor while
    # pushing the true k-th out (r7 review). A re-query with a CHANGED
    # embedding in one window still contributes both score structs —
    # within-window re-embedding is a semantics question, not a
    # delivery-duplicate one.
    agg = scored.groupBy(F.window("ts", window).alias("win"), "query_id").agg(
        F.slice(
            F.array_sort(
                F.collect_set(F.struct((-F.col("cos")).alias("neg"), "vec_id"))
            ),
            1,
            k,
        ).alias("top")
    )
    return agg.select(
        F.col("win.start").alias("win_start"),
        "query_id",
        F.posexplode("top").alias("pos", "t"),
    ).select(
        "win_start",
        "query_id",
        (F.col("pos") + 1).alias("rnk"),
        F.col("t.vec_id").alias("neighbor_id"),
        (-F.col("t.neg")).alias("cos"),
    )
