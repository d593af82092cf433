"""Product quantization ANN (SURVEY §2.9 U5 scale path + §2.10 X4) — the
memory-compression axis of the similarity stack, next to LSH bucketing
(candidate pruning) and IVF cells (scan pruning). Jégou et al., "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI 2011.

A 64-dim float vector (256 B) becomes ``m`` sub-codes of ``log2(k)`` bits
(m=8, k=16 → 4 B, 64× smaller): split the vector into m subvectors, run
k-means per subspace, store each subvector's nearest-centroid id.
Asymmetric distance computation (ADC) scores a query against a code with
one m×k lookup table per query — the corpus is never decompressed.

Spark-first split (mirrors operators/ivf.py):
- **Train** (driver): per-subspace Lloyd's on a bounded deterministic
  sample — the model is m × k × (dim/m) doubles = one broadcast.
- **Encode** (executors): vectorized Pandas UDF, one numpy argmin per
  Arrow batch per subspace — the documented exception to "no Python in
  the hot path".
- **Search** (executors): ADC is pure Column algebra — the per-query LUT
  rides a broadcast join and ``zip_with``/``element_at``/``aggregate``
  compute the distance JVM-side, inside codegen. At 100 TB the scan reads
  4-byte codes instead of 256-byte vectors; shuffle carries only
  (query_id, neighbor_id, score) pairs.

Vectors are L2-normalized before train/encode, so ADC's squared-L2 order
equals cosine order (||q−x||² = 2 − 2·cos for unit vectors) and
``approx_cos = 1 − adc/2`` is directly comparable to the exact rankers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from ssidentity_spark.operators.blocktopk import cos6, top_rows


def _normalized_sample(
    em: DataFrame, sample_mod: int = 1, max_sample: int = 4096
) -> np.ndarray:
    rows = (
        em.filter(F.col("vec_id") % sample_mod == 0)
        .orderBy("vec_id")
        .limit(max_sample)
        .select("embedding")
        .collect()
    )
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def train_codebooks(
    em: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    sample_mod: int = 1,
    max_sample: int = 4096,
) -> np.ndarray:
    """Per-subspace deterministic Lloyd's k-means → (m, k, dim/m) model.

    No RNG: subspace ``j`` seeds with the first k sample subvectors in
    vec_id order (same convention as ivf.train_centroids). Empty cells
    keep their previous centroid."""
    x = _normalized_sample(em, sample_mod, max_sample)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.empty((m, k, sub), dtype=np.float64)
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        cent = xs[:k].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def encode_pq(em: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """(vec_id, embedding) → + ``codes`` array<int> of length m.

    Vectorized: per Arrow batch, one (rows × k) distance matrix per
    subspace — numpy does the argmin, codes travel back as a single int
    array column. The closure ships the broadcast-sized model once per
    task."""
    books = codebooks
    m, _, sub = books.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def codes_of(embs: pd.Series) -> pd.Series:
        x = np.stack(embs.map(np.asarray).to_numpy()).astype(np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        n[n == 0] = 1.0
        x = x / n
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return em.withColumn("codes", codes_of("embedding"))


def decode_pq(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Reconstruct (rows × dim) vectors from integer codes — test/audit
    helper (production search never decompresses; ADC reads the LUT)."""
    m, _, sub = codebooks.shape
    rows = codes.shape[0]
    out = np.empty((rows, m * sub), dtype=np.float64)
    for j in range(m):
        out[:, j * sub : (j + 1) * sub] = codebooks[j][codes[:, j]]
    return out


def adc_lut(query: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Per-query ADC table: lut[j][c] = ||q_j − codebook[j][c]||²."""
    m, k, sub = codebooks.shape
    q = np.asarray(query, dtype=np.float64)
    n = np.linalg.norm(q)
    if n > 0:
        q = q / n
    lut = np.empty((m, k), dtype=np.float64)
    for j in range(m):
        qs = q[j * sub : (j + 1) * sub]
        lut[j] = ((codebooks[j] - qs[None, :]) ** 2).sum(axis=1)
    return lut


def ivf_pq_topk(
    em: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_ids: list[int],
    top_k: int = 5,
    n_probes: int = 4,
) -> DataFrame:
    """IVF × PQ composition — the standard billion-scale ANN layout
    (FAISS IVFPQ): coarse k-means cells prune the SCAN to ~n_probes/k of
    the corpus, PQ codes shrink what is scanned 64×. Returns
    (query_id, neighbor_id, approx_cos, rnk) like ``pq_adc_topk``; with
    ``n_probes == len(centroids)`` the cell filter passes everything and
    the result provably equals plain PQ-ADC (property-tested).

    Join shape: codes ⋈ broadcast(query × probed-cell × LUT) on the cell
    id — an equi-join, so only probed-cell rows are ADC-scored; everything
    stays JVM-side except the one Arrow-batched encode/assign pass."""
    from ssidentity_spark.operators.ivf import assign_cells, check_query_cap

    check_query_cap(query_ids)
    spark = em.sparkSession
    coded = encode_pq(assign_cells(em, centroids), codebooks).select(
        "vec_id", "cell", "codes"
    )
    q_rows = em.filter(F.col("vec_id").isin(query_ids)).collect()
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r.embedding, dtype=np.float64)
        lut = adc_lut(qv, codebooks).tolist()
        d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
        # stable: exact-tied cells resolve to the lowest cid, matching
        # the oracle's ORDER BY d2, cid (see ivf.ivf_topk)
        for c in np.argsort(d2, kind="stable")[:n_probes]:
            probe_rows.append((int(r.vec_id), int(c), lut))
    qdf = spark.createDataFrame(
        probe_rows, "query_id LONG, probe_cell INT, lut ARRAY<ARRAY<DOUBLE>>"
    )
    adc = F.aggregate(
        F.zip_with("lut", "codes", lambda row, c: F.element_at(row, c + 1)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = coded.join(
        F.broadcast(qdf),
        (F.col("cell") == F.col("probe_cell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(1.0 - adc / 2.0, 6).alias("approx_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "neighbor_id", "approx_cos", "rnk")
    )


def ivf_pq_rerank_topk(
    em: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_ids: list[int],
    top_k: int = 5,
    n_probes: int = 4,
    n_candidates: int = 50,
) -> DataFrame:
    """The production ANN layout end-to-end: IVF×PQ generates
    ``n_candidates`` per query from the compressed probe-pruned scan, then
    ONLY those rows are re-scored with exact cosine against the full
    vectors. The expensive reads (full embeddings) touch
    O(queries × n_candidates) rows instead of the corpus; ADC's ranking
    error is confined to the candidate boundary, so recall approaches the
    IVF ceiling at PQ's memory cost. Returns (query_id, neighbor_id, cos,
    rnk) — same contract as the exact rankers."""
    cands = ivf_pq_topk(
        em, centroids, codebooks, query_ids, top_k=n_candidates, n_probes=n_probes
    ).select("query_id", "neighbor_id")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select(
        "vec_id",
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    qside = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        base.join(F.broadcast(cands), F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(qside), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cos6("qv", "qnrm", "v", "nrm").alias("cos"),
        )
    )
    return top_rows(scored, top_k).select("query_id", "neighbor_id", "cos", "rnk")


def pq_adc_topk(
    em: DataFrame,
    codebooks: np.ndarray,
    query_ids: list[int],
    top_k: int = 5,
) -> DataFrame:
    """Top-k per query by ADC over PQ codes → (query_id, neighbor_id,
    approx_cos, rnk).

    The per-query LUT is data in a broadcast-joined frame, not a closure:
    ``zip_with(lut, codes, (row, c) -> element_at(row, c+1))`` +
    ``aggregate`` sum evaluate the ADC distance entirely JVM-side. Exact
    queries (collected — small, capped like ivf_topk) keep full
    precision; only the corpus side is quantized."""
    from ssidentity_spark.operators.ivf import check_query_cap

    check_query_cap(query_ids)
    spark = em.sparkSession
    coded = encode_pq(em, codebooks).select("vec_id", "codes")
    q_rows = em.filter(F.col("vec_id").isin(query_ids)).collect()
    qdf = spark.createDataFrame(
        [(int(r.vec_id), adc_lut(r.embedding, codebooks).tolist()) for r in q_rows],
        "query_id LONG, lut ARRAY<ARRAY<DOUBLE>>",
    )
    adc = F.aggregate(
        F.zip_with("lut", "codes", lambda row, c: F.element_at(row, c + 1)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = coded.join(
        F.broadcast(qdf), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(1.0 - adc / 2.0, 6).alias("approx_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "neighbor_id", "approx_cos", "rnk")
    )
