"""Similarity search over the ``embeddings`` table (SURVEY §2.9 U5 +
BASELINE.json north star).

- ``sim_topk_bruteforce`` — exact top-k cosine for a query subset: one
  block product of the query rows against the corpus matrix
  (operators/blocktopk.py), which keeps each query's top k in the same
  task. Cost is O(|corpus| × |queries|); past the operator's broadcast
  budget the corpus is split into blocks whose partial top-k lists merge.
- ``sim_lsh_bucketed`` — the scale path: deterministic random-projection
  signs bucket the corpus; queries only score candidates within their own
  bucket, turning brute force into a bucket-local search (recall < 1 by
  design; bucket width trades recall for cost).

Cosine is rounded to 6 dp before ranking on BOTH engines so last-ulp
summation differences cannot flip a rank; ties break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ssidentity_spark.io import load_table, spread
from ssidentity_spark.operators.blocktopk import block_topk, cos6, top_rows
from ssidentity_spark.operators.iterate import materialize
from ssidentity_spark.registry import register

N_QUERIES = 10  # deterministic query subset: vec_id < 10
TOP_K = 5
N_PROJ = 8  # LSH projections → 2^8 buckets

IVF_K, IVF_ITERS, IVF_PROBES = 16, 3, 4
PQ_M, PQ_K, PQ_ITERS = 8, 16, 5
RERANK_CANDIDATES = 100


def _norm_vec(em: DataFrame, *keep: str) -> DataFrame:
    """(vec_id, *keep, v, nrm): the embedding widened to doubles and its
    fold-ordered norm."""
    # spread first: everything downstream of this frame (norms here, then
    # per-row dot products / projections / cell assignments) is rows ×
    # vector-dim work, and a small embeddings file scans as ONE partition
    # — io.spread is a no-op once the scan is already byte-wide
    v = F.transform("embedding", lambda x: x.cast("double"))
    return spread(em).select(
        "vec_id",
        *keep,
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )


def _probed(cells: DataFrame, probes: DataFrame, *qkeep: str) -> DataFrame:
    """IVF candidates: ``probes`` (query_id, cell, ...) joined to the other
    vectors of each probed cell of ``cells`` (vec_id, v, nrm, cell, ...),
    with the query's own vector as ``qv``/``qnrm`` and its ``qkeep``
    columns prefixed ``q``."""
    qv = cells.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        *(F.col(c).alias("q" + c) for c in qkeep),
    )
    return (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qv), "query_id")
    )


def _vectors(em: DataFrame) -> DataFrame:
    """The ``(id, v)`` frame block_topk reads, straight off
    ``embeddings``: the block widens each float to a double and folds
    the norms itself, so no Spark-side cast, norm or spread runs."""
    return em.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))


def pinned_centroids(base: DataFrame) -> DataFrame:
    """The pinned IVF model (cid, cv, cnrm): the ``vec_id % PINNED_CENT_MOD
    == 0`` subset of a ``_norm_vec`` frame."""
    return base.filter(F.col("vec_id") % PINNED_CENT_MOD == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )


def nearest_cells(base: DataFrame, cent: DataFrame, k: int) -> DataFrame:
    """``base`` (vec_id, v, nrm, ...) with each vector's ``k`` nearest
    centroids of ``cent`` (cid, cv, cnrm) by 6-dp cosine, ties to the
    smaller cid: base's columns plus ``cid`` and its rank ``rn``. A
    cross join against the broadcast model, not a block product: with a
    model of a few dozen centroids the JVM fold beats a Python task's
    fixed cost (sf0.1 sim_ivf_pinned_topk: 0.51 s here, 0.92 s through
    block_topk)."""
    scored = base.crossJoin(F.broadcast(cent)).withColumn(
        "cell_cos", cos6("v", "nrm", "cv", "cnrm")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cell_cos"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("cv", "cnrm", "cell_cos")
    )


_DUCK_VEC = """
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    )"""


@register(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH {_DUCK_VEC}, scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
    survey="U5",
    bench=True,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _vectors(load_table(spark, sf_dir, "embeddings"))
    top = block_topk(corpus, TOP_K, corpus.filter(F.col("id") < N_QUERIES))
    return top.select(
        F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "cos", "rnk"
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN — deterministic sign-random-projection buckets.
# Projection coefficients are a fixed pseudo-random integer lattice
# c(j,i) = ((a_j * i + b_j) mod 97) - 48  (identical in both engines).
# ---------------------------------------------------------------------------


def _proj_coeff_sql(j: int) -> str:
    a, b = 37 * j + 11, 17 * j + 5
    return f"list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * ((({a} * i + {b}) % 97) - 48)))"


@register(
    "sim_lsh_bucketed",
    oracle=f"""
    WITH {_DUCK_VEC}, sig AS (
      SELECT vec_id, v, nrm,
             {" + ".join(f"(CASE WHEN {_proj_coeff_sql(j)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(N_PROJ))}
               AS bucket
      FROM n
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM sig q JOIN sig c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
    survey="U5",
)
def sim_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(em, n_proj=N_PROJ, n_queries=N_QUERIES, top_k=TOP_K)


def lsh_topk(
    em: DataFrame,
    n_proj: int = N_PROJ,
    n_queries: int = N_QUERIES,
    top_k: int = TOP_K,
    n_bands: int = 1,
    n_flips: int = 0,
) -> DataFrame:
    """Sign-random-projection bucketed top-k.

    ``n_proj`` is the bucket-width knob: each extra bit halves the expected
    bucket population (cost) and lowers recall. ``n_bands > 1`` switches to
    the OR-construction: ``n_bands`` independent bucket tables, candidates =
    union of same-bucket mates across bands — each band multiplies cost and
    lifts recall (1-(1-p^proj)^bands). ``n_flips > 0`` is MULTI-PROBE
    (Lv et al., VLDB'07): each query additionally probes the buckets at
    Hamming distance 1 obtained by flipping the ``n_flips`` sign bits whose
    projection margin |proj| is smallest — the bits most likely to disagree
    with a true neighbor — lifting recall with only the QUERY side
    exploded (corpus signatures and partitioning untouched, so at 100 TB
    the extra cost is n_flips more broadcast probe rows per query, not a
    corpus rescan). Margins are rounded to 6 dp before ranking (ties →
    bit index) so both engines pick identical flip sets. The measured
    recall-vs-cost curve lives in SCALE.md; the registered
    ``sim_lsh_bucketed`` query is the single-band single-probe variant
    (its DuckDB oracle pins that shape)."""
    base = _norm_vec(em)

    def proj_expr(j: int):
        a, b = 37 * j + 11, 17 * j + 5

        def coeff(x, i):
            return x * (((F.lit(a) * i + F.lit(b)) % 97) - 48)

        return F.aggregate(
            F.zip_with(F.col("v"), F.sequence(F.lit(1), F.size("v")), coeff),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bands_arr = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.array(
                    *[proj_expr(band * n_proj + r) for r in range(n_proj)]
                ).alias("projs"),
            )
            for band in range(n_bands)
        ]
    )
    bucket_expr = None
    for r in range(n_proj):
        bit = F.when(F.element_at("projs", r + 1) > 0, F.lit(1 << r)).otherwise(
            F.lit(0)
        )
        bucket_expr = bit if bucket_expr is None else bucket_expr + bit
    sig = (
        base.select("vec_id", "v", "nrm", F.explode(bands_arr).alias("bb"))
        .select(
            "vec_id",
            "v",
            "nrm",
            F.col("bb.band").alias("band"),
            F.col("bb.projs").alias("projs"),
        )
        .withColumn("bucket", bucket_expr)
    )
    queries = sig.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("band").alias("qband"),
        F.col("bucket").alias("qbucket"),
        "projs",
    )
    if n_flips:
        margins = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.round(F.abs(F.element_at("projs", r + 1)), 6).alias("am"),
                        # bit mask, not bit index: 1<<r is monotone in r so
                        # tie-breaks sort identically, and XOR takes it directly
                        F.lit(1 << r).alias("mask"),
                    )
                    for r in range(n_proj)
                ]
            )
        )
        flips = F.transform(
            F.slice(margins, 1, n_flips),
            lambda s: F.col("qbucket").bitwiseXOR(s["mask"]),
        )
        queries = queries.withColumn(
            "qbucket",
            F.explode(F.concat(F.array(F.col("qbucket")), flips)),
        )
    queries = queries.drop("projs")
    scored = (
        sig.join(
            F.broadcast(queries),
            (F.col("band") == F.col("qband"))
            & (F.col("bucket") == F.col("qbucket"))
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


N_FLIPS = 3  # multi-probe: flip the 3 lowest-margin sign bits per query


@register(
    "sim_lsh_multiprobe",
    oracle=f"""
    WITH {_DUCK_VEC}, sig AS (
      SELECT vec_id, v, nrm,
             [{", ".join(_proj_coeff_sql(j) for j in range(N_PROJ))}] AS projs
      FROM n
    ), sig2 AS (
      SELECT vec_id, v, nrm, projs,
             list_sum(list_transform(generate_series(1, {N_PROJ}),
                      r -> CASE WHEN projs[r] > 0 THEN (1 << (r - 1)) ELSE 0 END)) AS bucket
      FROM sig
    ), qp AS (
      SELECT vec_id, v, nrm,
             list_prepend(bucket,
               list_transform(
                 list_slice(
                   list_sort(list_transform(generate_series(1, {N_PROJ}),
                             r -> {{'am': round(abs(projs[r]), 6), 'r': r - 1}})),
                   1, {N_FLIPS}),
                 s -> xor(bucket, (1 << s.r)))) AS probes
      FROM sig2 WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM qp q JOIN sig2 c
        ON list_contains(q.probes, c.bucket) AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
    survey="U5",
)
def sim_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: same bucket table as ``sim_lsh_bucketed``, but
    each query also probes the Hamming-1 buckets from flipping its
    ``N_FLIPS`` lowest-margin sign bits — higher recall for n_flips extra
    probe rows per query, corpus side untouched."""
    em = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        em, n_proj=N_PROJ, n_queries=N_QUERIES, top_k=TOP_K, n_flips=N_FLIPS
    )


# ---------------------------------------------------------------------------
# Trained-model snapshot oracles (VERDICT r5 ask #1).
#
# The k-means / PQ trainers are iterative numpy loops — not SQL — but the
# trained MODEL is a broadcast-sized table of doubles. Each trained-ANN
# query snapshots its model to ``.fixture_snapshots/*.parquet`` (exact
# float64, same mechanism as plans/reference_pipeline.py), and the DuckDB
# oracle recomputes the ENTIRE search pipeline — cell assignment, probe
# selection, PQ encoding, ADC scoring, exact-cosine rerank — from that
# snapshot plus the embeddings view. The driver's hash gate therefore
# verifies everything downstream of training, which is exactly the
# machinery that runs against the 100 TB corpus (training touches only a
# bounded sample / model-sized aggregates).
#
# Float discipline: cosine/ADC scores are rounded to 6 dp before every
# rank on both engines (ties → id), matching the long-green pinned-IVF
# oracle; argmin decisions (cell assignment, PQ codes, probe selection)
# compare raw d2 with EXACT ties broken on centroid id — numpy argmin /
# stable argsort pick the first (lowest-cid) index, ``ORDER BY d2, cid``
# picks the same one. Exact ties are the realistic cross-engine hazard
# here: duplicate corpus vectors (this corpus plants them) produce
# bit-equal d2 per engine. NON-tied d2 values could in principle still
# order differently across engines (numpy pairwise/BLAS summation vs
# DuckDB sequential list_sum, ~1e-13 relative), but only when two
# centroid distances differ by less than that error — for distinct
# synthetic vectors the nearest-cell gaps are many orders larger, and
# rounding d2 before argmin would WIDEN the flip window (a value within
# summation error of a rounding boundary flips with probability
# error/step, far above error/gap), so raw-d2 compare is deliberate.
# ---------------------------------------------------------------------------


def _snapshot_centroid_model(name: str, cents) -> None:
    """Persist a (k × dim) float64 centroid matrix as (cid, cv) parquet."""
    import pandas as pd

    from ssidentity_spark.fixtures import snapshot_fixture

    pdf = pd.DataFrame(
        {
            "cid": list(range(len(cents))),
            "cv": [[float(x) for x in row] for row in cents],
        }
    )
    # memo=False: the model is trained from a specific sf_dir's
    # embeddings — NOT a pure function of the snapshot name, so the
    # process-level memo must not skip a retrain for a different SF
    snapshot_fixture(name, pdf, memo=False)


def _snapshot_codebook_model(name: str, books) -> None:
    """Persist an (m × k × sub) float64 PQ codebook as (j, c, cv) parquet."""
    import pandas as pd

    from ssidentity_spark.fixtures import snapshot_fixture

    m, k, _ = books.shape
    rows = [
        (j, c, [float(x) for x in books[j][c]]) for j in range(m) for c in range(k)
    ]
    # memo=False — sf_dir-dependent model content (see _snapshot_centroid_model)
    snapshot_fixture(name, pd.DataFrame(rows, columns=["j", "c", "cv"]), memo=False)


def _model_snap(name: str) -> str:
    from ssidentity_spark.fixtures import SNAPSHOT_DIR

    return f"{SNAPSHOT_DIR}/{name}.parquet"


def _ivf_cell_sql(cent_snap: str) -> str:
    """CTE fragments: raw-L2 cell assignment + per-query probe cells from a
    snapshotted centroid model — the SQL twin of operators/ivf.py
    assign_cells (numpy argmin per Arrow batch) and the driver-side
    np.argsort probe selection in ivf_topk."""
    return f"""
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), cent AS (
      SELECT cid, cv FROM read_parquet('{cent_snap}')
    ), celld AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, len(e.v)),
                      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
      FROM e CROSS JOIN cent c
    ), cellrank AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM celld
    ), n AS (
      SELECT e.vec_id, e.v,
             sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm,
             r.cid AS cell
      FROM e JOIN cellrank r ON r.vec_id = e.vec_id AND r.rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM cellrank
      WHERE vec_id < {N_QUERIES} AND rn <= {IVF_PROBES}
    )"""


def _ivf_trained_oracle(cent_snap: str) -> str:
    """Full IVF search: probe-pruned candidates → exact cosine → top-k."""
    return f"""
    WITH {_ivf_cell_sql(cent_snap)}, cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM probes p
      JOIN n c ON c.cell = p.cell AND c.vec_id <> p.query_id
      JOIN n q ON q.vec_id = p.query_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= {TOP_K}
    """


def _pq_code_sql(books_snap: str) -> str:
    """CTE fragments: L2-normalize, PQ-encode the corpus against a
    snapshotted codebook, and expose per-(query, neighbor, subspace) ADC
    terms — the SQL twin of operators/pq.py encode_pq + adc_lut. Subvector
    j of u is u[j*sub + 1 .. (j+1)*sub] with sub = len(cb.cv), so no dim
    literal is baked in."""
    return f"""
    eraw AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), nv AS (
      SELECT vec_id,
             CASE WHEN nrm0 = 0 THEN v
                  ELSE list_transform(v, x -> x / nrm0) END AS u
      FROM (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm0
        FROM eraw
      )
    ), cb AS (
      SELECT j, c, cv FROM read_parquet('{books_snap}')
    ), codes AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT nv.vec_id, cb.j, cb.c,
               list_sum(list_transform(generate_series(1, len(cb.cv)),
                        i -> (nv.u[cb.j * len(cb.cv) + i] - cb.cv[i])
                           * (nv.u[cb.j * len(cb.cv) + i] - cb.cv[i]))) AS d2,
               row_number() OVER (PARTITION BY nv.vec_id, cb.j
                                  ORDER BY d2, cb.c) AS rn
        FROM nv CROSS JOIN cb
      ) WHERE rn = 1
    )"""

# shared ADC term: ||q_j − codeword(neighbor, j)||² for one subspace
_ADC_TERM = """list_sum(list_transform(generate_series(1, len(b.cv)),
                        i -> (q.u[b.j * len(b.cv) + i] - b.cv[i])
                           * (q.u[b.j * len(b.cv) + i] - b.cv[i])))"""

_PQ_RANKED = f"""scored AS (
      SELECT query_id, neighbor_id,
             round(1.0 - sum(term) / 2.0, 6) AS approx_cos
      FROM terms GROUP BY 1, 2
    ), pqranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_cos DESC, neighbor_id) AS rnk
      FROM scored
    )"""


def _pq_adc_oracle(books_snap: str) -> str:
    """Exhaustive ADC: every corpus code scored against every query LUT."""
    return f"""
    WITH {_pq_code_sql(books_snap)}, terms AS (
      SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id, {_ADC_TERM} AS term
      FROM codes t
      JOIN cb b ON b.j = t.j AND b.c = t.code
      JOIN nv q ON q.vec_id < {N_QUERIES} AND q.vec_id <> t.vec_id
    ), {_PQ_RANKED}
    SELECT query_id, neighbor_id, approx_cos, CAST(rnk AS INTEGER) AS rnk
    FROM pqranked WHERE rnk <= {TOP_K}
    """


def _ivfpq_terms_sql(cent_snap: str, books_snap: str) -> str:
    """IVF × PQ candidate generation: ADC terms restricted to the query's
    probed cells (cell assignment from the centroid snapshot)."""
    return f"""
    WITH {_ivf_cell_sql(cent_snap)}, {_pq_code_sql(books_snap)}, terms AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, {_ADC_TERM} AS term
      FROM probes p
      JOIN n a ON a.cell = p.cell AND a.vec_id <> p.query_id
      JOIN codes t ON t.vec_id = a.vec_id
      JOIN cb b ON b.j = t.j AND b.c = t.code
      JOIN nv q ON q.vec_id = p.query_id
    ), {_PQ_RANKED}"""


def _ivfpq_oracle(cent_snap: str, books_snap: str) -> str:
    return f"""
    {_ivfpq_terms_sql(cent_snap, books_snap)}
    SELECT query_id, neighbor_id, approx_cos, CAST(rnk AS INTEGER) AS rnk
    FROM pqranked WHERE rnk <= {TOP_K}
    """


def _ivfpq_rerank_oracle(cent_snap: str, books_snap: str) -> str:
    """IVF×PQ candidates (top RERANK_CANDIDATES by ADC) re-scored with
    exact cosine over the full vectors — operators/pq.py
    ivf_pq_rerank_topk, end to end."""
    return f"""
    {_ivfpq_terms_sql(cent_snap, books_snap)},
    cand AS (
      SELECT query_id, neighbor_id FROM pqranked
      WHERE rnk <= {RERANK_CANDIDATES}
    ), rr AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * x.v[i])) / (q.nrm * x.nrm), 6) AS cos
      FROM cand c
      JOIN n x ON x.vec_id = c.neighbor_id
      JOIN n q ON q.vec_id = c.query_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM rr
    ) WHERE rnk <= {TOP_K}
    """


@register(
    "sim_ivf_topk",
    # trained-model snapshot oracle: the numpy k-means model lands in
    # .fixture_snapshots/ivf_centroids.parquet (exact float64) and DuckDB
    # recomputes assignment → probes → exact cosine → top-k from it.
    oracle=_ivf_trained_oracle(_model_snap("ivf_centroids")),
    survey="U5",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means cells + probe-limited search (see operators/ivf.py)."""
    from ssidentity_spark.operators.ivf import ivf_topk, train_centroids

    em = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(em, k=IVF_K, iters=IVF_ITERS)
    _snapshot_centroid_model("ivf_centroids", cents)
    return ivf_topk(
        em, cents, list(range(N_QUERIES)), top_k=TOP_K, n_probes=IVF_PROBES
    )


@register(
    "sim_ivf_topk_distributed",
    oracle=_ivf_trained_oracle(_model_snap("ivf_centroids_dist")),
    survey="U5",
)
def sim_ivf_topk_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the DISTRIBUTED trainer: Lloyd's over the full corpus
    (posexplode + groupBy mean per iteration — only the k × dims model ever
    reaches the driver). The scale path when the corpus outgrows
    ``train_centroids``'s 4096-vector driver sample; same probe-limited
    search as ``sim_ivf_topk``."""
    from ssidentity_spark.operators.ivf import ivf_topk, train_centroids_distributed

    em = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids_distributed(em, k=IVF_K, iters=IVF_ITERS)
    _snapshot_centroid_model("ivf_centroids_dist", cents)
    return ivf_topk(
        em, cents, list(range(N_QUERIES)), top_k=TOP_K, n_probes=IVF_PROBES
    )


N_PINNED_PROBES = 2
PINNED_CENT_MOD = 97  # centroid set: vec_id % 97 == 0 → k grows with corpus

# Shared oracle fragment: the pinned-IVF cell-assignment → probe →
# candidate CTE chain. Interpolated into BOTH sim_ivf_pinned_topk and
# sim_probe_batch (which runs the identical pipeline through the
# streaming probe operator), so a tie-break or rounding fix applies to
# both hash-gated queries at once instead of living as two hand-synced
# 30-line copies (r7 review).
# assignment half (cent/ranked/cells) — shared verbatim by the fixed-probe
# chain below AND the probe-count curve (sim_ivf_probe_curve), so the
# assignment SQL can never drift between the point and the curve
_PINNED_ASSIGN_CTES = f"""cent AS (
      SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
      WHERE vec_id % {PINNED_CENT_MOD} = 0
    ), ranked AS (
      SELECT vec_id, v, nrm, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cell_cos DESC, cid) AS rn
      FROM (
        SELECT n.vec_id, n.v, n.nrm, c.cid,
               round(list_sum(list_transform(generate_series(1, len(n.v)),
                              i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm), 6)
                 AS cell_cos
        FROM n CROSS JOIN cent c)
    ), cells AS (
      SELECT vec_id, v, nrm, cid AS cell FROM ranked WHERE rn = 1
    )"""

_PINNED_IVF_CTES = f"""{_PINNED_ASSIGN_CTES}, probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM ranked
      WHERE vec_id < {N_QUERIES} AND rn <= {N_PINNED_PROBES}
    ), cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM probes p
      JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
      JOIN cells q ON q.vec_id = p.query_id
    )"""


@register(
    "sim_ivf_pinned_topk",
    oracle=f"""
    WITH {_DUCK_VEC}, {_PINNED_IVF_CTES}
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= {TOP_K}
    """,
    survey="U5",
)
def sim_ivf_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF *search* with PINNED centroids — the hash-matchable twin of
    ``sim_ivf_topk``: centroids are a deterministic corpus subset
    (``vec_id % 97 == 0``, so k grows with the corpus like a trained
    codebook would) instead of Lloyd's-trained, which makes the entire
    assign → probe → exact-cosine pipeline SQL-expressible and lets the
    driver hash-verify the search machinery the trained variants reuse.

    Scale shape: assignment is the inherent O(corpus × k) pass against
    the broadcast centroid set (:func:`nearest_cells`; it is
    model-sized) with one per-vector argmax window, then the probe join
    prunes scoring to the ≤ n_probes cells each query selected —
    candidates, not corpus, reach the exact-cosine stage. Cosines are
    rounded to 6 dp before every rank on both engines; ties break on id.
    """
    em = load_table(spark, sf_dir, "embeddings")
    base = _norm_vec(em)
    cent = pinned_centroids(base)
    ranked = nearest_cells(base, cent, N_PINNED_PROBES)
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "v", "nrm", F.col("cid").alias("cell")
    )
    probes = ranked.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("rn") <= N_PINNED_PROBES)
    ).select(F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"))
    cand = _probed(cells, probes).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cos6("qv", "qnrm", "v", "nrm").alias("cos"),
    )
    return top_rows(cand, TOP_K).select("query_id", "neighbor_id", "cos", "rnk")


@register(
    "sim_pq_adc_topk",
    # trained-codebook snapshot oracle: DuckDB re-encodes the corpus and
    # recomputes every ADC lookup from the snapshotted (j, c, cv) model —
    # the LUT is re-derived, not trusted.
    oracle=_pq_adc_oracle(_model_snap("pq_codebooks")),
    survey="U5",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): 64-dim floats become
    m=8 4-bit codes (64× compression), queries score codes JVM-side via a
    broadcast per-query lookup table (ADC). The memory-compression axis of
    the similarity stack — measured recall/MSE trade in SCALE.md (low
    recall in this corpus's mid-similarity regime, ~1.0 on near-dups —
    the compression is for candidate generation + re-rank, not final
    ranking)."""
    from ssidentity_spark.operators.pq import pq_adc_topk, train_codebooks

    em = load_table(spark, sf_dir, "embeddings")
    books = train_codebooks(em, m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    _snapshot_codebook_model("pq_codebooks", books)
    return pq_adc_topk(em, books, list(range(N_QUERIES)), top_k=TOP_K)


@register(
    "sim_ivfpq_topk",
    oracle=_ivfpq_oracle(
        _model_snap("ivfpq_centroids"), _model_snap("ivfpq_codebooks")
    ),
    survey="U5",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × PQ (operators/pq.py:ivf_pq_topk) — the billion-scale ANN
    layout: coarse cells prune the scan to ~n_probes/k of the corpus, PQ
    codes shrink what is scanned 64×. The equi-join on cell id keeps
    candidate generation a broadcast hash join; ADC stays JVM-side."""
    from ssidentity_spark.operators.ivf import train_centroids
    from ssidentity_spark.operators.pq import ivf_pq_topk, train_codebooks

    em = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(em, k=IVF_K, iters=IVF_ITERS)
    books = train_codebooks(em, m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    _snapshot_centroid_model("ivfpq_centroids", cents)
    _snapshot_codebook_model("ivfpq_codebooks", books)
    return ivf_pq_topk(
        em, cents, books, list(range(N_QUERIES)), top_k=TOP_K, n_probes=IVF_PROBES
    )


@register(
    "sim_ivfpq_rerank_topk",
    # un-benched in r11 (VERDICT r10 ask #3): this is the MODEL-BUILD
    # query — it retrains centroids + codebooks inline, so its wall time
    # billed training to a search benchmark and drifted with machine
    # state; sim_ivfpq_pinned_topk below benches the search path alone.
    # full-pipeline snapshot oracle: cells + codes + ADC candidate cut at
    # RERANK_CANDIDATES + exact-cosine rerank, all recomputed by DuckDB
    # from the two model snapshots.
    oracle=_ivfpq_rerank_oracle(
        _model_snap("ivfpq_rr_centroids"), _model_snap("ivfpq_rr_codebooks")
    ),
    survey="U5",
)
def sim_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN layout end-to-end (operators/pq.py:
    ivf_pq_rerank_topk): IVF cells prune the scan, PQ codes compress it,
    exact cosine re-ranks only the ~100 candidates per query. Measured
    recall@5 0.88 at sf0.01 / 0.80 at sf0.1 vs 0.26 for raw ADC ranking —
    ADC's error is confined to the candidate boundary while full vectors
    are read for O(queries × candidates) rows only."""
    from ssidentity_spark.operators.ivf import train_centroids
    from ssidentity_spark.operators.pq import ivf_pq_rerank_topk, train_codebooks

    em = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(em, k=IVF_K, iters=IVF_ITERS)
    books = train_codebooks(em, m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    _snapshot_centroid_model("ivfpq_rr_centroids", cents)
    _snapshot_codebook_model("ivfpq_rr_codebooks", books)
    return ivf_pq_rerank_topk(
        em,
        cents,
        books,
        list(range(N_QUERIES)),
        top_k=TOP_K,
        n_probes=IVF_PROBES,
        n_candidates=RERANK_CANDIDATES,
    )


# once-per-corpus IVFPQ model cache (VERDICT r10 ask #3): the trainers are
# deterministic functions of the corpus, so memoizing on the corpus dir is
# semantics-free — it only moves WHERE the training cost is paid (first
# invocation, i.e. the bench warm-up pass), exactly the production shape
# where the persisted model serves every query until the next rebuild.
_IVFPQ_MODEL_CACHE: dict[str, tuple] = {}


def _ivfpq_model_for(em: DataFrame, sf_dir: str) -> tuple:
    key = str(sf_dir)
    if key not in _IVFPQ_MODEL_CACHE:
        from ssidentity_spark.operators.ivf import train_centroids
        from ssidentity_spark.operators.pq import train_codebooks

        _IVFPQ_MODEL_CACHE[key] = (
            train_centroids(em, k=IVF_K, iters=IVF_ITERS),
            train_codebooks(em, m=PQ_M, k=PQ_K, iters=PQ_ITERS),
        )
    return _IVFPQ_MODEL_CACHE[key]


@register(
    "sim_ivfpq_pinned_topk",
    bench=True,
    # same full-pipeline snapshot oracle as the trained form: DuckDB
    # re-derives cells, codes, ADC candidate cut and exact rerank from
    # the two snapshotted model tables — how the model was obtained
    # (fresh-trained vs persisted) is irrelevant to the search-path proof.
    oracle=_ivfpq_rerank_oracle(
        _model_snap("ivfpq_pin_centroids"), _model_snap("ivfpq_pin_codebooks")
    ),
    survey="U5",
)
def sim_ivfpq_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ + exact rerank against the PERSISTED model — the BENCHED
    form of the production ANN layout (VERDICT r10 ask #3): at 100 TB
    the model is trained once and serves every search until the next
    rebuild, so a search benchmark must not bill Lloyd's iterations to
    the query. The model comes from the once-per-corpus cache
    (:func:`_ivfpq_model_for` — identical deterministic trainers to
    ``sim_ivfpq_rerank_topk``, so recall is the trained 0.88-0.9@5, not
    a degraded sampled-model figure); the first invocation trains and
    every later one reuses, which under bench.py's discarded warm-up
    pass means the five timed runs measure the search pipeline alone:
    cell assign → probe prune → ADC scan → candidate cut → exact-cosine
    rerank over O(queries × candidates) rows. ``sim_ivfpq_rerank_topk``
    stays registered as the model-BUILD query (always retrains)."""
    from ssidentity_spark.operators.pq import ivf_pq_rerank_topk

    em = load_table(spark, sf_dir, "embeddings")
    cents, books = _ivfpq_model_for(em, sf_dir)
    _snapshot_centroid_model("ivfpq_pin_centroids", cents)
    _snapshot_codebook_model("ivfpq_pin_codebooks", books)
    return ivf_pq_rerank_topk(
        em,
        cents,
        books,
        list(range(N_QUERIES)),
        top_k=TOP_K,
        n_probes=IVF_PROBES,
        n_candidates=RERANK_CANDIDATES,
    )


# ---------------------------------------------------------------------------
# Label-centroid similarity — groupwise vector aggregation (UDAF-shaped work
# done with native array aggregation: element-wise sum via explode+pivot-free
# posexplode groupBy, then cosine of each label centroid pair).
# ---------------------------------------------------------------------------


@register(
    "sim_label_centroids",
    oracle="""
    WITH e AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), elem AS (
      SELECT label,
             unnest(generate_series(1, len(v))) AS i,
             unnest(v) AS x
      FROM e
    )
    SELECT label, CAST(i AS INTEGER) AS dim_idx, round(avg(x), 6) AS centroid_val
    FROM elem WHERE i <= 4 GROUP BY 1, 2
    """,
    survey="U3,U5",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    elem = em.select("label", F.posexplode(v).alias("i0", "x")).select(
        "label", (F.col("i0") + 1).alias("dim_idx"), "x"
    )
    return (
        elem.filter(F.col("dim_idx") <= 4)
        .groupBy("label", "dim_idx")
        .agg(F.round(F.avg("x"), 6).alias("centroid_val"))
        .select("label", "dim_idx", "centroid_val")
    )


@register(
    "sim_probe_batch",
    # Batch twin of the r5 STREAMING probe operator (streaming/ann.py:
    # probe_stream): identical expressions run on a static frame with a
    # constant event time, so this oracle puts the streaming pipeline's
    # exact semantics — literal-model cell selection, probed-cell
    # candidate join, bounded windowed top-k — under the driver hash
    # gate; the stream ≡ batch parity test then extends that evidence to
    # the streaming execution itself.
    oracle=f"""
    WITH {_DUCK_VEC}, {_PINNED_IVF_CTES}
    SELECT '2024-05-01 12:00:00' AS win_start,
           query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, cos
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= {TOP_K}
    """,
    survey="U5,T3",
)
def sim_probe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ANN probe's expressions on a batch frame — see
    streaming/ann.py:probe_stream (U5×T). The query-side cell selection
    runs against the literal centroid model (exactly what ships to the
    stream), the candidate join touches only probed cells, and top-k is
    the same bounded collect/sort aggregation; a constant event time
    collapses the window to one pane so results align with the pinned-IVF
    oracle formulation."""
    from ssidentity_spark.streaming.ann import build_pinned_index, probe_stream

    model, cells = build_pinned_index(spark, sf_dir)
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.lit("2024-05-01 12:00:00").cast("timestamp").alias("ts"),
        F.col("vec_id").alias("query_id"),
        "embedding",
    )
    out = probe_stream(q, cells, model)
    return out.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "query_id",
        F.col("rnk").cast("int").alias("rnk"),
        "neighbor_id",
        "cos",
    )


# ---------------------------------------------------------------------------
# Filtered ANN — metadata predicate INSIDE the search (pre-filter).
# ---------------------------------------------------------------------------


@register(
    "sim_filtered_topk",
    # Filtered vector search, the production pattern the plain top-k
    # family skips: each query retrieves only among candidates sharing
    # its label. PRE-filtering (predicate becomes the join key) beats
    # post-filtering (over-fetch k' >> k then filter, recall unbounded
    # when a label is rare): correctness is exact by construction and
    # scoring work is Σ per-label candidates, not corpus × queries.
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    ), scored AS (
      SELECT q.vec_id AS query_id, q.label AS label,
             c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM n q JOIN n c ON c.label = q.label AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, label, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
    survey="U5,J1",
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine neighbors among SAME-LABEL vectors only — filtered
    vector search with the predicate pushed into the candidate join
    (label is the join key, so each query scores its label's slice, not
    the corpus). At 100 TB this is the difference between a partitioned
    per-label scan and an over-fetch heuristic whose recall collapses on
    rare labels; exactness is by construction and the oracle recomputes
    the whole filtered search."""
    em = load_table(spark, sf_dir, "embeddings")
    base = _norm_vec(em, "label")
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = base.join(
        F.broadcast(queries),
        (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("qlabel").alias("label"),
        F.col("vec_id").alias("neighbor_id"),
        cos6("qv", "qnrm", "v", "nrm").alias("cos"),
    )
    return top_rows(scored, TOP_K).select(
        "query_id", "label", "neighbor_id", "cos", F.col("rnk").cast("int").alias("rnk")
    )


FILTERED_IVF_PROBES = 4  # label thins each cell, so probe wider than the
# unfiltered pinned search (2) — recall curve in SCALE.md (r9)


def filtered_ivf_candidates(em: DataFrame, n_probes: int) -> DataFrame:
    """The scored candidate set of the filtered-IVF search: a candidate
    must be in one of the query's ``n_probes`` nearest cells AND share
    the query's label — the predicate intersects the index instead of
    replacing it (``sim_filtered_topk`` is the exact per-label scan;
    this is the sub-linear path for when a label's slice is itself too
    big to scan). Split from the rank stage, which ranks only what this
    scores; SCALE.md "r9: filtered ANN" gives that count per probe
    setting."""
    base = _norm_vec(em, "label")
    cent = pinned_centroids(base)
    # THREE consumers downstream (cells feeds the probe join AND qv;
    # probes reads ranked again) — pin one materialization of the
    # O(corpus × centroids) assignment, the query's most expensive
    # subtree (the containment-pairs lesson)
    ranked = nearest_cells(base, cent, n_probes).persist()
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "label", "v", "nrm", F.col("cid").alias("cell")
    )
    probes = ranked.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("rn") <= n_probes)
    ).select(F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"))
    return (
        _probed(cells, probes, "label")
        # the FILTER composes with the index here: same-label only, and
        # it prunes before any exact cosine is computed
        .filter(F.col("label") == F.col("qlabel"))
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            F.col("vec_id").alias("neighbor_id"),
            cos6("qv", "qnrm", "v", "nrm").alias("cos"),
        )
    )


def filtered_ivf_topk(em: DataFrame, n_probes: int) -> DataFrame:
    """Rank stage over :func:`filtered_ivf_candidates` — the shipped
    filtered-IVF search."""
    return top_rows(filtered_ivf_candidates(em, n_probes), TOP_K).select(
        "query_id", "label", "neighbor_id", "cos", F.col("rnk").cast("int").alias("rnk")
    )


@register(
    "sim_filtered_ivf_topk",
    # Filtered ANN with an INDEX (VERDICT r8 stretch #8): the exact
    # per-label scan (sim_filtered_topk) is the rare-label tier; this
    # composes the predicate with the pinned-IVF cells so common labels
    # get a sub-linear path — candidates = probed cells ∩ same label.
    # Pinned centroids (vec_id % 97) make the whole assign → probe →
    # filter → exact-cosine pipeline SQL-expressible, so the driver
    # hash-verifies the composed search, not a trained approximation.
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    ), cent AS (
      SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
      WHERE vec_id % {PINNED_CENT_MOD} = 0
    ), ranked AS (
      SELECT vec_id, label, v, nrm, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cell_cos DESC, cid) AS rn
      FROM (
        SELECT n.vec_id, n.label, n.v, n.nrm, c.cid,
               round(list_sum(list_transform(generate_series(1, len(n.v)),
                              i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm), 6)
                 AS cell_cos
        FROM n CROSS JOIN cent c)
    ), cells AS (
      SELECT vec_id, label, v, nrm, cid AS cell FROM ranked WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM ranked
      WHERE vec_id < {N_QUERIES} AND rn <= {FILTERED_IVF_PROBES}
    ), cand AS (
      SELECT p.query_id, q.label, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM probes p
      JOIN cells q ON q.vec_id = p.query_id
      JOIN cells c ON c.cell = p.cell AND c.label = q.label
                   AND c.vec_id <> p.query_id
    )
    SELECT query_id, label, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= {TOP_K}
    """,
    survey="U5,J1",
)
def sim_filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered top-k through the pinned-IVF index: candidates must fall
    in one of the query's 4 (FILTERED_IVF_PROBES) nearest cells AND carry
    the query's label. Scale shape: one O(corpus × k) broadcast
    assignment pass, one corpus shuffle for the argmax window, then the
    probe join scores only (probed cell ∩ label) slices — at 10^9
    vectors the per-query candidate set is cell-sized-thinned-by-label,
    not label-sized (the exact tier's cost) and never corpus-sized.
    Recall vs the exact filtered scan is measured per-probe-count in
    SCALE.md "r9: filtered ANN"; rare labels stay on the exact
    tier, which is precisely the two-tier production layout."""
    return filtered_ivf_topk(
        load_table(spark, sf_dir, "embeddings"), FILTERED_IVF_PROBES
    )


# ---------------------------------------------------------------------------
# E1 — retrieval evaluation (r9): the EVAL harness as a relational query.
# Everything above builds rankings; a training-data pipeline also has to
# MEASURE them. Queries are a deterministic id-stride sample, the ranking is
# the exact cosine top-k (the ground-truth ranking the ANN variants
# approximate), qrels are label equality, and the metrics are the standard
# IR set — precision@k, recall@k, MRR@k, NDCG@k — computed per query, all
# relational (rank window + one aggregate), so the whole scorecard sits
# under the oracle hash.
# ---------------------------------------------------------------------------

_EVAL_K = 10
_EVAL_STRIDE = 25  # queries: vec_id % 25 == 0 (scales with the corpus)


@register(
    "sim_retrieval_eval",
    # Rank determinism: ranks come from the ROUNDED cosine with the id
    # tiebreak (the module contract, line 14). The metric arithmetic is
    # integers and 1/log2(int) doubles; the dcg/idcg sums are <= k terms
    # whose addition-order skew sits orders below the 6-dp round.
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    ), q AS (
      SELECT vec_id AS query_id, label AS qlabel, v, nrm FROM n
      WHERE vec_id % {_EVAL_STRIDE} = 0
    ), scored AS (
      SELECT q.query_id, q.qlabel,
             c.vec_id AS neighbor_id, (c.label = q.qlabel) AS rel,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM q JOIN n c ON c.vec_id <> q.query_id
    ), top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= {_EVAL_K}
    ), m AS (
      SELECT query_id, qlabel,
             CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
             sum(CASE WHEN rel THEN 1.0 / log2(rnk + 1.0) ELSE 0.0 END) AS dcg,
             min(CASE WHEN rel THEN rnk END) AS first_rel
      FROM top GROUP BY 1, 2
    ), lc AS (
      SELECT label, CAST(count(*) AS BIGINT) AS c FROM embeddings GROUP BY 1
    )
    SELECT m.query_id, m.qlabel AS label, (lc.c - 1) AS n_rel, m.hits,
           round(m.hits / {_EVAL_K}.0, 6) AS precision_at_k,
           round(m.hits / nullif(CAST(lc.c - 1 AS DOUBLE), 0), 6)
             AS recall_at_k,
           coalesce(round(1.0 / m.first_rel, 6), 0.0) AS mrr_at_k,
           CASE WHEN lc.c - 1 > 0 THEN
             round(m.dcg / list_sum(list_transform(
               generate_series(1, least({_EVAL_K}, CAST(lc.c - 1 AS INTEGER))),
               i -> 1.0 / log2(i + 1.0))), 6)
           END AS ndcg_at_k
    FROM m JOIN lc ON m.qlabel = lc.label
    """,
    survey="E1,U5,W1",
)
def sim_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR scorecard of the exact cosine ranking against label qrels:
    per query — precision@k, recall@k, MRR@k, NDCG@k (binary gains,
    log2 discount, ideal-DCG over min(k, n_relevant)).

    This is the harness the ANN tiers (LSH/IVF/IVFPQ) are tuned
    against; having it AS a query means index regressions show up in a
    hash-gated artifact, not just in offline notebooks. Plan shape: the
    scoring and the per-query top-k are one block product
    (operators/blocktopk.py; queries tiny by construction), the metrics
    one aggregate, and labels and label counts broadcast-sized
    dimensions. At 100 TB the eval set
    stays a fixed sample — cost is O(|corpus| x |queries|) like
    sim_topk_bruteforce, with the ANN variants evaluated by swapping the
    ranking subtree."""
    em = load_table(spark, sf_dir, "embeddings")
    corpus = _vectors(em)
    labels = em.select("vec_id", "label")
    ql = labels.select(F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"))
    cl = labels.select(F.col("vec_id").alias("cid"), "label")
    top = (
        block_topk(corpus, _EVAL_K, corpus.filter(F.col("id") % _EVAL_STRIDE == 0))
        .join(F.broadcast(ql), "qid")
        .join(F.broadcast(cl), "cid")
        .select(
            F.col("qid").alias("query_id"),
            "qlabel",
            (F.col("label") == F.col("qlabel")).alias("rel"),
            "rnk",
        )
    )
    m = top.groupBy("query_id", "qlabel").agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("hits"),
        F.sum(
            F.when(F.col("rel"), 1.0 / F.log2(F.col("rnk") + 1.0)).otherwise(0.0)
        ).alias("dcg"),
        F.min(F.when(F.col("rel"), F.col("rnk"))).alias("first_rel"),
    )
    lc = em.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n_rel = F.col("c") - 1
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(_EVAL_K), n_rel.cast("int"))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i + F.lit(1.0)),
    )
    return (
        m.join(F.broadcast(lc), m.qlabel == lc.label)
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            n_rel.alias("n_rel"),
            "hits",
            F.round(F.col("hits") / float(_EVAL_K), 6).alias("precision_at_k"),
            F.round(
                F.col("hits") / F.nullif(n_rel.cast("double"), F.lit(0.0)), 6
            ).alias("recall_at_k"),
            F.coalesce(
                F.round(F.lit(1.0) / F.col("first_rel"), 6), F.lit(0.0)
            ).alias("mrr_at_k"),
            F.when(n_rel > 0, F.round(F.col("dcg") / idcg, 6)).alias(
                "ndcg_at_k"
            ),
        )
    )


@register(
    "sim_ann_recall_eval",
    # INDEX-quality eval, the sibling of sim_retrieval_eval's EMBEDDING-
    # quality eval: per query, how much of the exact cosine top-k the
    # pinned-IVF search recovers (overlap@k). Both rankings are the
    # already-hash-gated chains (sim_topk_bruteforce, sim_ivf_pinned_topk)
    # — this query composes them and puts the recall number itself under
    # the hash, so an index regression (probe count, assignment tie-break,
    # centroid drift) turns a driver row red instead of only moving an
    # offline curve (SCALE.md "Measured recall-vs-cost" holds the
    # parameter sweep).
    oracle=f"""
    WITH {_DUCK_VEC}, {_PINNED_IVF_CTES}, ivf_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM cand
      ) WHERE rnk <= {TOP_K}
    ), xsc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM xsc
      ) WHERE rnk <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(i.neighbor_id) AS BIGINT) AS hits,
           round(count(i.neighbor_id) / {TOP_K}.0, 6) AS recall_at_k
    FROM exact_top e
    LEFT JOIN ivf_top i
      ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    GROUP BY 1
    """,
    survey="E1b,E1,U5",
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the pinned-IVF search against the exact ranking, per
    query — the hash-gated form of the index-quality check. Pure
    composition: both sides reuse the registered rankings verbatim, so
    the plan is the union of their plans plus one pair-keyed left join
    and a per-query aggregate; at 100 TB it costs what its two inputs
    cost (the exact side stays the fixed eval sample)."""
    exact = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ivf = (
        sim_ivf_pinned_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    j = exact.join(ivf, ["query_id", "neighbor_id"], "left")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.count("hit").cast("long").alias("hits"),
        F.round(F.count("hit") / float(TOP_K), 6).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# E1c — the recall-vs-probes CURVE (r9): E1b measures the shipped probe
# count; tuning needs the whole curve. ONE pipeline, not n_probes reruns:
# the probe-count dimension (1..4) cross-joins onto the assignment ranking
# with rn <= n_probes, so assignment and exact scoring run once and every
# curve point falls out of the same aggregate.
# ---------------------------------------------------------------------------

_CURVE_MAX_PROBES = 4


@register(
    "sim_ivf_probe_curve",
    oracle=f"""
    WITH {_DUCK_VEC}, {_PINNED_ASSIGN_CTES}, pdim AS (
      SELECT CAST(unnest(generate_series(1, {_CURVE_MAX_PROBES})) AS INTEGER)
        AS n_probes
    ), probes_all AS (
      SELECT p.n_probes, r.vec_id AS query_id, r.cid AS cell
      FROM ranked r JOIN pdim p ON r.rn <= p.n_probes
      WHERE r.vec_id < {N_QUERIES}
    ), cand AS (
      SELECT pa.n_probes, pa.query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM probes_all pa
      JOIN cells c ON c.cell = pa.cell AND c.vec_id <> pa.query_id
      JOIN cells q ON q.vec_id = pa.query_id
    ), ivf_top AS (
      SELECT n_probes, query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY n_probes, query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM cand
      ) WHERE rnk <= {TOP_K}
    ), xsc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM xsc
      ) WHERE rnk <= {TOP_K}
    ), per_q AS (
      SELECT p.n_probes, e.query_id,
             CAST(count(i.neighbor_id) AS BIGINT) AS hits
      FROM pdim p
      CROSS JOIN exact_top e
      LEFT JOIN ivf_top i
        ON i.n_probes = p.n_probes AND i.query_id = e.query_id
       AND i.neighbor_id = e.neighbor_id
      GROUP BY 1, 2
    )
    SELECT n_probes,
           CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(hits / {TOP_K}.0), 6) AS mean_recall,
           round(min(hits / {TOP_K}.0), 6) AS min_recall
    FROM per_q GROUP BY 1
    """,
    survey="E1c,E1,U5",
)
def sim_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and worst-case recall@k of the pinned-IVF search at every
    probe count 1..{_CURVE_MAX_PROBES} — the tuning curve as one
    hash-gated artifact. Assignment runs ONCE (the probe dimension
    cross-joins onto the ranking with rn <= n_probes), the exact side
    runs once, and every curve point falls out of the same per-
    (n_probes, query) aggregate. hits/k ratios are exact multiples of
    1/k, so the averages are hash-stable at 6 dp."""
    em = load_table(spark, sf_dir, "embeddings")
    base = _norm_vec(em)
    cent = pinned_centroids(base)
    ranked = nearest_cells(base, cent, _CURVE_MAX_PROBES).persist()
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "v", "nrm", F.col("cid").alias("cell")
    )
    pdim = spark.createDataFrame(
        [(p,) for p in range(1, _CURVE_MAX_PROBES + 1)], "n_probes int"
    )
    probes_all = (
        ranked.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(pdim), F.col("rn") <= F.col("n_probes"))
        .select(
            "n_probes", F.col("vec_id").alias("query_id"), F.col("cid").alias("cell")
        )
    )
    cand = _probed(cells, probes_all).select(
        "n_probes",
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cos6("qv", "qnrm", "v", "nrm").alias("cos"),
    )
    ivf_top = (
        top_rows(cand, TOP_K, "n_probes", "query_id")
        .select("n_probes", "query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    exact_top = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    per_q = (
        exact_top.crossJoin(F.broadcast(pdim))
        .join(ivf_top, ["n_probes", "query_id", "neighbor_id"], "left")
        .groupBy("n_probes", "query_id")
        .agg(F.count("hit").cast("long").alias("hits"))
    )
    return per_q.groupBy("n_probes").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg(F.col("hits") / float(TOP_K)), 6).alias("mean_recall"),
        F.round(F.min(F.col("hits") / float(TOP_K)), 6).alias("min_recall"),
    )


# ---------------------------------------------------------------------------
# U5e (r10) — MMR diversified top-k (Carbonell & Goldstein 1998): the
# retrieval PRODUCT feature the plain top-k tiers lack — near-duplicate
# neighbors crowd a result page, so select greedily by
# score = lam*rel(q,d) - (1-lam)*max_{s in S} sim(d,s). The whole greedy
# loop is a static dataflow (fixed k, candidate pool from the exact tier),
# so every selection round sits under the driver hash via unrolled CTEs —
# the text_logreg_train/G3 pattern applied to a retrieval policy.
# Determinism: rel and all pairwise sims are 6-dp-rounded BEFORE the
# policy; the score is computed from rounded inputs in one pinned op
# order and rounded at SEVEN dp, not six — lam*rel - (1-lam)*mx of
# 6-dp-grid inputs lands on the 7-dp grid, whose points sit EXACTLY on
# 6-dp half-boundaries where Spark (HALF_UP on the decimal expansion)
# and DuckDB (half-even) disagree (caught live at sf0.01: 0.26004 vs
# 0.260039). 7-dp grid points round to themselves under the engines'
# 1-2 ulp product differences, so the 7-dp score is bit-identical.
# Every argmax is vec_id-tiebroken on the rounded score.
# ---------------------------------------------------------------------------

_MMR_K = 5
_MMR_POOL = 20
_MMR_LAM = 0.7


def _mmr_oracle(k: int, pool: int, lam: float) -> str:
    one_m = round(1.0 - lam, 6)
    steps = [
        f"""s1 AS MATERIALIZED (
      SELECT query_id, vec_id, rel, round({lam!r} * rel, 7) AS score,
             1 AS rnk
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY round({lam!r} * rel, 7) DESC, vec_id
        ) AS rn FROM cand
      ) WHERE rn = 1
    ), sel1 AS MATERIALIZED (SELECT query_id, vec_id FROM s1)"""
    ]
    for j in range(2, k + 1):
        steps.append(
            f"""s{j} AS MATERIALIZED (
      SELECT query_id, vec_id, rel, score, {j} AS rnk FROM (
        SELECT c.query_id, c.vec_id, c.rel,
               round({lam!r} * c.rel - {one_m!r} * ms.mx, 7) AS score,
               row_number() OVER (
                 PARTITION BY c.query_id
                 ORDER BY round({lam!r} * c.rel - {one_m!r} * ms.mx, 7)
                          DESC, c.vec_id
               ) AS rn
        FROM cand c
        JOIN (
          SELECT p.query_id, p.va, max(p.pcos) AS mx
          FROM pc p JOIN sel{j - 1} s
            ON p.query_id = s.query_id AND p.vb = s.vec_id
          GROUP BY 1, 2
        ) ms ON ms.query_id = c.query_id AND ms.va = c.vec_id
        WHERE NOT EXISTS (
          SELECT 1 FROM sel{j - 1} s2
          WHERE s2.query_id = c.query_id AND s2.vec_id = c.vec_id
        )
      ) WHERE rn = 1
    ), sel{j} AS MATERIALIZED (
      SELECT query_id, vec_id FROM sel{j - 1}
      UNION ALL SELECT query_id, vec_id FROM s{j}
    )"""
        )
    chain = ",\n    ".join(steps)
    picks = "\n      UNION ALL ".join(
        f"SELECT * FROM s{j}" for j in range(1, k + 1)
    )
    return f"""
    WITH {_DUCK_VEC}, cand AS MATERIALIZED (
      SELECT query_id, vec_id, rel FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
               round(list_sum(list_transform(generate_series(1, len(q.v)),
                              i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6)
                 AS rel,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_sum(list_transform(
                            generate_series(1, len(q.v)),
                            i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6)
                          DESC, c.vec_id
               ) AS rnk
        FROM n q JOIN n c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {pool}
    ), pc AS MATERIALIZED (
      SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
             round(list_sum(list_transform(generate_series(1, len(x.v)),
                            i -> x.v[i] * y.v[i])) / (x.nrm * y.nrm), 6)
               AS pcos
      FROM cand a
      JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
      JOIN n x ON x.vec_id = a.vec_id
      JOIN n y ON y.vec_id = b.vec_id
    ),
    {chain}
    SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id, rel, score
    FROM ({picks})
    """


@register(
    "sim_mmr_diversify",
    oracle=_mmr_oracle(_MMR_K, _MMR_POOL, _MMR_LAM),
    survey="U5e,U5,E1",
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{_MMR_K} per query over a top-{_MMR_POOL}
    exact candidate pool: greedy argmax of
    lam*rel - (1-lam)*max-sim-to-selected, vec_id tie-break.

    Plan shape: the pool comes from the exact block tier (swap for the
    IVF index at 100 TB — candidate generation is a parameter, the
    policy is unchanged); the pool and its pairwise-sim frame are
    query-bounded (pool^2 per query, never corpus-sized), and each of
    the {_MMR_K} greedy rounds is one join + one argmax window over
    those bounded frames."""
    cand, pc = _mmr_pool(spark, sf_dir)
    return mmr_select(cand, pc, _MMR_K, _MMR_LAM)


def _mmr_pool(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The exact-tier candidate pool and its pairwise-sim frame, both
    materialized: each is pool-bounded and read twice per greedy round."""
    em = load_table(spark, sf_dir, "embeddings")
    corpus = _norm_vec(em)
    ids = _vectors(em)
    # eager materialize, not persist: the greedy loop references this
    # frame 2x per round — truncating the lineage keeps round plans
    # constant-size (the pagerank/LPA convention) and the frame is
    # pool-bounded (queries x pool rows), so materialization is free
    cand = materialize(
        block_topk(ids, _MMR_POOL, ids.filter(F.col("id") < N_QUERIES)).select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("vec_id"),
            F.col("cos").alias("rel"),
        )
    )

    def pool(x: str) -> DataFrame:  # (query_id, vx, xv, xnrm)
        return cand.select("query_id", F.col("vec_id").alias("v" + x)).join(
            corpus.select(
                F.col("vec_id").alias("v" + x),
                F.col("v").alias(x + "v"),
                F.col("nrm").alias(x + "nrm"),
            ),
            "v" + x,
        )

    pc = materialize(  # pool^2-bounded, like cand
        pool("a")
        .join(pool("b"), "query_id")
        .where(F.col("va") != F.col("vb"))
        .select("query_id", "va", "vb", cos6("av", "anrm", "bv", "bnrm").alias("pcos"))
    )
    return cand, pc


def mmr_select(
    cand: DataFrame,
    pc: DataFrame,
    k: int,
    lam: float,
) -> DataFrame:
    """The greedy MMR policy over a (query_id, vec_id, rel) pool and its
    (query_id, va, vb, pcos) pairwise-sim frame — candidate-generation
    agnostic (the exact tier feeds it at gate scale, the IVF index at
    100 TB). The selected set is materialized after every round."""
    one_m = round(1.0 - lam, 6)
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    sel = (
        cand.withColumn("score", F.round(F.lit(lam) * F.col("rel"), 7))
        .withColumn("rn", F.row_number().over(w1))
        .filter("rn = 1")
        .select("query_id", "vec_id", "rel", "score", F.lit(1).alias("rnk"))
    )
    for j in range(2, k + 1):
        ms = (
            pc.join(
                sel.select("query_id", F.col("vec_id").alias("vb_sel")),
                ["query_id"],
            )
            .where(F.col("vb") == F.col("vb_sel"))
            .groupBy("query_id", "va")
            .agg(F.max("pcos").alias("mx"))
        )
        remaining = cand.join(
            sel.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
        )
        pick = (
            remaining.join(
                ms,
                (remaining.query_id == ms.query_id)
                & (remaining.vec_id == ms.va),
            )
            .select(remaining.query_id, "vec_id", "rel", "mx")
            .withColumn(
                "score",
                F.round(
                    F.lit(lam) * F.col("rel") - F.lit(one_m) * F.col("mx"), 7
                ),
            )
            .withColumn("rn", F.row_number().over(w1))
            .filter("rn = 1")
            .select(
                "query_id", "vec_id", "rel", "score", F.lit(j).alias("rnk")
            )
        )
        # checkpoint the selected set per round (the LPA labels
        # convention): sel feeds TWO consumers next round (the max-sim
        # aggregate and the anti-join) and chains round-over-round — left
        # lazy, each pick's plan would re-embed every earlier round's
        # plan and analysis cost would grow quadratically in k
        sel = materialize(sel.unionByName(pick))
    return sel.select(
        "query_id", F.col("rnk").cast("int").alias("rnk"), "vec_id", "rel", "score"
    )
