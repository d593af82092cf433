"""Training-data pipeline operators over ``documents`` / ``embeddings`` —
the corpus-preparation surface a 100 TB LLM data pipeline runs between raw
ingest and training: deterministic splits, stratified sampling, the
C4-style clean/dedup gate, and embedding compression.

Everything is pure Column expressions (JVM, codegen): the only shuffles are
the per-key windows (dedup keep-first, per-language sample), each keyed on
a bounded-cardinality or hash-distributed column. Determinism matters more
than randomness here — re-running the pipeline on the same corpus must
yield the same split/sample (reproducible training sets), so "random" is
md5 of the stable document id, never rand().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ssidentity_spark.io import load_table, spread
from ssidentity_spark.operators.iterate import materialize
from ssidentity_spark.plans.dedup import (
    _lsh_pairs_sql_ctes,
    _minhash_agg_sql,
    _minhash_sql_shingles,
)
from ssidentity_spark.plans.text import _STOPWORDS
from ssidentity_spark.registry import register

# hex-prefix thresholds over md5(doc_id): 0x00-0xe5 train (~89.8%),
# 0xe6-0xf2 val (~5.1%), 0xf3-0xff test (~5.1%). String comparison on the
# first two hex chars is engine-portable (no integer-parsing builtins
# needed) and uniform because md5 is.
_TRAIN_LT = "e6"
_VAL_LT = "f3"


def _doc_hash():
    return F.md5(F.col("doc_id").cast("string"))


def _split_of(key):
    """THE split rule: md5-prefix of ``key`` against the train/val/test
    thresholds. One definition shared by the doc-level splitter, the
    split-dependent pipeline stages, and the cluster-level leak-safe
    splitter — a rule change (hash, prefix width, a fourth split) lands
    everywhere at once or nowhere (r9 review)."""
    prefix = F.substring(F.md5(key.cast("string")), 1, 2)
    return (
        F.when(prefix < _TRAIN_LT, "train")
        .when(prefix < _VAL_LT, "val")
        .otherwise("test")
        .alias("split")
    )


# ---------------------------------------------------------------------------
# Shared corpus expressions — the ONE definition of tokenization, the
# content fingerprint, the quality gate, and the word-n-gram hashes. The
# streaming intake (streaming/corpus.py) imports these, so stream ≡ batch
# parity is held by construction instead of by hand-synchronized copies
# of the same Column expressions (r7 review).
# ---------------------------------------------------------------------------

_MIN_WORDS, _MAX_WORDS = 5, 1000
_STOP_LO, _STOP_HI = 0.01, 0.6
_GRAM_N = 5


def doc_words(col="text"):
    """Lowercased whitespace tokenization — the corpus word array."""
    return F.split(F.lower(col), r"\s+")


def doc_fingerprint(col="text"):
    """Whitespace-normalized content fingerprint for exact dedup."""
    return F.md5(F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "))


def stop_ratio_expr(w):
    """Stopword fraction of a word-array Column."""
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    return (
        F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast("double")
        / F.size(w)
    )


def quality_ok_expr(w):
    """The C4-style quality gate: length bounds + stopword-ratio band."""
    return F.size(w).between(_MIN_WORDS, _MAX_WORDS) & stop_ratio_expr(w).between(
        _STOP_LO, _STOP_HI
    )


def gram_hashes_expr(w, n: int = _GRAM_N):
    """md5 hashes of all word-n-grams; short documents yield an empty
    array (guarded — Spark's sequence(1, 0) would count DOWN)."""
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(w, i, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# EXT-pipeline — deterministic train/val/test split
# ---------------------------------------------------------------------------


@register(
    "pipe_split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_LT}'
                  THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VAL_LT}'
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    survey="EXT-pipeline,D7",
)
def pipe_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split: a narrow map, zero shuffles. The split follows the
    document wherever it is processed (any executor recomputes the same
    assignment from doc_id alone), so train/test separation survives
    repartitioning, backfills, and incremental corpus growth — unlike
    rand()-based splits, which leak across reruns."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", _split_of(F.col("doc_id")))


# ---------------------------------------------------------------------------
# EXT-pipeline — stratified per-language sample
# ---------------------------------------------------------------------------

_SAMPLE_PER_LANG = 20


@register(
    "pipe_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
      FROM documents
    ) WHERE rk <= {_SAMPLE_PER_LANG}
    """,
    survey="EXT-pipeline,W1",
)
def pipe_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-quota stratified sample: rank documents inside each language
    by their id hash (a deterministic uniform shuffle) and keep the first
    N. One shuffle on ``lang``; per-language state is a single counter, so
    skewed strata stream through without materializing. For
    fraction-quotas at scale, the same hash can threshold directly
    (``hash < frac``) with no window at all — this query keeps the exact-N
    variant the oracle can mirror."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_doc_hash())
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _SAMPLE_PER_LANG)
    )


# ---------------------------------------------------------------------------
# EXT-pipeline — C4-style clean/dedup verdict per document
# ---------------------------------------------------------------------------


@register(
    "pipe_docs_clean",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(text), '\\s+') AS w,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
      FROM documents
    ), r AS (
      SELECT doc_id, w,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS dup_rank
      FROM t
    )
    SELECT doc_id,
           CASE WHEN dup_rank > 1 THEN 'dup'
                WHEN len(w) < {_MIN_WORDS} THEN 'short'
                WHEN len(w) > {_MAX_WORDS} THEN 'long'
                WHEN CAST(len(list_filter(w, x -> list_contains({list(_STOPWORDS)}, x)))
                          AS DOUBLE) / len(w) NOT BETWEEN {_STOP_LO} AND {_STOP_HI}
                  THEN 'quality'
                ELSE 'ok' END AS verdict
    FROM r
    """,
    survey="EXT-pipeline,EXT-dedup,U6",
)
def pipe_docs_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleanup gate as ONE pass: normalized-text exact dedup
    (keep-first by doc_id), length bounds, and stopword-ratio quality in a
    single verdict column, so a 100 TB corpus is scanned once and shuffled
    once (on the content fingerprint) instead of once per filter stage.
    Downstream stages filter ``verdict = 'ok'``; the labeled rejects are
    the audit trail quality iteration needs (how much did each gate cut?).
    """
    d = load_table(spark, sf_dir, "documents")
    w = doc_words()
    ranked = d.select(
        "doc_id",
        F.size(w).alias("n_words"),
        stop_ratio_expr(w).alias("stop_ratio"),
        F.row_number()
        .over(Window.partitionBy(doc_fingerprint()).orderBy("doc_id"))
        .alias("dup_rank"),
    )
    verdict = (
        F.when(F.col("dup_rank") > 1, "dup")
        .when(F.col("n_words") < _MIN_WORDS, "short")
        .when(F.col("n_words") > _MAX_WORDS, "long")
        .when(
            ~F.col("stop_ratio").between(_STOP_LO, _STOP_HI), "quality"
        )
        .otherwise("ok")
    )
    return ranked.select("doc_id", verdict.alias("verdict"))


# ---------------------------------------------------------------------------
# EXT-pipeline — int8 embedding quantization (compression + error audit)
# ---------------------------------------------------------------------------


@register(
    "pipe_embed_quantize",
    oracle="""
    WITH t AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS s,
             len(embedding) AS dim
      FROM embeddings
    )
    SELECT vec_id,
           round(CAST(s AS DOUBLE), 6) AS scale,
           CASE WHEN s > 0 THEN CAST(list_aggregate(
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / s) AS BIGINT)),
                  'sum') AS BIGINT)
                ELSE 0 END AS q_checksum,
           CASE WHEN s > 0 THEN round(list_aggregate(
                  list_transform(embedding,
                    x -> (CAST(x AS DOUBLE)
                          - round(CAST(x AS DOUBLE) * 127.0 / s) * s / 127.0) ** 2),
                  'sum') / dim, 9)
                ELSE 0.0 END AS mse
    FROM t
    """,
    survey="EXT-pipeline,U5,D7",
)
def pipe_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization, the standard 4× shrink before
    ANN indexing: per-vector absmax scale, codes = round(x*127/scale).
    All array math is native transform/aggregate (JVM codegen — no Python,
    no shuffle; at 100 TB this is a narrow rewrite of the embedding
    column). The query audits the compression instead of shipping the code
    arrays (driver contract: no array outputs): an exact integer checksum
    of the codes pins the quantizer bit-for-bit across engines, and the
    per-vector reconstruction MSE is the quality metric a pipeline would
    alert on. Integer checksum is order-exact; MSE rounds at 1e-9 with
    terms ~1e-23 apart, so cross-engine summation order cannot move it."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    xd = lambda x: x.cast("double")  # noqa: E731
    # materialize the absmax scale `s` BEFORE the per-element lambdas: CSE
    # does not reach inside lambda bodies, so `x * 127.0 / s` with s as a
    # raw array_max expression re-reduced the whole vector per element —
    # O(dim²) per row (see SCALE.md r4, lambda-CSE)
    t = e.select(
        "vec_id",
        emb,
        F.array_max(F.transform(emb, lambda x: F.abs(xd(x)))).alias("s"),
    )
    s = F.col("s")
    dim = F.size(emb)
    qsum = F.aggregate(
        F.transform(emb, lambda x: F.round(xd(x) * 127.0 / s).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    sq_err = F.aggregate(
        F.transform(
            emb,
            lambda x: F.pow(xd(x) - F.round(xd(x) * 127.0 / s) * s / 127.0, F.lit(2)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return t.select(
        "vec_id",
        F.round(s.cast("double"), 6).alias("scale"),
        F.when(s > 0, qsum).otherwise(F.lit(0).cast("bigint")).alias("q_checksum"),
        F.when(s > 0, F.round(sq_err / dim, 9)).otherwise(0.0).alias("mse"),
    )


# ---------------------------------------------------------------------------
# EXT-pipeline — benchmark decontamination (r4): flag corpus documents that
# share word 5-grams with a held-out evaluation set. The train-on-test leak
# detector every LLM pipeline runs before training (n-gram overlap is the
# standard check, e.g. GPT-3 App. C / PaLM App. D style).
# ---------------------------------------------------------------------------

# benchmark stand-in: doc_id % 17 == 3 (deterministic ~6% of the corpus —
# chosen so the corpus's planted near-dup structure actually produces
# contamination hits at every SF: 5/3/152 docs at sf0.001/0.01/0.1)
_BENCH_MOD = 17
_BENCH_REM = 3


@register(
    "pipe_decontaminate",
    bench=True,
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(w) - {_GRAM_N - 1}, 0)),
               i -> md5(array_to_string(list_slice(w, i, i + {_GRAM_N - 1}), ' '))
             )) AS gram
      FROM w
    ), bench AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = {_BENCH_REM}
    ), corpus AS (
      SELECT DISTINCT doc_id, gram FROM g
      WHERE doc_id % {_BENCH_MOD} <> {_BENCH_REM}
    ), shared AS (
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM corpus c JOIN bench b ON c.gram = b.gram
      GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_shared, 0) AS n_shared,
           COALESCE(s.n_shared, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id
    WHERE d.doc_id % {_BENCH_MOD} <> {_BENCH_REM}
    """,
    survey="EXT-pipeline,J3,A6",
)
def pipe_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by word-5-gram overlap.

    Scale shape: the benchmark side is eval-set-sized → its distinct gram
    table broadcasts; the corpus side is one explode + one distinct + one
    equi-join on the gram hash + one groupBy — all keyed shuffles on
    hash-distributed keys, never O(corpus × benchmark). Gram keys are md5
    strings so both engines bucket identically. Documents shorter than 5
    words produce no grams (guarded — Spark's sequence(1, 0) would count
    DOWN) and come out clean.
    """
    d = load_table(spark, sf_dir, "documents")
    # split once into a materialized array (lambda bodies defeat CSE —
    # slicing the raw split expression would re-split per gram); spread
    # first — the split + gram-hash explode is rows × per-row work, and a
    # small documents file scans as ONE partition (io.spread is a no-op
    # once the scan is byte-wide)
    t = spread(d.select("doc_id", "text")).select("doc_id", doc_words().alias("w"))
    g = t.select("doc_id", F.explode(gram_hashes_expr(F.col("w"))).alias("gram"))
    is_bench = F.col("doc_id") % _BENCH_MOD == _BENCH_REM
    bench = g.filter(is_bench).select("gram").distinct()
    corpus = g.filter(~is_bench).distinct()
    shared = (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        d.filter(~is_bench)
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# EXT-pipeline — domain mixing (r4): deterministic source-weighted
# downsampling. Training mixes re-weight domains (keep 100% of curated
# sources, a fraction of crawl-grade ones); the keep decision must be a
# pure function of (doc_id, source) so the mix is reproducible and
# shuffle-free, exactly like pipe_split_assign.
# ---------------------------------------------------------------------------

# even-numbered sources are "curated" (keep all); odd are "crawl" (keep the
# md5 hex-prefix slice below 0x40 ≈ 25%)
_CRAWL_KEEP_LT = "40"


@register(
    "pipe_domain_mix",
    oracle=f"""
    WITH tagged AS (
      SELECT source,
             TRY_CAST(substr(source, 4) AS INTEGER) % 2 = 0 AS curated,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_CRAWL_KEEP_LT}'
               AS in_slice
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN curated OR in_slice THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM tagged GROUP BY source
    """,
    survey="EXT-pipeline,A6,D7",
)
def pipe_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mix: narrow per-row keep decision (no shuffle
    until the audit aggregation), id-hash-sliced so reruns and backfills
    keep exactly the same documents. Output is the per-source audit a
    pipeline would alert on (kept counts vs targets)."""
    d = load_table(spark, sf_dir, "documents")
    # to-end-of-string slice, same as the oracle's substr(source, 4) —
    # a bounded-length substring would silently diverge on long suffixes;
    # try_cast matches the oracle's TRY_CAST: NULL on a non-numeric
    # suffix instead of an ANSI CAST_INVALID_INPUT crash (Spark 4 default)
    curated = F.expr("try_cast(substring(source, 4) AS int)") % 2 == 0
    in_slice = F.substring(_doc_hash(), 1, 2) < _CRAWL_KEEP_LT
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(curated | in_slice, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# EXT-pipeline capstone — the whole intake pipeline as ONE declarative
# plan: quality/dedup gate → benchmark decontamination → deterministic
# split assignment. Each stage is individually hash-verified above
# (pipe_docs_clean / pipe_decontaminate / pipe_split_assign); this query
# verifies their COMPOSITION — filter ordering, the survivors-only gram
# scan, and the anti-join — under the same driver gate.
# ---------------------------------------------------------------------------


@register(
    "pipe_end_to_end",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(text), '\\s+') AS w,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ), r AS (
      SELECT doc_id, w,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS dup_rank
      FROM t
    ), ok AS (
      SELECT doc_id, w FROM r
      WHERE dup_rank = 1
        AND len(w) BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
        AND CAST(len(list_filter(w, x -> list_contains({list(_STOPWORDS)}, x)))
                 AS DOUBLE) / len(w) BETWEEN {_STOP_LO} AND {_STOP_HI}
    ), bench AS (
      SELECT DISTINCT unnest(list_transform(
               generate_series(1, greatest(len(w) - {_GRAM_N - 1}, 0)),
               i -> md5(array_to_string(list_slice(w, i, i + {_GRAM_N - 1}), ' '))
             )) AS gram
      FROM t WHERE doc_id % {_BENCH_MOD} = {_BENCH_REM}
    ), corpus AS (
      SELECT doc_id, w FROM ok WHERE doc_id % {_BENCH_MOD} <> {_BENCH_REM}
    ), cg AS (
      SELECT DISTINCT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(w) - {_GRAM_N - 1}, 0)),
               i -> md5(array_to_string(list_slice(w, i, i + {_GRAM_N - 1}), ' '))
             )) AS gram
      FROM corpus
    ), contaminated AS (
      SELECT DISTINCT cg.doc_id FROM cg JOIN bench ON cg.gram = bench.gram
    )
    SELECT c.doc_id,
           CASE WHEN substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_LT}'
                  THEN 'train'
                WHEN substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 2) < '{_VAL_LT}'
                  THEN 'val'
                ELSE 'test' END AS split,
           CAST(len(c.w) AS INTEGER) AS n_words
    FROM corpus c LEFT JOIN contaminated ct ON c.doc_id = ct.doc_id
    WHERE ct.doc_id IS NULL
    """,
    survey="EXT-pipeline,EXT-dedup,J3,X1,X3,X5",
)
def pipe_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean → decontaminate → split, composed: survivors of the quality
    /dedup gate (non-benchmark slice) that share no word-5-gram with the
    held-out eval set, each carrying its deterministic hash-split.

    Scale shape of the composition: ONE corpus scan feeds the
    fingerprint window and the downstream gram explode (the gate runs
    BEFORE gram generation, so rejected documents never pay the
    explode); the bench gram table stays eval-set-sized and broadcasts
    into the probe join; contamination removal is a doc-keyed anti-join;
    the split is a narrow map. Total: two keyed shuffles (fingerprint,
    gram) plus the broadcast — the same budget as the worst single
    stage, not the sum of all three."""
    d = load_table(spark, sf_dir, "documents")
    w = doc_words()
    ranked = d.select(
        "doc_id",
        w.alias("w"),
        F.size(w).alias("n_words"),
        stop_ratio_expr(w).alias("stop_ratio"),
        F.row_number()
        .over(Window.partitionBy(doc_fingerprint()).orderBy("doc_id"))
        .alias("dup_rank"),
    )
    ok = ranked.filter(
        (F.col("dup_rank") == 1)
        & F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
        & F.col("stop_ratio").between(_STOP_LO, _STOP_HI)
    )
    grams = gram_hashes_expr(F.col("w"))
    is_bench = F.col("doc_id") % _BENCH_MOD == _BENCH_REM
    bench_grams = (
        d.select("doc_id", doc_words().alias("w"))
        .filter(is_bench)
        .select(F.explode(grams).alias("gram"))
        .distinct()
    )
    corpus = ok.filter(~is_bench)
    contaminated = (
        corpus.select("doc_id", F.explode(grams).alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    return (
        corpus.join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            _split_of(F.col("doc_id")),
            F.col("n_words").cast("int").alias("n_words"),
        )
    )


@register(
    "pipe_weighted_sample",
    # Priority sampling (Duffield–Lund–Thorup): priority q_i = w_i/u_i,
    # keep the k largest ⇔ keep the k SMALLEST u_i/w_i. u_i is the
    # md5-of-doc_id 60-bit slice — deterministic, reproducible, and the
    # sort key uses ONLY +,*,/ on doubles (IEEE-exact, so both engines
    # compute the same bit pattern; no transcendentals whose libm
    # rounding could flip a boundary row). doc_id tiebreaker pins the
    # order fully. The oracle replays the identical arithmetic.
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) + 1 AS DOUBLE) / n_chars AS inv_priority
      FROM documents WHERE n_chars > 0
    )
    ORDER BY inv_priority ASC, doc_id ASC
    LIMIT 200
    """,
    survey="X2,O2",
)
def pipe_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional corpus sampling without replacement: longer
    (higher-weight) documents are more likely kept, inclusion probability
    ≈ min(1, k·w/ΣW) — the importance-sampling step that up-weights
    high-quality documents when shrinking a 100 TB corpus to a training
    budget. Plan shape: no global sort — ORDER BY + LIMIT compiles to
    TakeOrderedAndProject (per-partition top-k, driver merges k rows per
    partition); the Horvitz–Thompson estimator property is pinned in
    tests/test_sampling.py."""
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(_doc_hash(), 1, 15), 16, 10).cast("long") + 1
    ).cast("double")
    return (
        d.withColumn("inv_priority", u / F.col("n_chars"))
        .orderBy(F.col("inv_priority").asc(), F.col("doc_id").asc())
        .select("doc_id", "lang", "n_chars")
        .limit(200)
    )


@register(
    "pipe_pack_sequences",
    # Packing under the gate: the boundary map is pure integer window
    # arithmetic over a deterministic (md5, doc_id) order, so both
    # engines must agree on every doc's every sequence span EXACTLY —
    # a wrong cumsum frame, a one-off at a chunk boundary, or a
    # non-deterministic order all break the hash.
    oracle=r"""
    WITH t AS (
      SELECT doc_id, md5(text) AS m,
             CAST(doc_id % 16 AS INTEGER) AS bucket,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), nz AS (
      SELECT * FROM t WHERE n_tokens > 0
    ), o AS (
      SELECT bucket, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY m, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS s
      FROM nz
    ), u AS (
      SELECT bucket, doc_id, n_tokens, s,
             unnest(range(s // 512, (s + n_tokens - 1) // 512 + 1)) AS seq_no
      FROM o
    )
    SELECT bucket, CAST(seq_no AS BIGINT) AS seq_no, doc_id,
           greatest(0, seq_no * 512 - s) AS doc_from,
           least(n_tokens, (seq_no + 1) * 512 - s) AS doc_to,
           greatest(0, s - seq_no * 512) AS seq_offset
    FROM u
    """,
    survey="X1,W3,O2",
    bench=True,  # r7 headliner: the bucketed cumsum-window + bounded
    # explode shape (seeds its baseline this round)
)
def pipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the documents corpus into 512-token training sequences
    (16 parallel bucket streams, GPT-style concat-and-chunk) and return
    the doc↔sequence boundary map — the reproducible physical batching
    between the corpus pipeline and a trainer. See
    operators/packing.py for the 100 TB design notes."""
    from ssidentity_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=512, n_buckets=16)


def _tokenize_pack_oracle(seq_len: int, n_buckets: int) -> str:
    """Compose the BPE tokenize oracle's CTE chain (everything up to its
    final per-doc aggregation) with the packing window arithmetic —
    literally the pretraining data path (train tokenizer → tokenize →
    pack) replayed in SQL."""
    from ssidentity_spark.plans.text import _BPE_TOKENIZE_ORACLE

    ctes = _BPE_TOKENIZE_ORACLE[: _BPE_TOKENIZE_ORACLE.rindex("SELECT doc_id,")]
    return (
        ctes
        + f""", counts AS (
      SELECT doc_id,
             CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT) AS n_tokens
      FROM applied GROUP BY doc_id
    ), pt AS (
      SELECT c.doc_id, md5(d.text) AS m,
             CAST(c.doc_id % {n_buckets} AS INTEGER) AS bucket, c.n_tokens
      FROM counts c JOIN documents d ON c.doc_id = d.doc_id
      WHERE c.n_tokens > 0
    ), po AS (
      SELECT bucket, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY m, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS s
      FROM pt
    ), pu AS (
      SELECT bucket, doc_id, n_tokens, s,
             unnest(range(s // {seq_len}, (s + n_tokens - 1) // {seq_len} + 1))
               AS seq_no
      FROM po
    )
    SELECT bucket, CAST(seq_no AS BIGINT) AS seq_no, doc_id,
           greatest(0, seq_no * {seq_len} - s) AS doc_from,
           least(n_tokens, (seq_no + 1) * {seq_len} - s) AS doc_to,
           greatest(0, s - seq_no * {seq_len}) AS seq_offset
    FROM pu
    """
    )


_PACK_SEQ_LEN = 256
_PACK_BUCKETS = 8


@register(
    "pipe_tokenize_pack",
    # THE pretraining data path as one composed, hash-gated plan: BPE
    # training and tokenization feed REAL token counts into the packing
    # arithmetic — a drift anywhere in the trainer, the merge apply, the
    # token count, or the boundary math breaks the hash.
    oracle=_tokenize_pack_oracle(_PACK_SEQ_LEN, _PACK_BUCKETS),
    survey="U6,X1,W3",
)
def pipe_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the 6-merge BPE tokenizer on the corpus, tokenize every
    document with it, and pack the resulting REAL token counts into
    256-token training sequences (8 bucket streams) — the end-to-end
    tokenize→pack composition a trainer consumes, with the doc↔sequence
    boundary map as the audit trail."""
    from ssidentity_spark.operators.bpe import (
        bpe_apply,
        bpe_train,
        token_count,
        word_vocab,
    )
    from ssidentity_spark.operators.packing import pack_token_counts
    from ssidentity_spark.plans.text import _BPE_K

    docs = load_table(spark, sf_dir, "documents")
    vocab = word_vocab(docs.select("text"))
    _table, merges = bpe_train(spark, vocab, k=_BPE_K)

    w = F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    doc_words = docs.select("doc_id", w).where(
        F.col("word").rlike("^[a-z]+$") & (F.length("word") <= 12)
    )
    spaced = F.concat(
        F.lit(" "), F.regexp_replace("word", "(.)", "$1  "), F.lit("</w> ")
    )
    counts = (
        doc_words.select(
            "doc_id", token_count(bpe_apply(spaced, merges)).alias("n_tok")
        )
        .groupBy("doc_id")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
        .join(
            docs.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("m")),
            "doc_id",
        )
    )
    return pack_token_counts(
        counts, seq_len=_PACK_SEQ_LEN, n_buckets=_PACK_BUCKETS
    )


@register(
    "pipe_global_row_ids",
    # The scale-correct global numbering under the gate: with a UNIQUE
    # order key a row's id equals the number of rows ordered before it,
    # independent of range-boundary placement — so the two-phase Spark
    # formulation must agree exactly with the oracle's single
    # row_number() (which DuckDB can afford; Spark at 100 TB cannot).
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY md5(text), doc_id) - 1
                AS BIGINT) AS row_id
    FROM documents
    """,
    survey="O1,W1,X1",
)
def pipe_global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 0-based example ids for the training manifest, in
    content-addressed (md5, doc_id) order — assigned with the two-phase
    range-partition + per-partition-rank + offset-join formulation
    (operators/rowids.py), never a global single-partition window."""
    from ssidentity_spark.operators.rowids import assign_global_ids

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.encode("text", "UTF-8")).alias("m")
    )
    # deterministic ordered buckets: the first two hex chars of the md5
    # sort key — bucket(a) < bucket(b) implies m_a < m_b, no sampling
    return assign_global_ids(
        d, ["m", "doc_id"], bucket=F.substring("m", 1, 2)
    ).select("doc_id", "row_id")


@register(
    "pipe_pii_redact",
    # The PII scrub under the hash gate: deterministic synthetic PII
    # (email, international phone, ipv4 — derived from doc_id so every
    # SF is non-vacuous) is salted into each document, then counted and
    # redacted. The oracle rebuilds the salted text and runs the SAME
    # ordered regex sequence in DuckDB's RE2 — the patterns are
    # restricted to the Java∩RE2 subset (functions/pii.py), so a scrub
    # that misses a span, over-matches, or applies replacements in a
    # different order breaks the hash on the redacted text itself.
    oracle="""
    WITH salted AS (
      -- coalesce BEFORE salting (both engines): a NULL text would
      -- otherwise null the whole salted string, making the oracle's
      -- counts/md5 NULL while Spark's pii_counts coalesces to 0
      SELECT doc_id,
             coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com at '
                  || '10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1'
                  || ' call +1415' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                           7, '0') AS t
      FROM documents
    ), counted AS (
      SELECT doc_id, t,
        len(regexp_extract_all(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
        len(regexp_extract_all(t,
          '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}')) AS n_card,
        len(regexp_extract_all(t, '\\+[0-9]{7,15}')) AS n_phone,
        len(regexp_extract_all(t,
          '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS n_ipv4
      FROM salted
    )
    SELECT doc_id,
           CAST(n_email AS INTEGER) AS n_email,
           CAST(n_card AS INTEGER) AS n_card,
           CAST(n_phone AS INTEGER) AS n_phone,
           CAST(n_ipv4 AS INTEGER) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
             'g'),
             '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}', '<CARD>', 'g'),
             '\\+[0-9]{7,15}', '<PHONE>', 'g'),
             '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
    FROM counted
    """,
    survey="X3,D7,U6",
)
def pipe_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/pii.py): count then redact emails, card
    numbers, international phones, and IPv4 addresses with a FIXED
    replacement order — all JVM Column regexes, one narrow pass, no
    shuffle. At 100 TB this is a map-only stage that composes with the
    clean/dedup pipeline; the hashed redacted text proves byte-exact
    scrub behavior, not just counts."""
    from ssidentity_spark.functions.pii import pii_counts, redact_pii

    d = load_table(spark, sf_dir, "documents")
    salted = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at "),
            F.lit("10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 call +1415"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 7, "0"),
        ).alias("t"),
    )
    counts = pii_counts(F.col("t"))
    return salted.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_card"].alias("n_card"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ipv4"].alias("n_ipv4"),
        F.md5(F.encode(redact_pii(F.col("t")), "UTF-8")).alias("redacted_md5"),
    )


@register(
    "pipe_pack_nosplit",
    # The no-split packing fold replayed as a RECURSIVE CTE: one
    # recursion step per bucket rank advances (bin, fill) through the
    # identical next-fit-decreasing recurrence, so the hash gate covers
    # the ORDER (len desc, md5, doc_id), the fit rule, the bin
    # advancement, and every doc's offset. Oversize docs (> seq_len)
    # are dropped on both engines (the 'drop' policy).
    oracle=r"""
    WITH RECURSIVE t AS (
      SELECT doc_id, md5(text) AS m,
             CAST(doc_id % 8 AS INTEGER) AS bucket,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
               AS n
      FROM documents
    ), nz AS (
      SELECT * FROM t WHERE n > 0 AND n <= 512
    ), d AS (
      SELECT bucket, doc_id, n,
             row_number() OVER (
               PARTITION BY bucket ORDER BY n DESC, m, doc_id) AS rn
      FROM nz
    ), f AS (
      SELECT bucket, rn, doc_id, n,
             CAST(0 AS BIGINT) AS bin, n AS fill, CAST(0 AS BIGINT) AS off
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.bucket, d.rn, d.doc_id, d.n,
             CASE WHEN f.fill + d.n <= 512 THEN f.bin ELSE f.bin + 1 END,
             CASE WHEN f.fill + d.n <= 512 THEN f.fill + d.n ELSE d.n END,
             CASE WHEN f.fill + d.n <= 512 THEN f.fill
                  ELSE CAST(0 AS BIGINT) END
      FROM f JOIN d ON d.bucket = f.bucket AND d.rn = f.rn + 1
    )
    SELECT bucket, CAST(bin AS BIGINT) AS seq_no, doc_id,
           CAST(n AS BIGINT) AS n_tokens, CAST(off AS BIGINT) AS seq_offset
    FROM f
    """,
    survey="X1,W3,U6",
)
def pipe_pack_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-SPLIT packing of the documents corpus into 512-token
    sequences (8 bucket streams): every document lands whole — the SFT
    constraint — via next-fit-decreasing (operators/packing.py:
    pack_nosplit). Returns one row per document with its sequence and
    offset; per-sequence fill is the groupBy audit."""
    from ssidentity_spark.operators.packing import pack_nosplit

    d = load_table(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        F.md5("text").alias("m"),
        F.size(F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return pack_nosplit(
        counts, seq_len=512, n_buckets=8, oversize="drop"
    )


# ---------------------------------------------------------------------------
# EXT-pipeline — temperature-based mixture rebalancing (the multilingual
# n^alpha sampling recipe): downweight dominant groups toward uniform.
# ---------------------------------------------------------------------------


@register(
    "pipe_temperature_mix",
    # Float-determinism discipline: the per-lang keep probability is
    # 0.5 * sqrt(n_max / n_lang) — division, sqrt and one multiply are
    # all IEEE correctly-rounded, identical operand order on both
    # engines, and there is deliberately NO cross-group float sum (a
    # sum's addition order is engine-chosen and its last ulp would flip
    # boundary docs). The probability becomes an exact integer
    # threshold against the first 6 hex chars of md5(doc_id) — the same
    # deterministic-slice idiom as pipe_split_assign — so the per-doc
    # verdicts (and the kept-id sums pinning them) hash bit-equal.
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    t AS (
      SELECT lang, n,
             CAST(least(floor(least(1.0,
                      0.5 * sqrt(CAST((SELECT max(n) FROM c) AS DOUBLE)
                                 / CAST(n AS DOUBLE)))
                      * 16777216), 16777215) AS BIGINT) AS thr
      FROM c
    ),
    dec AS (
      SELECT d.doc_id, d.lang, t.n, t.thr,
             substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
               <= printf('%06x', t.thr) AS kept
      FROM documents d JOIN t USING (lang)
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(max(thr) AS BIGINT) AS threshold,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_id_sum
    FROM dec GROUP BY lang
    """,
    survey="EXT-pipeline,A6",
)
def pipe_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling over the language mix (alpha = 0.5 on the
    relative ratios): the dominant language keeps 50%, every smaller one
    keeps 0.5 * sqrt(n_max / n) (capped at 1), flattening the mixture
    toward uniform — the public multilingual-pretraining rebalance,
    deterministic under reruns because the per-doc decision is an
    id-hash threshold, never a random draw. Output is the per-lang
    audit; kept_id_sum pins the exact membership under the hash.

    Scale shape: one tiny groupBy for counts (5 rows), a 5-row window
    for the max (no driver collect), broadcast join of thresholds back
    onto the corpus, one narrow map for the verdict, one audit
    aggregation. No corpus-sized shuffle beyond the audit."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    # lang-count frame is group-cardinality-sized (5 rows): the
    # unpartitioned window is bounded, not a scale trap
    nmax = F.max("n").over(Window.partitionBy(F.lit(1)))
    prob = F.least(
        F.lit(1.0),
        F.lit(0.5) * F.sqrt(nmax.cast("double") / F.col("n").cast("double")),
    )
    thr = F.least(
        F.floor(prob * F.lit(16777216)).cast("long"), F.lit(16777215)
    )
    t = counts.select("lang", "n", thr.alias("thr"))
    kept = F.substring(_doc_hash(), 1, 6) <= F.format_string("%06x", F.col("thr"))
    return (
        d.join(F.broadcast(t), "lang")
        .select("lang", "n", "thr", "doc_id", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_total"),
            F.max("thr").cast("long").alias("threshold"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("doc_id")).otherwise(F.lit(0)))
            .cast("long")
            .alias("kept_id_sum"),
        )
    )


@register(
    "pipe_token_budget",
    # Budgeted quality-ordered selection (r9): "spend a 30%-of-corpus
    # token budget on the best documents first" — the data-selection
    # step between scoring and training. The interesting part is the
    # GLOBAL PREFIX SUM: a row is kept iff the tokens of every
    # better-quality doc before it still leave room. The naive form is
    # a no-partitionBy running-total window (the single-partition trap);
    # the shipped form is the two-phase bucket cumulative sum
    # (operators/rowids.assign_running_total), and cum_before rides the
    # hash so the oracle verifies the prefix sums themselves, not just
    # the verdicts.
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), t AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             round(CAST(len(list_distinct(toks)) AS DOUBLE)
                   / greatest(len(toks), 1), 6) AS quality
      FROM w
    ), tot AS (
      SELECT CAST(floor(0.3 * sum(n_tokens)) AS BIGINT) AS budget FROM t
    ), c AS (
      SELECT doc_id, n_tokens, quality,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM t
    )
    SELECT c.doc_id, c.n_tokens, c.quality, c.cum_before,
           (c.cum_before + c.n_tokens <= tot.budget) AS kept
    FROM c CROSS JOIN tot
    """,
    survey="EXT-pipeline,X10,W3",
)
def pipe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents in (quality DESC, doc_id) order until a token
    budget (30% of the corpus) is spent: quality = unique-token ratio,
    a doc is kept iff the cumulative tokens of all docs ordered before
    it plus its own still fit.

    Scale shape: the global running total uses the two-phase bucket
    formulation — quality quantized to 17 monotone buckets
    (floor((1-q)*16)), intra-bucket windows run in parallel, bucket
    totals cumulate over 17 rows and broadcast back. The budget scalar
    is an aggregate cross-joined in (never collected to the driver).
    The naive ORDER BY-only window would serialize the corpus through
    one task — the exact trap operators/rowids.py exists to avoid."""
    from ssidentity_spark.operators.rowids import assign_running_total

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    base = (
        spread(d.select("doc_id", "text"))
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.round(
                F.size(F.array_distinct(toks))
                / F.greatest(F.size(toks), F.lit(1)),
                6,
            ).alias("quality"),
        )
        # THREE consumers (budget aggregate + the running total's
        # intra-bucket window and bucket-totals branches — the bucket=
        # path of assign_running_total deliberately skips its own
        # persist) — pin one materialization of the tokenize-and-score
        # pass (r9 review)
        .persist()
    )
    budget = base.agg(
        F.floor(0.3 * F.sum("n_tokens")).cast("long").alias("budget")
    )
    ranked = assign_running_total(
        base,
        order=[F.desc("quality"), F.asc("doc_id")],
        value_col="n_tokens",
        out_col="cum_before",
        # monotone in the DESC-quality order: equal quality -> one bucket
        bucket=F.floor((F.lit(1.0) - F.col("quality")) * 16).cast("int"),
    )
    return ranked.crossJoin(F.broadcast(budget)).select(
        "doc_id",
        "n_tokens",
        "quality",
        "cum_before",
        (F.col("cum_before") + F.col("n_tokens") <= F.col("budget")).alias(
            "kept"
        ),
    )


@register(
    "pipe_cluster_safe_split",
    # Leakage-safe splitting (r9): hash-splitting on doc_id puts
    # near-duplicate documents on BOTH sides of the train/test boundary
    # — the classic eval-leak. The fix is to assign the split at the
    # NEAR-DUP CLUSTER level: every member of a cluster inherits the
    # split of its cluster id, so a family of copies can never straddle
    # the boundary. Same recursive-CTE component fixpoint as the dedup
    # family; the `leak_safe` claim itself (doc's split == its cluster
    # canonical's split) rides the hash.
    oracle=f"""
    WITH RECURSIVE {_lsh_pairs_sql_ctes()}, edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(u, label) AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ), comp AS (
      SELECT u AS doc_id, min(label) AS cluster_id FROM reach GROUP BY u
    ), assigned AS (
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_TRAIN_LT}'
                  THEN 'train'
                WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_VAL_LT}'
                  THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """,
    survey="EXT-pipeline,EXT-dedup,X1",
)
def pipe_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level hash split: connected components over the LSH pair
    graph, then the md5-prefix split rule applied to the CLUSTER id —
    every near-dup family lands wholly in one split, so no test example
    has a train-side near-copy. Scale shape: the split itself stays a
    narrow map (md5 of a column); the only added cost over doc-level
    splitting is the component solve the dedup pipeline already runs —
    production shares one clustering between dedup and splitting."""
    from ssidentity_spark.operators.graph import connected_components
    from ssidentity_spark.plans.dedup import _spark_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    comp = connected_components(_spark_lsh_pairs(d), src="doc_a", dst="doc_b").select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    assigned = (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    return assigned.select(
        "doc_id", "cluster_id", _split_of(F.col("cluster_id"))
    )


_CHUNK_LEN = 64  # tokens per chunk
_CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@register(
    "pipe_chunk_documents",
    # RAG/embedding chunking (r9): split long documents into fixed-size
    # overlapping token windows with stable offsets — the inverse of
    # packing (packing concatenates docs toward a context length;
    # chunking splits docs toward an embedder's window). Chunk text md5
    # rides the hash, so an off-by-one in the stride/slice arithmetic on
    # EITHER engine breaks the gate.
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), n AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
      FROM w WHERE len(toks) > 0
    ), c AS (
      SELECT doc_id, n_toks,
             unnest(generate_series(0,
               CAST(greatest(ceil(CAST(n_toks - {_CHUNK_LEN} AS DOUBLE)
                                  / {_CHUNK_STRIDE}), 0) AS BIGINT))) AS chunk_id,
             toks
      FROM n
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS BIGINT) AS start_tok,
           CAST(least({_CHUNK_LEN}, n_toks - chunk_id * {_CHUNK_STRIDE})
                AS BIGINT) AS chunk_toks,
           md5(array_to_string(list_slice(toks,
                 chunk_id * {_CHUNK_STRIDE} + 1,
                 chunk_id * {_CHUNK_STRIDE} + {_CHUNK_LEN}), ' ')) AS chunk_md5
    FROM c
    """,
    survey="EXT-pipeline,U5,X8b",
)
def pipe_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking: 64-token (_CHUNK_LEN) windows at
    stride 48 (_CHUNK_STRIDE; 16-token overlap), one row per (doc, chunk)
    with the chunk's 1-based token offset, its true length (the tail
    chunk is shorter), and the md5 of its rebuilt text. Scale shape: a
    narrow map — tokenize once per doc, chunk count from arithmetic,
    one explode; no shuffle at all (chunking is embarrassingly
    parallel), so the stage extends whatever partitioning the corpus
    scan already has. The chunk id is derivable from (doc_id, offset),
    so downstream embedding tables join back without a global id
    pass."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    base = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", toks.alias("toks"))
        .withColumn("n_toks", F.size("toks").cast("long"))
        .where(F.col("n_toks") > 0)
    )
    n_extra = F.greatest(
        F.ceil((F.col("n_toks") - F.lit(_CHUNK_LEN)) / F.lit(_CHUNK_STRIDE)),
        F.lit(0),
    ).cast("long")
    chunks = base.select(
        "doc_id",
        "n_toks",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_extra)).alias(
            "chunk_id"
        ),
    )
    start = F.col("chunk_id") * _CHUNK_STRIDE + 1
    return chunks.select(
        "doc_id",
        "chunk_id",
        start.cast("long").alias("start_tok"),
        F.least(
            F.lit(_CHUNK_LEN).cast("long"),
            F.col("n_toks") - F.col("chunk_id") * _CHUNK_STRIDE,
        ).alias("chunk_toks"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("toks"), start.cast("int"), _CHUNK_LEN)
            )
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# X18 — expectations + quarantine (the declarative intake contract)
# ---------------------------------------------------------------------------

_EXP_RULES = [
    ("min_length", "n_chars >= 100", "drop"),
    ("known_lang", "lang IN ('en', 'de', 'fr', 'es')", "drop"),
    ("short_enough", "n_chars <= 400", "warn"),
]


@register(
    "pipe_expectations_quarantine",
    # DLT-style expectations under the gate: two drop rules + one warn
    # rule over documents; every row gets a verdict, the quarantined ones
    # carry the CSV of the named rules they violated (declaration order)
    # and warn names ride along without gating. The oracle re-evaluates
    # the same predicates in SQL, so the hash pins rule evaluation, the
    # NULL-as-violation convention, AND the name-ordering contract.
    # NULL mirror: the engine gates on ~coalesce(expr, false), i.e. a
    # rule that evaluates to NULL is a VIOLATION — the SQL twin is
    # `(expr) IS NOT TRUE`, never bare NOT (whose NULL would fall to the
    # ELSE branch and silently invert the convention on NULL rows)
    oracle="""
    SELECT doc_id,
           CASE WHEN (n_chars >= 100) IS NOT TRUE
                  OR (lang IN ('en', 'de', 'fr', 'es')) IS NOT TRUE
                THEN 'quarantined' ELSE 'ok' END AS verdict,
           COALESCE(array_to_string(list_filter(
             [CASE WHEN (n_chars >= 100) IS NOT TRUE THEN 'min_length' END,
              CASE WHEN (lang IN ('en', 'de', 'fr', 'es')) IS NOT TRUE
                   THEN 'known_lang' END],
             x -> x IS NOT NULL), ','), '') AS violated,
           CASE WHEN (n_chars <= 400) IS NOT TRUE THEN 'short_enough'
                ELSE '' END AS warned
    FROM documents
    """,
    survey="X18,EXT-pipeline,P12",
)
def pipe_expectations_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Named data-quality expectations with a quarantine side output
    (operators/expectations.py) — the reference's per-frame validation
    ladder (ssidentity.c:134-204) upgraded with the three things a 100 TB
    intake needs: rule NAMES (the audit trail), severities (warn/drop/
    fail), and rejected rows kept as data.

    Plan shape: rule evaluation is one narrow codegen map over the scan —
    no shuffle anywhere; valid/quarantine are two filters over the same
    annotated frame, re-unioned here only to present one gated result."""
    from ssidentity_spark.operators.expectations import apply_expectations

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    valid, quarantine, _stats = apply_expectations(d, _EXP_RULES)
    ok = valid.select(
        "doc_id", F.lit("ok").alias("verdict"), F.lit("").alias("violated"),
        "warned",
    )
    bad = quarantine.select(
        "doc_id", F.lit("quarantined").alias("verdict"), "violated", "warned"
    )
    return ok.unionByName(bad)


# ---------------------------------------------------------------------------
# X19 — deterministic sharded export (the training-loader handoff)
# ---------------------------------------------------------------------------

_SHARD_ROWS = 64


@register(
    "pipe_shard_export",
    # Sharded export under the gate: documents are hash-pseudo-shuffled
    # (md5 of doc_id), numbered by the two-phase global-id operator,
    # cut into 64-row shards, WRITTEN one-file-per-shard, and read BACK
    # from the export. The oracle recomputes the assignment as window
    # arithmetic; text_md5 rides the hash to prove payload integrity
    # through the write/read loop, and layout_ok pins the PHYSICAL claim
    # (in-file row position == pos_in_shard — a training loader can seek
    # by row).
    oracle=f"""
    WITH r AS (
      SELECT doc_id, md5(text) AS text_md5,
             row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS gid
      FROM documents
    )
    SELECT doc_id,
           CAST(gid // {_SHARD_ROWS} AS BIGINT) AS shard_id,
           CAST(gid % {_SHARD_ROWS} AS BIGINT) AS pos_in_shard,
           text_md5, TRUE AS layout_ok
    FROM r
    """,
    survey="X19,EXT-pipeline,X10",
)
def pipe_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size shard export (operators/export.py):
    hash-shuffled order, two-phase global ids (no single-partition
    window), one file per shard in logical row order — the layout a
    training loader consumes directly (epoch shuffle = shuffle the
    shard list; resume = seek (shard, row)).

    The returned frame reads the EXPORTED files, not the pipeline that
    wrote them — the gate verifies the on-disk artifact."""
    import os as _os
    import shutil as _shutil

    from ssidentity_spark.fixtures import SNAPSHOT_DIR
    from ssidentity_spark.operators.export import export_shards

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = _os.path.basename(_os.path.normpath(sf_dir))
    out = _os.path.join(SNAPSHOT_DIR, f"shard_export_{tag}")
    _shutil.rmtree(out, ignore_errors=True)
    sk = _doc_hash()
    export_shards(
        d.withColumn("_sk", sk),
        out,
        _SHARD_ROWS,
        ["_sk", "doc_id"],
        bucket=F.substring(F.col("_sk"), 1, 1),
    )
    back = spark.read.parquet(out)
    return back.select(
        "doc_id",
        F.col("shard_id").cast("bigint").alias("shard_id"),
        "pos_in_shard",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        (F.col("_metadata.row_index") == F.col("pos_in_shard")).alias(
            "layout_ok"
        ),
    )


# ---------------------------------------------------------------------------
# X21 — mixture-budgeted selection (r9): the op that BUILDS the training
# mix. X13 reweights sources (n^alpha temperature), X16 spends one global
# budget in quality order; a real mixture does both AT ONCE — each source
# gets its temperature share of the global token budget, spent on ITS
# best documents. Per-source budgets also kill the global-prefix-sum
# problem: every cumulative window is partitioned by source, so the plan
# parallelizes by construction (no two-phase machinery needed).
# ---------------------------------------------------------------------------

_MIX_ALPHA_BUDGET = 0.3  # global budget = 30% of corpus tokens


@register(
    "pipe_mixture_select",
    # sqrt is IEEE-correctly-rounded, so n_s^0.5 is bit-identical
    # cross-engine; the only float sums are the 20-row weight
    # normalizer and per-source cumulative token sums (exact integers).
    # kept-decision and budgets are integer comparisons.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), d AS (
      SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS n_tokens,
             round(CAST(len(list_distinct(w)) AS DOUBLE)
                   / greatest(len(w), 1), 6) AS quality
      FROM t WHERE len(w) > 0
    ), s AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_s FROM d GROUP BY 1
    ), tot AS (
      SELECT CAST(floor({_MIX_ALPHA_BUDGET} * sum(n_s)) AS BIGINT) AS g,
             round(sum(sqrt(CAST(n_s AS DOUBLE))), 6) AS z
      FROM s
    ), b AS (
      SELECT s.source,
             CAST(floor(tot.g * sqrt(CAST(s.n_s AS DOUBLE)) / tot.z)
                  AS BIGINT) AS budget_s
      FROM s CROSS JOIN tot
    ), c AS (
      SELECT d.doc_id, d.source, d.n_tokens, d.quality,
             CAST(COALESCE(sum(d.n_tokens) OVER (
               PARTITION BY d.source
               ORDER BY d.quality DESC, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM d
    )
    SELECT c.doc_id, c.source, c.n_tokens, c.quality, c.cum_before,
           b.budget_s,
           (c.cum_before + c.n_tokens <= b.budget_s) AS kept
    FROM c JOIN b USING (source)
    """,
    survey="X21,X13,X16",
)
def pipe_mixture_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture selection: the global token budget
    (30% of the corpus) splits across sources by n^0.5 temperature
    weights (upsampling small sources relative to proportional — the
    X13 rationale), and each source spends its share on its BEST
    documents (unique-token-ratio quality, the X16 rationale).

    Plan shape at 100 TB: one doc-grain scan for (n_tokens, quality),
    a source-keyed aggregate (bounded cardinality), the 20-row weight
    table broadcast back, and ONE source-partitioned cumulative window —
    per-source prefix sums parallelize across sources by construction,
    so the global-window single-partition trap never appears (for a
    single giant source, X16's two-phase running total is the tool)."""
    d0 = load_table(spark, sf_dir, "documents")
    # the shared tokenization definition (doc_words), not a re-inlined copy
    toks = F.filter(doc_words(), lambda x: x != "")
    d = d0.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks))
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("quality"),
    ).where(F.size(toks) > 0)
    d = d.persist()  # feeds the totals aggregate AND the window
    s = d.groupBy("source").agg(F.sum("n_tokens").cast("long").alias("n_s"))
    tot = s.agg(
        F.floor(_MIX_ALPHA_BUDGET * F.sum("n_s")).cast("long").alias("g"),
        # rounded to 6 dp: the sqrt-sum is an order-dependent float sum
        # feeding floor() — an ulp difference could flip a source budget
        # by one token (r9 review); after the round both engines divide
        # by the identical double
        F.round(F.sum(F.sqrt(F.col("n_s").cast("double"))), 6).alias("z"),
    )
    b = s.join(F.broadcast(tot)).select(
        "source",
        F.floor(
            F.col("g") * F.sqrt(F.col("n_s").cast("double")) / F.col("z")
        )
        .cast("long")
        .alias("budget_s"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn(
        "cum_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
    )
    return c.join(F.broadcast(b), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        "quality",
        "cum_before",
        "budget_s",
        (F.col("cum_before") + F.col("n_tokens") <= F.col("budget_s")).alias(
            "kept"
        ),
    )


# ---------------------------------------------------------------------------
# X22 — reciprocal-rank-fusion quality scoring (r9): ensemble the quality
# SIGNALS instead of picking one. Each signal ranks the corpus on its own
# scale-free axis (length, lexical diversity, unigram fluency); RRF
# (Cormack/Clarke/Buettcher 2009) fuses the RANKS — 1/(k + r) with k=60 —
# so no signal's units dominate and outlier values cannot swamp the blend.
# The document-selection operators (token budget, mixture select) consume a
# single quality column; this is where that column comes from when no
# trained classifier is available.
# ---------------------------------------------------------------------------

_RRF_K = 60  # standard RRF damping: rank 1 contributes 1/61


@register(
    "pipe_quality_fusion",
    # Determinism: every rank is over (rounded-or-exact signal DESC,
    # doc_id) — n_chars and the distinct-ratio are exact (ints / one int
    # division); the fluency signal is a per-doc float MEAN, so it is
    # rounded to 6 dp BEFORE ranking on both engines (sub-ulp summation
    # skew must not flip a rank). The RRF sum is three 1/(60+int)
    # doubles added left-to-right on both sides — identical bits — and
    # the fused rank ties break on doc_id.
    oracle=f"""
    WITH wl AS (
      SELECT doc_id, n_chars,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), lex AS (
      SELECT doc_id, n_chars,
             CAST(len(w) AS BIGINT) AS n_words,
             len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS lex_ratio
      FROM wl WHERE len(w) > 0
    ), tok AS (
      SELECT doc_id, unnest(w) AS term FROM wl
    ), uc AS (
      SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM tok
    ), flu AS (
      SELECT tok.doc_id, round(avg(ln(uc.c / CAST(tot.n AS DOUBLE))), 6)
               AS fluency
      FROM tok JOIN uc USING (term) CROSS JOIN tot
      GROUP BY 1
    ), sig AS (
      SELECT lex.doc_id, lex.n_chars, lex.lex_ratio, flu.fluency
      FROM lex JOIN flu ON lex.doc_id = flu.doc_id
    ), rk AS (
      SELECT doc_id, n_chars, lex_ratio, fluency,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r_len,
             row_number() OVER (ORDER BY lex_ratio DESC, doc_id) AS r_lex,
             row_number() OVER (ORDER BY fluency DESC, doc_id) AS r_flu
      FROM sig
    )
    SELECT doc_id,
           CAST(r_len AS BIGINT) AS r_len,
           CAST(r_lex AS BIGINT) AS r_lex,
           CAST(r_flu AS BIGINT) AS r_flu,
           round(1.0 / ({_RRF_K} + r_len) + 1.0 / ({_RRF_K} + r_lex)
                 + 1.0 / ({_RRF_K} + r_flu), 6) AS rrf,
           CAST(row_number() OVER (
             ORDER BY 1.0 / ({_RRF_K} + r_len) + 1.0 / ({_RRF_K} + r_lex)
                      + 1.0 / ({_RRF_K} + r_flu) DESC, doc_id
           ) AS BIGINT) AS fused_rank
    FROM rk
    """,
    survey="X22,X3,U6,W1",
)
def pipe_quality_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuse three quality rankings (length, lexical diversity, unigram
    fluency) into one RRF score and a fused rank per document.

    Plan shape (r12, VERDICT r11 ask #2 — was 57 printed exchanges, now
    the three signal ranks are assigned in ONE two-phase pass): the
    signals are one corpus scan + one term-keyed exchange (the fluency
    model), persisted ONCE as the narrow (doc_id, 3 signals) frame; the
    three slim (signal, doc_id) projections are then STACKED via an
    in-row explode (3 rows/doc, zero shuffle) into one frame tagged by
    signal id, and a single grouped run of the two-phase BUCKETED id
    assigner (operators/rowids.assign_global_ids with group_cols — the
    bucket key is sid·2⁴⁰ + the per-signal monotone quantization, so
    one intra-bucket window + one bucket-count aggregate carry ALL
    THREE rankings; no single-partition window, no sampling). One
    doc_id-keyed pivot aggregate replaces the r11 form's two rank-frame
    joins, and the fused rank reuses the ungrouped assigner on the RRF
    score. r11's form ran the assigner 3× over separate branches: 3
    intra-bucket windows + 3 count aggregates + 2 joins ≈ 8 extra
    data-sized exchanges, now 2 + 1 pivot. The oracle mirrors with
    plain windows (DuckDB is single-node by definition)."""
    from ssidentity_spark.operators.rowids import assign_global_ids

    fused = _fusion_scored(spark, sf_dir)
    fused = assign_global_ids(
        fused.withColumn("_neg", -F.col("_rrf")),
        ["_neg", "doc_id"],
        "fused_rank",
        bucket=F.floor(F.col("_neg") * 1000),
    ).drop("_neg")
    return fused.select(
        "doc_id",
        "r_len",
        "r_lex",
        "r_flu",
        F.round("_rrf", 6).alias("rrf"),
        (F.col("fused_rank") + 1).alias("fused_rank"),
    )


def _fusion_scored(
    spark: SparkSession, sf_dir: str, truncate: bool = True
) -> DataFrame:
    """The pre-fused-rank stage of ``pipe_quality_fusion``: the three
    signals, ONE grouped assigner pass over the stacked slim frame, the
    pivot back to columns, and the RRF score — checkpointed (narrow:
    doc_id, three ranks, score — one row per doc) so the final rank
    assigner's two reads hit a materialized leaf instead of re-running
    this whole stage. ``truncate=False`` skips the checkpoint so the
    upstream plan stays visible to ``explain`` (tests/test_r11_plans.py
    pins its shape)."""
    from ssidentity_spark.operators.rowids import assign_global_ids

    d = load_table(spark, sf_dir, "documents")
    wl = spread(d.select("doc_id", "n_chars", "text")).select(
        "doc_id",
        "n_chars",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("w"),
    )
    lex = wl.where(F.size("w") > 0).select(
        "doc_id",
        "n_chars",
        F.size("w").cast("long").alias("n_words"),
        (
            F.size(F.array_distinct("w")) / F.size("w").cast("double")
        ).alias("lex_ratio"),
    )
    tok = wl.select("doc_id", F.explode("w").alias("term"))
    uc = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("n"))
    flu = (
        tok.join(uc, "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("c") / F.col("n").cast("double"))), 6
            ).alias("fluency")
        )
    )
    # ONE persisted narrow frame (doc_id + 3 doubles — one row per doc)
    # feeds all six downstream subplans (each assigner reads its input
    # twice: intra-bucket numbering + bucket counts). Without it the
    # signal pipeline — explode, term join, two aggregates — re-plans
    # once per subplan; this single materialization is exactly the "one
    # persisted scan" the r10 audit asked for, and is NOT the banned
    # pattern (that was four corpus-sized persists chained in flight).
    sig = (
        lex.select("doc_id", "n_chars", "lex_ratio")
        .join(flu, "doc_id")
        .persist()
    )

    # stack the three slim (signal, doc_id) rankings into ONE frame
    # tagged by signal id — an in-row explode off the cached sig (3
    # rows/doc, no shuffle) — and rank all three in a single grouped
    # assigner pass. The bucket is sid·2⁴⁰ + the per-signal MONOTONE
    # quantization (the rowids contract: within a sid, bucket(a) <
    # bucket(b) implies key(a) < key(b); across sids the 2⁴⁰ stride
    # dominates every per-signal floor — doc length would need 512·2⁴⁰
    # chars to straddle — so buckets are group-pure). Bucket counts stay
    # bounded by the signals' ranges (length/512 bands, 16 ratio bands,
    # unit log-prob bands), never the data. -n_chars rides as double:
    # exact below 2⁵³, so its order equals the long order.
    stacked = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("sid"),
                    (-F.col("n_chars")).cast("double").alias("_neg"),
                ),
                F.struct(
                    F.lit(1).alias("sid"),
                    (-F.col("lex_ratio")).alias("_neg"),
                ),
                F.struct(
                    F.lit(2).alias("sid"),
                    (-F.col("fluency")).alias("_neg"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.sid", "s._neg")
    per_sid_floor = (
        F.when(F.col("sid") == 0, F.floor(F.col("_neg") / 512))
        .when(F.col("sid") == 1, F.floor(F.col("_neg") * 16))
        .otherwise(F.floor(F.col("_neg")))
    )
    r = assign_global_ids(
        stacked,
        ["_neg", "doc_id"],
        "_r",
        bucket=F.col("sid").cast("long") * F.lit(1 << 40) + per_sid_floor,
        group_cols=["sid"],
    )
    # one doc-keyed pivot aggregate un-stacks the three ranks (replaces
    # the r11 form's two rank-frame joins); each doc has exactly one
    # row per sid, so max(when) is just column selection
    ranked = r.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(F.col("sid") == sid, F.col("_r") + 1)
            ).alias(rank_name)
            for sid, rank_name in ((0, "r_len"), (1, "r_lex"), (2, "r_flu"))
        ]
    )
    rrf = (
        1.0 / (_RRF_K + F.col("r_len"))
        + 1.0 / (_RRF_K + F.col("r_lex"))
        + 1.0 / (_RRF_K + F.col("r_flu"))
    )
    fused = ranked.select(
        "doc_id", "r_len", "r_lex", "r_flu", rrf.alias("_rrf")
    )
    if truncate:
        # the fused-rank assigner reads its input TWICE (intra-bucket
        # numbering + bucket counts) — without a cut here each read
        # would re-execute this whole stage (assigner + pivot + signal
        # build). Checkpoint the one-row-per-doc frame so the final
        # pass reads a materialized leaf instead (graph_kcore
        # precedent; lineage truncation is the documented trade). sig
        # is then released: nothing lazy references it anymore.
        fused = materialize(fused)
        sig.unpersist()
    return fused


# ---------------------------------------------------------------------------
# X24 (r9) — k-ANONYMITY audit: the privacy gate next to X8's PII
# redaction. PII removal handles direct identifiers; k-anonymity measures
# QUASI-identifiers — combinations (language, source, length bucket) rare
# enough to single a document (or its author) out. The audit walks one
# generalization ladder (drop source -> drop length -> corpus) and reports,
# per concrete group, the minimal generalization level at which the group
# reaches k — the table a release review reads before publishing a corpus.
# ---------------------------------------------------------------------------

_KANON_K = 10
_KANON_BUCKET = 100  # length generalized to n_chars // 100 buckets


@register(
    "pipe_k_anonymity",
    # One ROLLUP pass computes every ladder level (the grouping-sets
    # machinery A9 already exercises) — all counts exact integers.
    oracle=f"""
    WITH base AS (
      SELECT lang, source,
             CAST(n_chars // {_KANON_BUCKET} AS INTEGER) AS len_bucket
      FROM documents
    ), r AS (
      SELECT lang, len_bucket, source, CAST(count(*) AS BIGINT) AS n,
             grouping(source) AS gs, grouping(len_bucket) AS gl,
             grouping(lang) AS gg
      FROM base GROUP BY ROLLUP (lang, len_bucket, source)
    ), l0 AS (
      SELECT lang, len_bucket, source, n AS n_docs FROM r WHERE gs = 0
    ), l1 AS (
      SELECT lang, len_bucket, n AS n_l1 FROM r
      WHERE gs = 1 AND gl = 0
    ), l2 AS (
      SELECT lang, n AS n_l2 FROM r WHERE gs = 1 AND gl = 1 AND gg = 0
    )
    SELECT l0.lang, l0.source, l0.len_bucket, l0.n_docs, l1.n_l1, l2.n_l2,
           CAST(CASE WHEN l0.n_docs >= {_KANON_K} THEN 0
                     WHEN l1.n_l1 >= {_KANON_K} THEN 1
                     WHEN l2.n_l2 >= {_KANON_K} THEN 2
                     ELSE 3 END AS INTEGER) AS min_level,
           (l0.n_docs >= {_KANON_K}) AS is_k_anon
    FROM l0
    JOIN l1 USING (lang, len_bucket)
    JOIN l2 USING (lang)
    """,
    survey="X24,X3,A9",
)
def pipe_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per concrete (lang, source, length-bucket) group: its size, the
    sizes of its two generalizations, the minimal ladder level reaching
    k={_KANON_K}, and the k-anonymous flag.

    Plan shape: ONE rollup exchange (partial aggregation map-side, the
    A9 machinery) computes every ladder level; the ladder joins run on
    aggregated frames orders smaller than the corpus. At 100 TB quasi-
    identifier audits stay one pass over the scan regardless of how
    many ladder levels the lattice path has."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        "source",
        F.expr(f"CAST(n_chars DIV {_KANON_BUCKET} AS INT)").alias(
            "len_bucket"
        ),
    )
    r = (
        base.rollup("lang", "len_bucket", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.grouping("source").alias("gs"),
            F.grouping("len_bucket").alias("gl"),
            F.grouping("lang").alias("gg"),
        )
        .persist()  # three ladder levels read the one rollup pass
    )
    l0 = r.where(F.col("gs") == 0).select(
        "lang", "len_bucket", "source", F.col("n").alias("n_docs")
    )
    l1 = r.where((F.col("gs") == 1) & (F.col("gl") == 0)).select(
        "lang", "len_bucket", F.col("n").alias("n_l1")
    )
    l2 = r.where(
        (F.col("gs") == 1) & (F.col("gl") == 1) & (F.col("gg") == 0)
    ).select("lang", F.col("n").alias("n_l2"))
    min_level = (
        F.when(F.col("n_docs") >= _KANON_K, 0)
        .when(F.col("n_l1") >= _KANON_K, 1)
        .when(F.col("n_l2") >= _KANON_K, 2)
        .otherwise(3)
        .cast("int")
    )
    return (
        l0.join(l1, ["lang", "len_bucket"])
        .join(F.broadcast(l2), "lang")
        .select(
            "lang",
            "source",
            "len_bucket",
            "n_docs",
            "n_l1",
            "n_l2",
            min_level.alias("min_level"),
            (F.col("n_docs") >= _KANON_K).alias("is_k_anon"),
        )
    )


# ---------------------------------------------------------------------------
# X25 (r9) — the DATASET CARD: the datasheet a corpus release ships with
# (Gebru et al., "Datasheets for Datasets"), computed as one query — per
# source: volume, token counts, length profile, language mix, and the
# exact-duplicate rate. Every number the other pipeline operators act on,
# rolled into the artifact a human reviews.
# ---------------------------------------------------------------------------


@register(
    "pipe_dataset_card",
    # All integers (counts, sums) except avg_chars (one division,
    # rounded) and dup_rate (one division, rounded) — hash-stable by
    # construction; the language mix is an ORDERED CSV, the repo's flat-
    # output convention.
    oracle="""
    WITH base AS (
      SELECT source, lang, n_chars,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             md5(text) AS h
      FROM documents
    ), census AS (
      SELECT h FROM (
        SELECT h, count(*) AS c FROM base GROUP BY 1
      ) WHERE c > 1
    ), flagged AS (
      SELECT base.*, CASE WHEN census.h IS NULL THEN 0 ELSE 1 END AS is_dup
      FROM base LEFT JOIN census USING (h)
    ), lx AS (
      SELECT source,
             string_agg(lang || ':' || CAST(c AS VARCHAR), ','
                        ORDER BY lang) AS lang_counts_csv
      FROM (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f.n_tokens) AS BIGINT) AS n_tokens,
           round(sum(CAST(f.n_chars AS DOUBLE)) / count(*), 2) AS avg_chars,
           CAST(sum(f.is_dup) AS BIGINT) AS n_exact_dup_docs,
           round(sum(f.is_dup) / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
           lx.lang_counts_csv
    FROM flagged f JOIN lx ON f.source = lx.source
    GROUP BY 1, 7
    """,
    survey="X25,X3,A1,A6",
)
def pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source datasheet: document count, token volume, mean length,
    exact-duplicate count/rate (corpus-wide md5 census), and the ordered
    language mix — the one-query release artifact.

    Plan shape: one corpus scan feeds a source-keyed aggregate, an
    md5-census aggregate (map-side combine, dup keys are rare), and a
    (source, lang) rollup whose CSV is assembled from the AGGREGATED
    grain; at 100 TB each piece is a single exchange over counts, and
    the scan is shared. No floats beyond two rounded divisions."""
    d = load_table(spark, sf_dir, "documents")
    base = spread(d).select(
        "source",
        "lang",
        "n_chars",
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
            )
        ).cast("long").alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    base = base.persist()  # census + per-source + lang mix share the scan
    census = (
        base.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("h")
        .withColumn("dup", F.lit(1))
    )
    flagged = base.join(census, "h", "left").select(
        "source",
        "n_chars",
        "n_tokens",
        F.coalesce("dup", F.lit(0)).alias("is_dup"),
    )
    lx = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("lang", "c"))
                    ),
                    lambda s: F.concat_ws(
                        ":", s["lang"], s["c"].cast("string")
                    ),
                ),
                ",",
            ).alias("lang_counts_csv")
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("n_chars").cast("double")) / F.count(F.lit(1)), 2
            ).alias("avg_chars"),
            F.sum("is_dup").cast("long").alias("n_exact_dup_docs"),
            F.round(
                F.sum("is_dup") / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_rate"),
        )
        .join(F.broadcast(lx), "source")
    )


# ---------------------------------------------------------------------------
# X26 (r9) — cross-source LEAKAGE matrix: the dataset card reports each
# source's internal dup rate; a release review also needs to know which
# source PAIRS share content (mirrors, scrapes of scrapes, benchmark text
# syndicated into web crawl). Duplicate pairs are detected at SIGNATURE
# grain — docs whose full 8-hash MinHash signature is identical (J ~ 1
# near-duplicates; raw-md5 exact equality is reported alongside but the
# corpus plants near-copies, not byte-copies, below sf0.1) — and rolled up
# to the (source_a, source_b) grain including the within-source diagonal.
# ---------------------------------------------------------------------------


@register(
    "pipe_cross_source_leakage",
    # All counts exact; pair grain is (unordered source pair) with the
    # smaller source name first — identical ordering both engines. The
    # signature key reuses the gated MinHash chain verbatim.
    oracle=f"""
    WITH {_minhash_sql_shingles()}, sigs AS (
      {_minhash_agg_sql()}
    ), keyed AS (
      SELECT s.doc_id, d.source, d.h,
             s.mh0 || ':' || s.mh1 || ':' || s.mh2 || ':' || s.mh3 || ':'
               || s.mh4 || ':' || s.mh5 || ':' || s.mh6 || ':' || s.mh7
               AS sig
      FROM sigs s JOIN (
        SELECT doc_id, source, md5(text) AS h FROM documents
      ) d USING (doc_id)
    ), pairs AS (
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b,
             CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS within,
             CASE WHEN a.h = b.h THEN 1 ELSE 0 END AS exact_dup
      FROM keyed a JOIN keyed b
        ON a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_neardup_pairs,
           CAST(sum(within) AS BIGINT) AS n_within,
           CAST(sum(exact_dup) AS BIGINT) AS n_exact
    FROM pairs GROUP BY 1, 2
    """,
    survey="X26,X3,A4,J2",
)
def pipe_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts per unordered source pair — which
    sources share content, how much duplication is internal (the
    diagonal) vs cross-source (the leakage a release review cares
    about), and how much of it is byte-exact.

    Plan shape: the signature table is the SAME maintained MinHash
    artifact every dedup query reads; pairing is one sig-keyed
    self-join (per-key fan-out = dup-group size, never the corpus) and
    one pair-grain aggregate. At 100 TB both audits (this and the
    dataset card) read the one materialized signature/census frame."""
    from ssidentity_spark.plans.dedup import _spark_minhash, _spark_shingles

    d = load_table(spark, sf_dir, "documents")
    sigs = _spark_minhash(_spark_shingles(d))
    # ':'-separated so the key is INJECTIVE in the 8 components — a
    # delimiter-less decimal concat lets distinct signatures with
    # ambiguous digit boundaries collide into one key and fabricate
    # near-dup pairs (ADVICE r9); the oracle mirrors with || ':' ||
    sig = F.concat_ws(":", *[F.col(f"mh{j}") for j in range(8)]).alias("sig")
    keyed = sigs.select("doc_id", sig).join(
        spread(d).select("doc_id", "source", F.md5("text").alias("h")),
        "doc_id",
    )
    a = keyed.select("doc_id", "source", "sig", "h")
    b = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("source_b0"),
        "sig",
        F.col("h").alias("h_b"),
    )
    pairs = (
        a.join(b, "sig")
        .where(F.col("doc_id") < F.col("doc_b"))
        .select(
            F.least("source", "source_b0").alias("source_a"),
            F.greatest("source", "source_b0").alias("source_b"),
            F.when(F.col("source") == F.col("source_b0"), 1)
            .otherwise(0)
            .alias("within"),
            F.when(F.col("h") == F.col("h_b"), 1).otherwise(0).alias(
                "exact_dup"
            ),
        )
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_neardup_pairs"),
        F.sum("within").cast("long").alias("n_within"),
        F.sum("exact_dup").cast("long").alias("n_exact"),
    )


# ---------------------------------------------------------------------------
# E3 (r9) — split-leakage eval: X1b CLAIMS cluster-level splitting stops
# near-dup train/test leakage; this measures it. For BOTH split rules
# (doc-level X1, cluster-level X1b) count the LSH near-dup pairs whose
# endpoints land in different splits — the number of test examples with a
# train-side near-copy. The doc-level row is the control (> 0 by
# construction wherever clusters exist); the cluster-level row must be 0,
# and that zero sits under the driver hash.
# ---------------------------------------------------------------------------


@register(
    "pipe_split_leakage_eval",
    oracle=f"""
    WITH RECURSIVE {_lsh_pairs_sql_ctes()}, edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(u, label) AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ), comp AS (
      SELECT u AS doc_id, min(label) AS cluster_id FROM reach GROUP BY u
    ), keyed AS (
      SELECT d.doc_id,
             md5(CAST(d.doc_id AS VARCHAR)) AS doc_h,
             md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR))
               AS cluster_h
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ), splits AS (
      SELECT doc_id,
             CASE WHEN substr(doc_h, 1, 2) < '{_TRAIN_LT}' THEN 'train'
                  WHEN substr(doc_h, 1, 2) < '{_VAL_LT}' THEN 'val'
                  ELSE 'test' END AS doc_split,
             CASE WHEN substr(cluster_h, 1, 2) < '{_TRAIN_LT}' THEN 'train'
                  WHEN substr(cluster_h, 1, 2) < '{_VAL_LT}' THEN 'val'
                  ELSE 'test' END AS cluster_split
      FROM keyed
    ), scored AS (
      SELECT (a.doc_split <> b.doc_split) AS doc_cross,
             (a.cluster_split <> b.cluster_split) AS cluster_cross
      FROM pairs p
      JOIN splits a ON p.doc_a = a.doc_id
      JOIN splits b ON p.doc_b = b.doc_id
    )
    SELECT rule, n_pairs, n_crossing,
           round(n_crossing / nullif(CAST(n_pairs AS DOUBLE), 0), 6)
             AS crossing_rate
    FROM (
      SELECT 'doc_level' AS rule, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN doc_cross THEN 1 ELSE 0 END) AS BIGINT)
               AS n_crossing
      FROM scored
      UNION ALL
      SELECT 'cluster_level', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN cluster_cross THEN 1 ELSE 0 END) AS BIGINT)
      FROM scored
    )
    """,
    survey="E3,X1,EXT-dedup,A6",
)
def pipe_split_leakage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs straddling the train/val/test boundary, for the
    doc-level (X1) and cluster-level (X1b) split rules side by side —
    the leak-safety CLAIM as a measured, hash-gated number (the
    cluster-level count is 0 by construction; the doc-level count is
    the control showing the leak is real).

    Plan shape: one LSH pair generation + one component solve (both
    already run by the dedup family — production shares them), then two
    broadcast-sized joins of splits onto pairs and one aggregate."""
    from ssidentity_spark.operators.graph import connected_components
    from ssidentity_spark.plans.dedup import _spark_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = _spark_lsh_pairs(d).select("doc_a", "doc_b").persist()
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    splits = (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            _split_of(F.col("doc_id")).alias("doc_split"),
            _split_of(
                F.coalesce("cluster_id", F.col("doc_id"))
            ).alias("cluster_split"),
        )
    )
    scored = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"),
                F.col("doc_split").alias("da"),
                F.col("cluster_split").alias("ca"),
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"),
                F.col("doc_split").alias("db"),
                F.col("cluster_split").alias("cb"),
            ),
            "doc_b",
        )
        .select(
            (F.col("da") != F.col("db")).alias("doc_cross"),
            (F.col("ca") != F.col("cb")).alias("cluster_cross"),
        )
        .persist()
    )

    def row(rule: str, cross_col: str) -> DataFrame:
        return scored.agg(
            F.lit(rule).alias("rule"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col(cross_col), 1).otherwise(0))
            .cast("long")
            .alias("n_crossing"),
        ).select(
            "rule",
            "n_pairs",
            "n_crossing",
            F.round(
                F.col("n_crossing")
                / F.nullif(F.col("n_pairs").cast("double"), F.lit(0.0)),
                6,
            ).alias("crossing_rate"),
        )

    return row("doc_level", "doc_cross").unionByName(
        row("cluster_level", "cluster_cross")
    )


# ---------------------------------------------------------------------------
# X27 — Laplace-mechanism noisy
# counts (Dwork et al. 2006): the release half of the privacy story —
# X24's k-anonymity audits which groups are safe to publish, this applies
# the standard eps-DP count mechanism (sensitivity 1, b = 1/eps) to the
# (lang, source) histogram before it leaves the pipeline. The noise is
# SEEDED (md5 of the group key -> uniform -> inverse-CDF Laplace), which
# is exactly how a reproducible release pipeline drives its sampler — and
# what makes the whole mechanism hash-gateable: both engines replay the
# identical draw. True counts ride alongside in the gated artifact so the
# hash pins mechanism + error together (the a8/E-family convention: this
# is a mechanism demo under a determinism harness, not a privacy proof —
# a real release would keep n_true out and the seed secret).
#
# Determinism: the hex->uint digit-sum is exact integer arithmetic in
# doubles (< 2^32); u = (v + 0.5)/2^32 strictly inside (0,1); the
# inverse CDF uses one pinned op order; ln parity across engines is the
# precedent the fluency/logreg oracles already stand on; round 6 before
# the hash, and the released integer derives from the ROUNDED noisy
# count via floor(x + 0.5) (half-up on both engines by construction —
# never each engine's own round-to-int tie rule).
# ---------------------------------------------------------------------------

_DP_EPS = 1.0


@register(
    "pipe_dp_counts",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_true
      FROM documents GROUP BY 1, 2
    ), v AS (
      SELECT lang, source, n_true,
             list_sum(list_transform(generate_series(1, 8),
               i -> (strpos('0123456789abcdef',
                            substr(md5(lang || ':' || source), i, 1)) - 1)
                    * power(16, 8 - i))) AS hv
      FROM g
    ), n AS (
      SELECT lang, source, n_true,
             round(-(1.0 / {_DP_EPS}) *
                   (CASE WHEN (hv + 0.5) / 4294967296.0 >= 0.5
                         THEN 1.0 ELSE -1.0 END) *
                   ln(1.0 - 2.0 * abs((hv + 0.5) / 4294967296.0 - 0.5)),
                   6) AS noise
      FROM v
    )
    SELECT lang, source, n_true, noise,
           GREATEST(CAST(floor(n_true + noise + 0.5) AS BIGINT), 0)
             AS n_released
    FROM n
    """,
    survey="X27,X3,A9,X24",
)
def pipe_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (lang, source) histogram released through the eps={_DP_EPS}
    Laplace mechanism with a seeded, reproducible draw per group —
    n_true, the noise realization, and the clamped integer release.

    Plan shape: ONE grouped aggregate; the mechanism is pure per-row
    expressions after it. At 100 TB the released histogram is
    groups-sized — the scan is the count itself."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    # Spark's locate(substr, str) flips DuckDB's strpos(str, substr)
    # argument order; same math, each engine's own builtin
    hv = F.expr(
        "aggregate(transform(sequence(1, 8), i -> "
        "(locate(substr(md5(concat_ws(':', lang, source)), i, 1), "
        "'0123456789abcdef') - 1) * power(16, 8 - i)), 0D, (a, x) -> a + x)"
    )
    u = (hv + F.lit(0.5)) / F.lit(4294967296.0)
    noise = F.round(
        F.lit(-(1.0 / _DP_EPS))
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5))),
        6,
    )
    out = g.select("lang", "source", "n_true", noise.alias("noise"))
    return out.select(
        "lang",
        "source",
        "n_true",
        "noise",
        F.greatest(
            F.floor(F.col("n_true") + F.col("noise") + 0.5).cast("bigint"),
            F.lit(0),
        ).alias("n_released"),
    )


# ---------------------------------------------------------------------------
# X28 (late r11) — winsorization at exact order-statistic fences: clamp a
# signal column to its per-group [k_lo-th smallest, k_lo-th largest]
# values (k_lo = ceil(n/100), i.e. 1st/99th percentile rank) before any
# mean/mixture consumes it. THE standard robust preprocessing for
# training-data quality signals (a handful of pathological documents
# otherwise own the mean any mixture weighting reads); sibling of X24's
# k-anonymity audit on the "make the statistic safe to use" shelf.
#
# Determinism — the strongest contract in the family: NO float
# arithmetic exists anywhere. Fences are ORDER STATISTICS (the ranked
# raw parquet doubles themselves, selected by integer rank — never
# interpolated), ranks come from integer ceil-division ((n+99) DIV 100),
# clamping compares bit-identically-read doubles, and the before/after
# means are exact DECIMAL(18,2) sums (clamped values stay ON the 2-dp
# grid — a clamp substitutes one grid value for another) divided once.
# ---------------------------------------------------------------------------


@register(
    "pipe_winsorize",
    oracle="""
    WITH base AS (
      SELECT event_type, value, event_id,
             CAST(value AS DECIMAL(18,2)) AS vd,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM events
      WHERE value IS NOT NULL
    ), fences AS (
      SELECT event_type,
             max(CASE WHEN rn = (n + 99) // 100 THEN value END) AS lo,
             max(CASE WHEN rn = n - (n + 99) // 100 + 1 THEN value END) AS hi
      FROM base GROUP BY 1
    ), clamped AS (
      SELECT b.event_type, b.n, b.vd, f.lo, f.hi,
             CASE WHEN b.value < f.lo THEN CAST(f.lo AS DECIMAL(18,2))
                  WHEN b.value > f.hi THEN CAST(f.hi AS DECIMAL(18,2))
                  ELSE b.vd END AS vw,
             CASE WHEN b.value < f.lo THEN 1 ELSE 0 END AS is_lo,
             CASE WHEN b.value > f.hi THEN 1 ELSE 0 END AS is_hi
      FROM base b JOIN fences f USING (event_type)
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           max(lo) AS fence_lo,
           max(hi) AS fence_hi,
           CAST(sum(is_lo) AS BIGINT) AS n_clamped_low,
           CAST(sum(is_hi) AS BIGINT) AS n_clamped_high,
           CAST(sum(vd) AS DOUBLE) / max(n) AS mean_before,
           CAST(sum(vw) AS DOUBLE) / max(n) AS mean_after
    FROM clamped GROUP BY 1
    """,
    survey="X28,X3,A6,W1,X24",
)
def pipe_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: winsorize the value signal at the 1st/99th
    percentile ORDER STATISTICS (rank ceil(n/100) from each end) — the
    fences, how many rows each side clamped, and the mean before vs
    after (the number a mixture weighting would actually consume).

    Plan shape: one type-keyed exchange carries the rank window and the
    per-type count; the two fence rows per type reduce to a ≤types-row
    table BROADCAST back over the same frame; final stats are one keyed
    aggregate. At 100 TB the rank window is the only corpus-scale sort
    and it shares the one exchange; the 100 TB escape hatch for the
    sort itself is approx_percentile fences at a documented accuracy
    trade (the TS4 hatch).

    Determinism: no float arithmetic anywhere — fences are selected raw
    values (never interpolated), ranks are integer ceil-division,
    clamped values stay on the 2-dp grid so both means are exact
    DECIMAL sums divided once (unrounded outputs, the TS6 argument)."""
    from pyspark.sql import Window as W

    # NULL values are excluded up front on BOTH engines: a NULL can't
    # be clamped, and the engines default NULLs to OPPOSITE ends of an
    # ORDER BY value (Spark: NULLS FIRST; DuckDB: NULLS LAST), which
    # would shift every rank and the fence selection
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            "event_id",
            F.col("value").cast("decimal(18,2)").alias("vd"),
        )
    )
    base = e.select(
        "event_type",
        "value",
        "vd",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    k = F.expr("(n + 99) DIV 100")
    fences = base.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k, F.col("value"))).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.col("n") - k + 1, F.col("value"))
        ).alias("hi"),
    )
    c = base.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "n",
        "vd",
        "lo",
        "hi",
        F.when(F.col("value") < F.col("lo"), F.col("lo").cast("decimal(18,2)"))
        .when(F.col("value") > F.col("hi"), F.col("hi").cast("decimal(18,2)"))
        .otherwise(F.col("vd"))
        .alias("vw"),
        F.when(F.col("value") < F.col("lo"), 1).otherwise(0).alias("is_lo"),
        F.when(F.col("value") > F.col("hi"), 1).otherwise(0).alias("is_hi"),
    )
    return c.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.max("lo").alias("fence_lo"),
        F.max("hi").alias("fence_hi"),
        F.sum("is_lo").cast("long").alias("n_clamped_low"),
        F.sum("is_hi").cast("long").alias("n_clamped_high"),
        (F.sum("vd").cast("double") / F.max("n")).alias("mean_before"),
        (F.sum("vw").cast("double") / F.max("n")).alias("mean_after"),
    )
