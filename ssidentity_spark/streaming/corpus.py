"""Streaming corpus intake — the training-data cleanup gate
(plans/pipeline.py:pipe_docs_clean) on an UNBOUNDED document stream.

A 100 TB-scale corpus doesn't arrive as one batch: crawlers drop files
continuously, and re-scanning history per increment is O(corpus) per day.
The streaming form keeps the same gates with state that does not grow with
history:

- quality/length gates are narrow filters — applied BEFORE dedup so
  rejected documents never enter dedup state;
- exact dedup becomes ``dropDuplicatesWithinWatermark`` on the content
  fingerprint — state ∝ (arrival rate × watermark), independent of corpus
  size. Cross-watermark duplicates are caught by the periodic batch sweep
  (``pipe_docs_clean``/``dedup_exact``) — the standard streaming+batch
  split: the stream bounds freshness, the batch bounds completeness.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssidentity_spark.plans.pipeline import (
    _MAX_WORDS,
    _MIN_WORDS,
    _STOP_HI,
    _STOP_LO,
    doc_fingerprint,
    doc_words,
    gram_hashes_expr,
    quality_ok_expr,
    stop_ratio_expr,
)

DOCS_STREAM_SCHEMA = "ts TIMESTAMP, doc_id LONG, text STRING"


def read_document_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """T1-style file-stream over a crawler drop directory of parquet."""
    return spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(source_dir)


def clean_documents_stream(
    docs: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Quality-gate then watermark-dedup an unbounded document stream.

    Same thresholds as the batch verdict (``pipe_docs_clean``); the
    keep-first-by-doc_id tiebreak of the batch form becomes keep-one-per-
    fingerprint (arrival order across micro-batches; undefined within
    one — dedup is an idempotency guarantee, not an ordering one).

    Gate and fingerprint expressions are IMPORTED from the batch module
    (plans/pipeline.py) — one definition, stream ≡ batch by construction."""
    return (
        docs.filter(quality_ok_expr(doc_words()))
        .withColumn("fp", doc_fingerprint())
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )


MAX_BENCH_GRAMS = 1_000_000  # eval sets are small; guard the broadcast


def decontaminate_stream(docs: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """Streaming benchmark decontamination: drop arriving documents that
    share any word-5-gram with the held-out eval set (the streaming form of
    ``plans/pipeline.py:pipe_decontaminate``).

    Join-free by design: a doc-grain anti-join against a stream-derived
    frame would be a stream-stream anti join (unsupported / stateful), so
    the eval gram set — small and versioned, a model artifact exactly like
    broadcast centroids — ships as a broadcast PYTHON SET probed inside an
    Arrow-batched pandas UDF. Per-batch work is O(batch grams), zero
    streaming state, and the documented "broadcast model" exception to the
    no-Python-hot-path rule (operators/ivf.py assign is the same shape).
    Gram construction matches the batch query hash-for-hash.
    """
    from pyspark.sql.functions import pandas_udf

    # one job, not count()-then-collect(): the gram set IS the row count
    rows = bench_grams.select("gram").collect()
    if len(rows) > MAX_BENCH_GRAMS:
        raise ValueError(
            f"{len(rows)} benchmark grams exceed the broadcast cap "
            f"{MAX_BENCH_GRAMS}; decontaminate in batch (pipe_decontaminate) "
            "instead"
        )
    bench_set = {r.gram for r in rows}
    bc = docs.sparkSession.sparkContext.broadcast(bench_set)

    @pandas_udf("boolean")
    def any_hit(grams: pd.Series) -> pd.Series:
        s = bc.value
        return grams.apply(lambda gs: any(g in s for g in gs))

    t = docs.select("*", doc_words().alias("w"))
    return (
        t.withColumn("g", gram_hashes_expr(F.col("w")))
        .filter(~any_hit(F.col("g")))
        .drop("w", "g")
    )


def benchmark_gram_set(docs: DataFrame) -> DataFrame:
    """Distinct word-5-gram hashes of an eval-set frame (static side for
    ``decontaminate_stream``; the batch module's gram builder)."""
    t = docs.select(doc_words().alias("w"))
    return t.select(
        F.explode(gram_hashes_expr(F.col("w"))).alias("gram")
    ).distinct()


def quality_monitor_stream(
    docs: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Windowed intake health report: per event-time window, how many
    arriving documents each gate verdict claimed (ok / too_short /
    too_long / stopword_lo / stopword_hi) — the alerting signal a corpus
    intake publishes so a crawler regression (e.g. a boilerplate flood
    flipping stopword ratios) pages someone instead of silently poisoning
    the training set.

    Same thresholds as ``clean_documents_stream``/``pipe_docs_clean``;
    state is one count per (window, verdict) — bounded by the watermark,
    independent of corpus size.
    """
    w = doc_words()
    stop_ratio = stop_ratio_expr(w)
    verdict = (
        F.when(F.size(w) < _MIN_WORDS, "too_short")
        .when(F.size(w) > _MAX_WORDS, "too_long")
        .when(stop_ratio < _STOP_LO, "stopword_lo")
        .when(stop_ratio > _STOP_HI, "stopword_hi")
        .otherwise("ok")
    )
    return (
        docs.withColumn("verdict", verdict)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            "verdict",
            "n",
        )
    )


def redact_pii_stream(docs: DataFrame) -> DataFrame:
    """PII-scrub an unbounded document stream: the SAME ordered Column
    regex chain as the batch scrub (functions/pii.py) — narrow, stateless
    expressions, so it composes anywhere in a streaming pipeline with
    zero state and survives restarts trivially. The per-type counts ride
    as audit columns (the alerting signal: a spike in n_email from a
    crawler source is a leak, not a feature). Stream ≡ batch is pinned
    by construction (one shared expression set) and by parity test."""
    from ssidentity_spark.functions.pii import pii_counts, redact_pii

    counts = pii_counts(F.col("text"))
    return docs.select(
        *[c for c in docs.columns if c != "text"],
        redact_pii(F.col("text")).alias("text"),
        *[counts[k].alias(k) for k in sorted(counts)],
    )


def expectations_stream(
    docs: DataFrame, rules: list[tuple[str, str, str]]
) -> DataFrame:
    """The expectations gate (operators/expectations.py) on an unbounded
    stream: the SAME ``annotate_expectations`` expressions as the batch
    form — one definition, stream ≡ batch by construction — adding
    ``violated``/``warned`` columns. Rule evaluation is a stateless
    narrow map, so this composes with any downstream streaming stage;
    route ``violated = ''`` to the corpus sink and the rest to the
    quarantine sink (two filters over one stream, or one foreachBatch
    that writes both).

    ``fail``-severity rules are REJECTED here: failing a micro-batch
    needs an eager per-batch count, which only a ``foreachBatch`` wrapper
    (calling the batch ``apply_expectations``) can provide — a silent
    downgrade of fail to drop would let a poisoned producer shrink the
    corpus, the exact failure the severity exists to stop."""
    from ssidentity_spark.operators.expectations import (
        annotate_expectations,
    )

    failing = [n for n, _e, a in rules if a == "fail"]
    if failing:
        raise ValueError(
            f"fail-severity rule(s) {failing} are not streamable — wrap "
            "the sink in foreachBatch and call apply_expectations per "
            "micro-batch to keep fail-stops-the-batch semantics"
        )
    return annotate_expectations(docs, rules)


def cdc_chunks_stream(docs: DataFrame) -> DataFrame:
    """Content-defined chunking (plans/dedup.py:cdc_chunks) on an
    unbounded document stream: the chunking is a stateless row-local
    projection — the SAME one the batch query runs — so arriving
    documents chunk with zero state and stream ≡ batch holds by
    construction. Emits one row per (doc, chunk) with the chunk's md5
    identity; downstream, a stream-static join against a maintained
    chunk index (or dropDuplicatesWithinWatermark on chunk_md5) gives
    the within-watermark dedup gate, exactly like the fingerprint path
    in :func:`clean_documents_stream`."""
    from ssidentity_spark.plans.dedup import cdc_chunks

    return cdc_chunks(docs)


MAX_NB_MODEL_TERMS = 1_000_000  # broadcast-model guard, like the gram set


def nb_score_stream(docs: DataFrame, model: dict) -> DataFrame:
    """Streaming NB inference: score arriving documents with a model
    trained relationally by ``plans.text.nb_fit`` — the production
    inference shape for the U6d classifier (train batch, score the
    stream). The model ships as a broadcast Python dict probed inside an
    Arrow-batched ``mapInPandas`` (zero streaming state, O(batch tokens)
    work — the same documented broadcast-model exception as
    :func:`decontaminate_stream`); per-doc scores are the add-one NB
    log-likelihoods averaged per token, argmax ties broken by class name
    — exactly the batch query's rule, parity pinned by test."""
    import re as _re

    if len(model["log_cond"]) > MAX_NB_MODEL_TERMS:
        raise ValueError(
            f"NB model has {len(model['log_cond'])} terms (> "
            f"{MAX_NB_MODEL_TERMS}) — too large to broadcast as a dict; "
            "materialize the model as a table and score with the batch "
            "stream-static join instead"
        )
    spark = docs.sparkSession
    b = spark.sparkContext.broadcast(model)
    ws = _re.compile(r"\s+")

    def _score(batches):
        m = b.value
        classes, log_prior = m["classes"], m["log_prior"]
        cond, default = m["log_cond"], m["log_default"]
        kk = len(classes)
        for pdf in batches:
            ids, preds, scores = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = [t for t in ws.split(text.lower()) if t != ""]
                if not toks:
                    continue
                z = list(log_prior)
                for t in toks:
                    lp = cond.get(t, default)
                    for i in range(kk):
                        z[i] += lp[i]
                n = len(toks)
                avg = [round(z[i] / n, 6) for i in range(kk)]
                # tie rule: highest rounded score, then LOWEST class name
                # (the batch query's window order)
                best = min(
                    (i for i in range(kk) if avg[i] == max(avg)),
                    key=lambda i: classes[i],
                )
                ids.append(int(doc_id))
                preds.append(classes[best])
                scores.append(avg[best])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "pred_lang": pd.Series(preds, dtype="object"),
                    "nb_score": pd.Series(scores, dtype="float64"),
                }
            )

    return docs.mapInPandas(
        _score, schema="doc_id long, pred_lang string, nb_score double"
    )


MAX_STOPGRAMS = 1_000_000  # stop-gram sets are Zipf-small; guard the broadcast


def stopgram_set(docs: DataFrame) -> DataFrame:
    """The corpus stop-gram census (static side for
    ``stopgram_remove_stream``): word 3-grams in >= STOPGRAM_MIN_DOCS
    distinct docs — gram construction matches the batch query
    hash-for-hash."""
    from ssidentity_spark.plans.dedup import STOPGRAM_MIN_DOCS, STOPGRAM_N

    wl = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("w"),
    )
    grams = wl.where(F.size("w") >= STOPGRAM_N).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (STOPGRAM_N - 1)),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("w", i),
                    F.element_at("w", i + 1),
                    F.element_at("w", i + 2),
                ),
            )
        ).alias("g"),
    )
    return (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= STOPGRAM_MIN_DOCS)
        .select("g")
    )


def stopgram_remove_stream(docs: DataFrame, stopgrams: DataFrame) -> DataFrame:
    """Streaming boilerplate removal: the X23 drop-all stop-gram pass
    over arriving documents. The stop-gram census is a maintained CORPUS
    artifact (like the decontamination gram set and the NB model), so it
    ships as a broadcast Python set; only the membership probe is a
    pandas UDF — coverage and the text rebuild reuse the batch query's
    array expressions verbatim (plans/dedup.py:stopgram_rebuild), so
    stream ≡ batch by construction wherever the census agrees. Zero
    streaming state; per-batch work is O(batch grams)."""
    from pyspark.sql.functions import pandas_udf

    from ssidentity_spark.plans.dedup import STOPGRAM_N, stopgram_rebuild

    rows = stopgrams.select("g").collect()
    if len(rows) > MAX_STOPGRAMS:
        raise ValueError(
            f"{len(rows)} stop-grams exceed the broadcast cap "
            f"{MAX_STOPGRAMS}; remove in batch (dedup_stopgram_remove) "
            "instead"
        )
    sg = {r.g for r in rows}
    bc = docs.sparkSession.sparkContext.broadcast(sg)

    @pandas_udf("array<int>")
    def doomed_starts(grams: pd.Series) -> pd.Series:
        s = bc.value
        return grams.apply(
            lambda gs: [i + 1 for i, g in enumerate(gs) if g in s]
        )

    wl = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("w"),
    )
    grams = F.when(
        F.size("w") >= STOPGRAM_N,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - (STOPGRAM_N - 1)),
            lambda i: F.concat_ws(
                " ",
                F.element_at("w", i),
                F.element_at("w", i + 1),
                F.element_at("w", i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = wl.select(
        "doc_id", "w", doomed_starts(grams).alias("starts")
    )
    return stopgram_rebuild(base)
