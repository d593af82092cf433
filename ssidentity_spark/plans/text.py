"""Text-analysis operators over the ``documents`` corpus (SURVEY §2.9 U6 +
BASELINE.json north star): token statistics, quality scoring, language-ID
heuristic, fingerprinting, n-gram profiles.

All of these are pure Column expressions (JVM-side, codegen) — no Python in
the hot path. At 100 TB the corpus queries are narrow scans with one shuffle
on the grouping key; regexes are applied per-row and pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ssidentity_spark.io import load_table, spread
from ssidentity_spark.operators.iterate import materialize
from ssidentity_spark.registry import register

# "BPE-ish" token pattern: word pieces or single non-space symbols.
# one source of truth with the packing operator (r7 review): the
# BPE-ish token regex lives in operators/packing.py
from ssidentity_spark.operators.packing import TOKEN_RE as _TOKEN_RE  # noqa: E402
# A small stopword list present in the corpus vocabulary.
_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")


def _words(col: str = "text"):
    return F.split(F.lower(F.col(col)), r"\s+")


# ---------------------------------------------------------------------------
# U6 — token counting (whitespace words + regex tokens)
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split_regex(lower(text), '\\s+')) AS INTEGER) AS n_words,
           CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_actual,
           CAST(len(list_distinct(string_split_regex(lower(text), '\\s+'))) AS INTEGER)
             AS n_unique_words
    FROM documents
    """,
    survey="U6",
    bench=True,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_words()).alias("n_words"),
        # counting matches without materializing them: measured 1.4x faster
        # than size(regexp_extract_all(...)) on sf0.1, identical results
        F.regexp_count("text", F.lit(_TOKEN_RE)).cast("int").alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.size(F.array_distinct(_words())).alias("n_unique_words"),
    )


# ---------------------------------------------------------------------------
# U6 — quality scoring (length / punctuation / stopword ratios)
# ---------------------------------------------------------------------------


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(text), '\\s+') AS w,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           CAST(len(w) AS INTEGER) AS n_words,
           round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
           round(CAST(len(list_filter(w, x -> list_contains({list(_STOPWORDS)}, x)))
                      AS DOUBLE) / len(w), 6) AS stopword_ratio,
           round(CAST(n_chars AS DOUBLE) / len(w), 6) AS avg_word_len,
           CAST(len(w) BETWEEN 5 AND 1000
                AND (CAST(len(list_filter(w, x -> list_contains({list(_STOPWORDS)}, x)))
                     AS DOUBLE) / len(w)) BETWEEN 0.01 AND 0.6
                AS BOOLEAN) AS passes_quality
    FROM t
    """,
    survey="U6",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = _words()
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    # element-wise filter (not array_intersect: that is set-based and would
    # under-count repeated stopwords)
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace("text", r"[^.,!?;:]", ""))
    stop_ratio = F.round(n_stop.cast("double") / F.size(w), 6)
    return d.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.round(n_punct.cast("double") / n_chars, 6).alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        F.round(n_chars.cast("double") / F.size(w), 6).alias("avg_word_len"),
        (
            F.size(w).between(5, 1000)
            & (stop_ratio >= 0.01)
            & (stop_ratio <= 0.6)
        ).alias("passes_quality"),
    )


# ---------------------------------------------------------------------------
# U6 — language ID (marker-word scoring; deterministic argmax).
# Real deployments plug in per-language marker lists / char n-gram profiles;
# the scoring+argmax machinery is what the engine provides.
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "row", "column"),
    "de": ("stream", "batch", "window"),
    "fr": ("join", "merge", "sort"),
    "zh": ("spark", "query", "table"),
}


def _marker_count_sql(words_expr: str, markers: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter({words_expr}, x -> list_contains({lst}, x)))"


@register(
    "text_langid",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang AS lang_true,
             string_split_regex(lower(text), '\\s+') AS w
      FROM documents
    ), scored AS (
      SELECT doc_id, lang_true,
             {_marker_count_sql('w', _LANG_MARKERS['en'])} AS s_en,
             {_marker_count_sql('w', _LANG_MARKERS['es'])} AS s_es,
             {_marker_count_sql('w', _LANG_MARKERS['de'])} AS s_de,
             {_marker_count_sql('w', _LANG_MARKERS['fr'])} AS s_fr,
             {_marker_count_sql('w', _LANG_MARKERS['zh'])} AS s_zh
      FROM t
    )
    SELECT doc_id, lang_true,
           CASE
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS lang_pred
    FROM scored
    """,
    survey="U6",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = _words()
    def marker_score(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(v) for v in markers])
        return F.size(F.filter(w, lambda x: F.array_contains(arr, x)))

    s = {lang: marker_score(markers) for lang, markers in _LANG_MARKERS.items()}
    pred = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return d.select("doc_id", F.col("lang").alias("lang_true"), pred.alias("lang_pred"))


# ---------------------------------------------------------------------------
# U6 — document fingerprinting (normalized md5 + min-shingle "rolling hash")
# ---------------------------------------------------------------------------


@register(
    "text_fingerprint",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
             string_split_regex(lower(text), '\\s+') AS w
      FROM documents
    )
    SELECT doc_id,
           md5(norm) AS fp_md5,
           CASE WHEN len(w) >= 4 THEN
             list_min(list_transform(generate_series(1, len(w) - 3),
               i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])))
           ELSE md5(norm) END AS fp_minshingle
    FROM t
    """,
    survey="U6",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `w` is MATERIALIZED in a first projection: common-subexpression
    # elimination does not reach inside lambda bodies, so referencing the
    # split expression via element_at in the shingle lambda re-ran the
    # regex split per element (~4 × n_shingles per row) — measured 20×
    # slower at sf0.1 (12.7 s vs 0.63 s) than splitting once per row.
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
    t = d.select("doc_id", F.md5(norm).alias("fp_md5"), _words().alias("w"))
    w = F.col("w")
    shingle_hashes = F.transform(
        F.sequence(F.lit(0), F.size(w) - 4),
        lambda i: F.md5(
            F.concat_ws(
                " ",
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
                F.element_at(w, i + 3),
                F.element_at(w, i + 4),
            )
        ),
    )
    return t.select(
        "doc_id",
        "fp_md5",
        F.when(F.size(w) >= 4, F.array_min(shingle_hashes))
        .otherwise(F.col("fp_md5"))
        .alias("fp_minshingle"),
    )


# ---------------------------------------------------------------------------
# U6 — tf-idf top terms per document (SURVEY §2.9: "tf-idf-ish counts")
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score,
           CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, n.n_docs,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) DESC,
                        tf.term) AS rk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rk <= 3
    """,
    survey="U6,A6,W1",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic tf-idf, all relational: explode → per-(doc, term) counts →
    per-term document frequency → idf join → per-doc top-3 by score. Three
    keyed shuffles (doc×term, term, doc), each hash-distributed — the same
    plan at corpus scale; the scalar doc count is a 1-row broadcast. Rank
    uses the raw double score with a term tiebreak (equal (tf, df) pairs
    produce bit-identical scores in both engines, so the tiebreak is the
    only ordering authority within ties); the emitted score rounds to 6dp
    for hash stability."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    raw = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    win = Window.partitionBy("doc_id").orderBy(F.desc(raw), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", F.round(raw, 6).alias("score"), "rk")
    )


# ---------------------------------------------------------------------------
# U4/U6 — n-gram profile per language (explode → count → rank): the
# "UDTF" surface expressed with built-in explode/transform.
# ---------------------------------------------------------------------------


@register(
    "text_bigram_profile",
    oracle="""
    WITH t AS (
      SELECT lang, string_split_regex(lower(text), '\\s+') AS w FROM documents
    ), bg AS (
      SELECT lang,
             unnest(list_transform(generate_series(2, len(w)),
                                   i -> w[i-1] || ' ' || w[i])) AS bigram
      FROM t WHERE len(w) >= 2
    ), cnt AS (
      SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2
    )
    SELECT lang, bigram, n, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, bigram) AS rnk
      FROM cnt
    ) WHERE rnk <= 5
    """,
    survey="U4,U6",
)
def text_bigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # materialize the split once per row (lambda bodies defeat CSE — see
    # text_fingerprint)
    t = d.select("lang", _words().alias("w")).filter(F.size("w") >= 2)
    w = F.col("w")
    bigrams = F.transform(
        F.sequence(F.lit(2), F.size(w)),
        lambda i: F.concat_ws(" ", F.element_at(w, i - 1), F.element_at(w, i)),
    )
    bg = (
        t.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    win = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        bg.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 5)
        .select("lang", "bigram", "n", "rnk")
    )


# ---------------------------------------------------------------------------
# U6 — repetition scoring (r4): Gopher-style within-document repetition
# signals (Rae et al. 2021 §A1.1 use duplicate-line/top-n-gram fractions as
# quality gates). Two signals that are meaningful on any corpus: the
# duplicate-word fraction and the most-frequent-word share.
# ---------------------------------------------------------------------------

_TOP_WORD_MAX_FRAC = 0.125  # flag when one word is > 1/8 of the document


@register(
    "text_repetition_scores",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(len(w) AS INTEGER) AS n_words,
           round(1.0 - len(list_distinct(w)) * 1.0 / len(w), 4)
             AS dup_word_frac,
           round(list_max(list_transform(list_distinct(w),
                 x -> len(list_filter(w, y -> y = x)))) * 1.0 / len(w), 4)
             AS top_word_frac,
           list_max(list_transform(list_distinct(w),
                 x -> len(list_filter(w, y -> y = x)))) * 1.0 / len(w)
             > {_TOP_WORD_MAX_FRAC} AS repetitive
    FROM w
    """,
    survey="U6,A6",
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition, computed ROW-LOCALLY with array expressions
    (no explode, no shuffle — the whole query is a narrow projection, so at
    100 TB it rides the scan). The distinct×occurrence counting is
    O(n_distinct × n_words) per row in the JVM — bounded by document
    length, the same trade text_token_stats makes, and far cheaper than an
    explode + two shuffled aggregations per signal."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the split once per row: the occurrence-count lambda
    # references `w` per distinct word, which would otherwise re-split
    # (lambda bodies defeat CSE — see text_fingerprint)
    t = d.select("doc_id", _words().alias("w"))
    w = F.col("w")
    n = F.size(w)
    top_n = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda x: F.size(F.filter(w, lambda y: y == x)),
        )
    )
    top_frac = top_n * F.lit(1.0) / n
    return t.select(
        "doc_id",
        n.alias("n_words"),
        F.round(1.0 - F.size(F.array_distinct(w)) * F.lit(1.0) / n, 4).alias(
            "dup_word_frac"
        ),
        F.round(top_frac, 4).alias("top_word_frac"),
        (top_frac > _TOP_WORD_MAX_FRAC).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# U6/A8 — corpus length profile (r4): the per-language size distribution
# report every corpus intake publishes (exact percentiles over derived
# word counts — pairs Spark `percentile` with DuckDB `quantile_cont` like
# a8_exact_percentiles, but over a computed column with a group key).
# ---------------------------------------------------------------------------


@register(
    "corpus_length_profile",
    oracle="""
    WITH w AS (
      SELECT lang,
             len(string_split_regex(lower(text), '\\s+')) AS n_words
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_words, 0.50), 4) AS p50_words,
           round(quantile_cont(n_words, 0.90), 4) AS p90_words,
           round(quantile_cont(n_words, 0.99), 4) AS p99_words,
           CAST(max(n_words) AS INTEGER) AS max_words
    FROM w GROUP BY lang
    """,
    survey="U6,A6,A8",
)
def corpus_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One narrow projection (word count from a single split) + one shuffle
    on the bounded-cardinality language key; the exact percentile sort
    happens inside the per-group aggregate."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", F.size(_words()).alias("n_words"))
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_words", F.lit(0.50)), 4).alias("p50_words"),
        F.round(F.percentile("n_words", F.lit(0.90)), 4).alias("p90_words"),
        F.round(F.percentile("n_words", F.lit(0.99)), 4).alias("p99_words"),
        F.max("n_words").alias("max_words"),
    )


# ---------------------------------------------------------------------------
# U6/X3 — corpus-LM quality scoring: the CCNet-style filtering signal.
# A unigram language model is fit on the corpus itself (add-one smoothing
# over the observed vocabulary), and every document is scored by its
# average token log-probability — low scores flag gibberish / boilerplate
# / wrong-language text for the cleanup gate.
# ---------------------------------------------------------------------------


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ), c AS (
      SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
    vocab AS (SELECT count(*) AS v FROM c)
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           round(sum(tf.tf * ln((c.c + 1.0) / (tot.n + vocab.v)))
                 / sum(tf.tf), 6) AS avg_logprob
    FROM tf JOIN c USING (term) CROSS JOIN tot CROSS JOIN vocab
    GROUP BY tf.doc_id
    """,
    survey="U6,X3,A6",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-probability under a corpus-fit
    add-one-smoothed model: p(t) = (count(t)+1)/(N+V).

    Plan shape at 100 TB: tokens pre-aggregate to (doc, term, tf) grain
    (one doc×term shuffle with map-side combine), the model is one
    term-keyed shuffle over that SAME frame (never re-tokenizing), and
    the two scalars (corpus size N, vocab V) are 1-row broadcasts. The
    scoring join is term-keyed on the tf grain — token occurrences never
    shuffle twice — and the final doc rollup weights each term's logprob
    by tf, so avg = Σ tf·ln p / Σ tf without a token-grain pass. Rounded
    to 6 dp before the hash compare; scores are O(-10..-4) so last-ulp
    summation skew sits ~7 orders below the rounding step."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("c"))
    tot = c.agg(F.sum("c").cast("long").alias("n"))
    vocab = c.agg(F.count(F.lit(1)).alias("v"))
    logp = F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v")))
    return (
        tf.join(c, "term")
        .join(F.broadcast(tot))
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * logp) / F.sum("tf"), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (r6) — the corpus-scale half of building a
# tokenizer, run as relational rounds (operators/bpe.py) and hash-gated
# against a DuckDB oracle that replays ALL k training rounds as unrolled
# CTEs (the graph_pagerank oracle pattern). The canonical double-space
# symbol form makes merge application a plain left-to-right replace with
# identical semantics in both engines.
# ---------------------------------------------------------------------------

_BPE_K = 6

_BPE_VOCAB_CTE = r"""
WITH words AS (
  SELECT w AS word FROM (
    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
  ) WHERE regexp_full_match(w, '[a-z]+') AND len(w) BETWEEN 1 AND 12
), v0 AS (
  SELECT ' ' || regexp_replace(word, '(.)', '\1  ', 'g') || '</w> ' AS s0,
         CAST(count(*) AS BIGINT) AS cnt
  FROM words GROUP BY word
)"""


def _bpe_stage(i: int) -> str:
    return f"""
p{i} AS (
  SELECT split_part(p, ' ', 1) AS lhs, split_part(p, ' ', 2) AS rhs,
         CAST(sum(cnt) AS BIGINT) AS c
  FROM (
    SELECT unnest(list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1])) AS p,
           cnt
    FROM (SELECT string_split(trim(s{i}), '  ') AS t, cnt FROM v{i})
  ) GROUP BY 1, 2
), b{i} AS (
  SELECT lhs, rhs, c FROM p{i} ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1
), v{i + 1} AS MATERIALIZED (
  SELECT replace(s{i}, ' ' || lhs || '  ' || rhs || ' ',
                 ' ' || lhs || rhs || ' ') AS s{i + 1}, cnt
  FROM v{i}, b{i}
)"""


_BPE_TRAIN_ORACLE = (
    _BPE_VOCAB_CTE
    + ","
    + ",".join(_bpe_stage(i) for i in range(_BPE_K))
    + "\n"
    + " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS it, lhs, rhs, c AS pair_count FROM b{i}"
        for i in range(_BPE_K)
    )
)


@register(
    "text_bpe_train",
    oracle=_BPE_TRAIN_ORACLE,
    survey="U6,A1,O2",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 6 BPE merges from the documents corpus: one
    corpus→vocab aggregation, then 6 rounds of distributed pair-count →
    deterministic top-1 merge → narrow merge-apply, checkpoint-truncated
    per round. The oracle replays the entire training loop in SQL, so
    the hash gate covers the training ALGORITHM — pair extraction,
    weighted counts, tie rule, and the boundary-safe merge application."""
    from ssidentity_spark.operators.bpe import bpe_train, word_vocab

    docs = load_table(spark, sf_dir, "documents").select("text")
    vocab = word_vocab(docs)
    table, _merges = bpe_train(spark, vocab, k=_BPE_K)
    return table


_BPE_TOKENIZE_ORACLE = (
    _BPE_VOCAB_CTE
    + ","
    + ",".join(_bpe_stage(i) for i in range(_BPE_K))
    + r""",
doc_words AS (
  SELECT doc_id, w AS word FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
    FROM documents
  ) WHERE regexp_full_match(w, '[a-z]+') AND len(w) BETWEEN 1 AND 12
), doc_spaced AS (
  SELECT doc_id,
         ' ' || regexp_replace(word, '(.)', '\1  ', 'g') || '</w> ' AS s,
         len(word) + 1 AS n_syms
  FROM doc_words
), """
    + ", ".join(
        # coalesce: if training exhausted before round i, b{i} is empty,
        # its scalar subqueries are NULL, and replace(s, NULL, NULL)
        # would NULL-collapse every document — fall back to s (a no-op
        # merge), matching the Spark side's graceful early-stop
        f"""applied{i} AS (
  SELECT doc_id, n_syms,
         coalesce(replace(s,
           (SELECT ' '||lhs||'  '||rhs||' ' FROM b{i}),
           (SELECT ' '||lhs||rhs||' ' FROM b{i})), s) AS s
  FROM {"doc_spaced" if i == 0 else f"applied{i - 1}"}
)"""
        for i in range(_BPE_K)
    )
    + f""", applied AS (
  SELECT doc_id, n_syms, s FROM applied{_BPE_K - 1}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_syms) AS BIGINT) AS n_symbols_before,
       CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT) AS n_tokens,
       round(CAST(sum(n_syms) AS DOUBLE)
             / sum(len(string_split(trim(s), '  '))), 4) AS compression
FROM applied GROUP BY doc_id
"""
)


@register(
    "text_bpe_tokenize",
    oracle=_BPE_TOKENIZE_ORACLE,
    survey="U6,D7",
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the merges learned by
    ``text_bpe_train`` (trained in the same query — train on the corpus,
    apply to the corpus) and report per-document token counts and the
    symbol→token compression ratio. The merge chain is k literal
    replaces — pure JVM expressions; the oracle re-trains AND re-applies
    in SQL, so a drift anywhere in the loop breaks the hash."""
    from ssidentity_spark.operators.bpe import (
        bpe_apply,
        bpe_train,
        token_count,
        word_vocab,
    )

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
    applied = doc_words.select(
        "doc_id",
        (F.length("word") + 1).alias("n_syms"),
        bpe_apply(spaced, merges).alias("s"),
    )
    return applied.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_syms").cast("long").alias("n_symbols_before"),
        F.sum(token_count(F.col("s"))).cast("long").alias("n_tokens"),
        F.round(
            F.sum("n_syms").cast("double") / F.sum(token_count(F.col("s"))), 4
        ).alias("compression"),
    )


@register(
    "text_bigram_logprob",
    # The conditional (bigram) sibling of text_unigram_logprob: add-one
    # smoothed p(b|a) = (c(a,b)+1)/(c(a)+V), averaged per document over
    # its bigram transitions. Determinism: identical doubles enter ln()
    # on both engines (counts are exact integers), and the per-doc
    # average's summation skew sits orders below the 6-dp round — the
    # same contract the unigram query carries.
    oracle="""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), bg AS (
      SELECT doc_id, w[CAST(i AS BIGINT)] AS a, w[CAST(i + 1 AS BIGINT)] AS b
      FROM wl, unnest(generate_series(1, len(w) - 1)) AS u(i)
      WHERE len(w) >= 2
    ), btf AS (
      SELECT doc_id, a, b, count(*) AS tf FROM bg GROUP BY 1, 2, 3
    ), model AS (
      SELECT a, b, CAST(sum(tf) AS BIGINT) AS cab FROM btf GROUP BY 1, 2
    ), tok AS (
      SELECT doc_id, unnest(w) AS term FROM wl
    ), uc AS (
      SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
    ), vocab AS (SELECT count(*) AS v FROM uc)
    SELECT btf.doc_id,
           CAST(sum(btf.tf) AS BIGINT) AS n_bigrams,
           round(sum(btf.tf * ln((model.cab + 1.0) / (uc.c + vocab.v)))
                 / sum(btf.tf), 6) AS avg_logprob
    FROM btf
    JOIN model USING (a, b)
    JOIN uc ON uc.term = btf.a
    CROSS JOIN vocab
    GROUP BY btf.doc_id
    """,
    survey="U6,X3,A6",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average BIGRAM log-probability under a corpus-fit
    add-one model: p(b|a) = (c(a,b)+1)/(c(a)+V) — the
    context-conditional quality score (fluency) next to the unigram
    rarity score, and the n-gram-LM shape a perplexity filter runs.

    Plan shape at 100 TB: bigrams pre-aggregate to (doc, a, b, tf) grain
    in one shuffle (map-side combine), the MODEL is one (a, b)-keyed
    shuffle over that same frame (never re-materializing token
    positions), context counts c(a) are a term-keyed unigram aggregate,
    V broadcasts as a 1-row scalar, and the scoring joins run at the tf
    grain. Column pruning gives each consumer a different tf subtree,
    so the corpus pass recomputes per aggregate in this one-shot form —
    at petabyte scale materialize the tf table once (write_versioned)
    and point every consumer at it."""
    d = load_table(spark, sf_dir, "documents")
    # the MODEL (context counts, vocabulary) fits on ALL tokens — the
    # oracle's tok CTE reads the unfiltered word lists, so a one-word
    # document must contribute to c(a)/V on this side too even though it
    # produces no bigram transitions (review: the >=2 filter previously
    # sat upstream of everything, silently diverging on 1-word docs)
    wl_all = d.select(
        "doc_id", F.filter(_words(), lambda x: x != "").alias("w")
    )
    wl = wl_all.where(F.size("w") >= 2)
    bg = wl.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> struct(w[i] AS a, w[i + 1] AS b))"
            )
        ).alias("p"),
    ).select("doc_id", "p.a", "p.b")
    btf = bg.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("tf"))
    model = btf.groupBy("a", "b").agg(F.sum("tf").cast("long").alias("cab"))
    tok = wl_all.select("doc_id", F.explode("w").alias("term"))
    uc = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vocab = uc.agg(F.count(F.lit(1)).alias("v"))
    logp = F.log((F.col("cab") + 1.0) / (F.col("c") + F.col("v")))
    return (
        btf.join(model, ["a", "b"])
        .join(uc.withColumnRenamed("term", "a"), "a")
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * logp) / F.sum("tf"), 6).alias(
                "avg_logprob"
            ),
        )
    )


def _wp_stage(i: int) -> str:
    return f"""
p{i} AS (
  SELECT split_part(p, ' ', 1) AS lhs, split_part(p, ' ', 2) AS rhs,
         CAST(sum(cnt) AS BIGINT) AS c
  FROM (
    SELECT unnest(list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1])) AS p,
           cnt
    FROM (SELECT string_split(trim(s{i}), '  ') AS t, cnt FROM v{i})
  ) GROUP BY 1, 2
), u{i} AS (
  SELECT sym, CAST(sum(cnt) AS BIGINT) AS n
  FROM (
    SELECT unnest(string_split(trim(s{i}), '  ')) AS sym, cnt FROM v{i}
  ) GROUP BY 1
), b{i} AS (
  SELECT p.lhs, p.rhs, p.c, a.n AS ca, bb.n AS cb
  FROM p{i} p JOIN u{i} a ON a.sym = p.lhs JOIN u{i} bb ON bb.sym = p.rhs
  ORDER BY CAST(p.c AS DOUBLE) / CAST(a.n * bb.n AS DOUBLE) DESC,
           p.lhs ASC, p.rhs ASC
  LIMIT 1
), v{i + 1} AS MATERIALIZED (
  SELECT replace(s{i}, ' ' || lhs || '  ' || rhs || ' ',
                 ' ' || lhs || rhs || ' ') AS s{i + 1}, cnt
  FROM v{i}, b{i}
)"""


_WP_K = 6

_WP_TRAIN_ORACLE = (
    _BPE_VOCAB_CTE
    + ","
    + ",".join(_wp_stage(i) for i in range(_WP_K))
    + "\n"
    + " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS it, lhs, rhs, c AS pair_count, "
        f"ca AS lhs_count, cb AS rhs_count FROM b{i}"
        for i in range(_WP_K)
    )
)


@register(
    "text_wordpiece_train",
    oracle=_WP_TRAIN_ORACLE,
    survey="U6,A1,J1",
)
def text_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 6 WORDPIECE merges (likelihood objective:
    count(ab)/(count(a)·count(b)) — the BERT tokenizer's criterion)
    from the documents corpus. Same relational loop as text_bpe_train
    plus a symbol-count aggregation and two model-sized joins per round;
    the oracle replays all six rounds including the objective, so the
    hash gate covers WHICH pair wins and WHY (all three counts are in
    the hashed rows)."""
    from ssidentity_spark.operators.bpe import wordpiece_train, word_vocab

    docs = load_table(spark, sf_dir, "documents").select("text")
    vocab = word_vocab(docs)
    table, _merges = wordpiece_train(spark, vocab, k=_WP_K)
    return table


@register(
    "text_bm25_scores",
    # BM25 (Robertson/Sparck Jones) against a SELF-CONTAINED query: the
    # corpus's top-3 terms by total count (lexicographic tiebreak), so
    # the query is deterministic and non-vacuous at every SF. The output
    # is rank-FREE (per-doc score, orderless hash) — a top-k by float
    # score would let sub-ulp summation skew flip adjacent ranks between
    # engines; per-doc sums of <=3 terms keep the skew ~9 orders below
    # the 6-dp round. All count inputs are exact integers; k1=1.2,
    # b=0.75 are identical double literals on both engines.
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len) AS DOUBLE) / count(*) AS avg_len
      FROM dl
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), q AS (
      SELECT term, df FROM (
        SELECT tf.term, CAST(sum(tf.tf) AS BIGINT) AS total, min(dfreq.df) AS df
        FROM tf JOIN dfreq USING (term) GROUP BY 1
        ORDER BY total DESC, tf.term ASC LIMIT 3
      )
    )
    SELECT tf.doc_id,
           CAST(count(*) AS INTEGER) AS terms_hit,
           round(sum(
             ln((stats.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / stats.avg_len))
           ), 6) AS bm25
    FROM tf
    JOIN q USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
    survey="U6,A6,J1",
)
def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against the corpus's top-3 terms
    (k1=1.2, b=0.75) — the retrieval scorer a quality/search pipeline
    runs, all relational: document lengths, document frequencies, and
    the query selection all aggregate the SAME (doc, term) tf grain;
    corpus stats broadcast as one row; scoring joins run at tf grain.
    At 100 TB the query side is a broadcast of k terms against a
    MATERIALIZED tf table (column pruning blocks exchange reuse in this
    one-shot form, so each aggregate re-derives tf here) — the
    inverted-index probe shape."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("len").cast("double") / F.count(F.lit(1))).alias("avg_len"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    q = (
        tf.join(dfreq, "term")
        .groupBy("term")
        .agg(
            F.sum("tf").cast("long").alias("total"),
            F.min("df").alias("df"),
        )
        .orderBy(F.desc("total"), F.asc("term"))
        .limit(3)
        .select("term", "df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = (
        idf
        * F.col("tf")
        * 2.2
        / (
            F.col("tf")
            + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("avg_len"))
        )
    )
    return (
        tf.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("terms_hit"),
            F.round(F.sum(score), 6).alias("bm25"),
        )
    )


@register(
    "text_inverted_postings",
    # The index-BUILD shape of retrieval: term -> (document frequency,
    # total term frequency, the first 20 postings by doc_id). Postings
    # hash deterministically because they are sorted and capped by
    # doc_id, never by float score; the df >= 3 floor keeps the
    # artifact the index's dictionary-and-head, not a full dump. The
    # posting head is emitted as a CSV string, not a raw array — the
    # repo-wide flat-output convention (cf. plans/analytics.py
    # array_join) that the driver's pandas canonicalizer requires.
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',')
             AS postings_csv
    FROM tf GROUP BY term HAVING count(*) >= 3
    """,
    survey="U6,A1,O1",
)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: ONE (doc, term) tf shuffle then one
    term-keyed aggregation building each term's posting list — df,
    total tf, and the doc_id-sorted head of the postings. At 100 TB the
    head cap becomes posting-list blocking (fixed-size blocks written
    per term to storage); the shuffle shape — all work keyed on term,
    map-side combined at tf grain — is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_csv"),
        )
        .filter(F.col("df") >= 3)
    )


@register(
    "text_source_kl_divergence",
    # Corpus-mix diagnostics: KL(P_source || P_corpus) over each
    # source's token distribution — the drift signal that catches one
    # crawler source going off-distribution before it skews training.
    # All probabilities come from exact integer counts; the per-source
    # sum over the vocabulary carries ~1e-12 summation skew, ~6 orders
    # under the 6-dp round (the unigram/bigram contract).
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ), src_tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS cs FROM st GROUP BY 1
    ), corp AS (
      SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY 1
    ), tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM corp)
    SELECT st.source,
           CAST(src_tot.cs AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_terms,
           round(sum(
             (CAST(st.c AS DOUBLE) / src_tot.cs)
             * ln((CAST(st.c AS DOUBLE) / src_tot.cs)
                  / (CAST(corp.ct AS DOUBLE) / tot.n))
           ), 6) AS kl_bits_nat
    FROM st
    JOIN src_tot USING (source)
    JOIN corp USING (term)
    CROSS JOIN tot
    GROUP BY st.source, src_tot.cs
    """,
    survey="U6,A6,A1",
)
def text_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical drift: KL(P_source || P_corpus) over token
    distributions, from exact counts. Plan shape at 100 TB: one
    (source, term) shuffle with map-side combine (the corpus-sized
    pass), the corpus marginal is a term-keyed aggregate of that SAME
    frame, the corpus total broadcasts as a scalar, and the final rollup
    is source-keyed. Every source term exists in the corpus marginal by
    construction, so KL is finite without smoothing. (As with the other
    tf-derived scores: column pruning blocks exchange reuse in the
    one-shot form — materialize the counts table first at real scale.)"""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(_words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    src_tot = st.groupBy("source").agg(F.sum("c").cast("long").alias("cs"))
    corp = st.groupBy("term").agg(F.sum("c").cast("long").alias("ct"))
    tot = corp.agg(F.sum("ct").cast("long").alias("n"))
    p_src = F.col("c").cast("double") / F.col("cs")
    p_corp = F.col("ct").cast("double") / F.col("n")
    return (
        st.join(src_tot, "source")
        .join(corp, "term")
        .join(F.broadcast(tot))
        .groupBy("source", "cs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(F.sum(p_src * F.log(p_src / p_corp)), 6).alias(
                "kl_bits_nat"
            ),
        )
        .select(
            "source",
            F.col("cs").alias("n_tokens"),
            "n_terms",
            "kl_bits_nat",
        )
    )


# ---------------------------------------------------------------------------
# U6d — Naive Bayes classifier trained AS AGGREGATION (r9): the
# fasttext-shaped quality/language filtering stage of a corpus pipeline,
# in the one model family whose training IS a groupBy — so the trained
# model and its predictions both sit under the hash gate.
# ---------------------------------------------------------------------------


# Shared by the text_nb_classifier and text_classifier_eval oracles:
# train + score + rank, ending in a `ranked` CTE of one row per
# (doc, class) with the 6-dp-rounded score and the per-doc rank.
_NB_RANKED_CTES = """
    tok AS (
      SELECT doc_id, lang AS true_lang,
             unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, true_lang, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2, 3
    ), ctc AS (
      SELECT true_lang AS lang, term, CAST(sum(tf) AS BIGINT) AS ctc
      FROM tf GROUP BY 1, 2
    ), nc AS (
      SELECT lang, CAST(sum(ctc) AS BIGINT) AS nc FROM ctc GROUP BY 1
    ), vocab AS (SELECT count(DISTINCT term) AS v FROM tf),
    prior AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
    dd AS (SELECT count(*) AS d FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.true_lang, p.lang,
             (ln(CAST(p.nd AS DOUBLE) / dd.d)
              + sum(tf.tf * ln((COALESCE(ctc.ctc, 0) + 1.0)
                               / (nc.nc + vocab.v))))
             / sum(tf.tf) AS s
      FROM tf
      CROSS JOIN prior p
      CROSS JOIN dd
      LEFT JOIN ctc ON ctc.lang = p.lang AND ctc.term = tf.term
      JOIN nc ON nc.lang = p.lang
      CROSS JOIN vocab
      GROUP BY tf.doc_id, tf.true_lang, p.lang, p.nd, dd.d
    ), ranked AS (
      SELECT doc_id, lang, round(s, 6) AS nb_score, true_lang,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY round(s, 6) DESC, lang ASC) AS rn
      FROM scored
    )"""


@register(
    "text_nb_classifier",
    # Multinomial NB over whitespace tokens, labels = lang, add-one
    # smoothing, resubstitution scoring. Every model parameter is an
    # exact integer count (class-term counts, class totals, vocab,
    # priors); identical doubles enter ln() on both engines and the
    # per-token average keeps magnitudes O(-10), so the 6-dp round sits
    # orders above summation skew — the unigram/bigram logprob contract.
    # Argmax = (rounded score DESC, lang ASC), deterministic cross-engine.
    oracle=f"""
    WITH {_NB_RANKED_CTES}
    SELECT doc_id, lang AS pred_lang, nb_score,
           (lang = true_lang) AS is_correct
    FROM ranked WHERE rn = 1
    """,
    survey="U6d,EXT-pipeline,A1",
)
def text_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a multinomial Naive Bayes language classifier ON the corpus
    and score every document with it — "ML training as aggregation". NB
    is the one classifier family whose fit is EXACTLY a groupBy (class-
    term counts, class totals, priors), which is why production corpus
    pipelines could run it at 100 TB as two shuffles: the model never
    leaves the relational plane, no driver-side optimizer loop, and the
    trained parameters are integers the oracle can recompute bit-for-bit.

    Plan shape: tokens pre-aggregate to (doc, term, tf) grain once; the
    MODEL is one (lang, term) shuffle over that same frame; scoring fans
    tf out by the 5-row broadcast class list (K·tf grain — K is the
    label cardinality, bounded), left-joins the model for the
    unseen-(term,class)→0 smoothing default, and rolls up per (doc,
    class) before a 5-row-per-doc argmax window. At real scale the
    (term, lang) model join is the only wide edge; everything else is
    broadcast."""
    return nb_classify(load_table(spark, sf_dir, "documents"))


def nb_classify(d: DataFrame) -> DataFrame:
    """The NB train+score pipeline over a (doc_id, lang, text) frame —
    split from the table read so a test can run it on an in-memory
    corpus."""
    scored = _nb_scored(d)
    w = Window.partitionBy("doc_id").orderBy(
        F.round("s", 6).desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            F.round("s", 6).alias("nb_score"),
            (F.col("lang") == F.col("true_lang")).alias("is_correct"),
        )
    )


def _nb_scored(d: DataFrame) -> DataFrame:
    """The train+score stage shared by ``nb_classify`` (argmax → one
    prediction per doc) and ``text_classifier_eval`` (top-2 → margin):
    returns the full (doc_id, true_lang, lang, s) score frame, one row
    per document × class."""
    tf = (
        d.select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(_words()).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "true_lang", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # THREE consumers (scoring fan-out, model, vocab) — pin one
        # materialization so the corpus is tokenized and shuffled once,
        # not per subtree (the containment-pairs lesson); at petabyte
        # scale this becomes a write_versioned tf table, as the
        # unigram/bigram docstrings note
        .persist()
    )
    ctc = (
        tf.groupBy(F.col("true_lang").alias("lang"), "term")
        .agg(F.sum("tf").cast("long").alias("ctc"))
        .persist()  # two consumers: the model join and class totals
    )
    nc = ctc.groupBy("lang").agg(F.sum("ctc").cast("long").alias("nc"))
    vocab = tf.agg(F.countDistinct("term").alias("v"))
    prior = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    dd = d.agg(F.count(F.lit(1)).alias("d"))

    classes = prior.join(nc, "lang").join(F.broadcast(dd))  # K rows
    logp = F.log(
        (F.coalesce(F.col("ctc"), F.lit(0)) + 1.0)
        / (F.col("nc") + F.col("v"))
    )
    model = ctc.select(
        F.col("lang").alias("_ml"), F.col("term").alias("_mt"), "ctc"
    )
    scored = (
        tf.join(F.broadcast(classes))  # fan out by class: K·tf grain
        .join(
            model,
            (F.col("_ml") == F.col("lang")) & (F.col("_mt") == F.col("term")),
            "left",
        )
        .join(F.broadcast(vocab))
        .groupBy("doc_id", "true_lang", "lang", "nd", "d")
        .agg(
            (
                (
                    F.log(F.col("nd").cast("double") / F.col("d"))
                    + F.sum(F.col("tf") * logp)
                )
                / F.sum("tf")
            ).alias("s")
        )
    )
    return scored


# ---------------------------------------------------------------------------
# U6e — logistic regression trained as k relational gradient rounds (r9):
# the ITERATIVE half of "ML training on the engine" (U6d's NB is the
# closed-form half). Full-batch gradient descent where each round is ONE
# aggregation over the corpus; the DuckDB oracle replays every round as
# unrolled CTEs (the graph_pagerank / text_bpe_train pattern), so the
# TRAINING LOOP itself — not just the final predictions — sits under the
# hash gate.
#
# Determinism contract: features are bounded integer counts, labels 0/1,
# weights re-ROUNDED to 6 dp after every update — identical doubles
# therefore enter exp() on both engines each round, and per-round
# summation skew (~1e-11 abs over N docs) sits orders below the rounding
# step, so drift cannot compound. Predictions use sign(z), never a
# threshold on a rounded value.
# ---------------------------------------------------------------------------

_LR_WORDS = ("the", "data", "stream", "join", "spark", "query", "table", "fast")
_LR_TARGET = "spark"  # y = the doc contains this word
_LR_CAP = 5  # feature = min(count(word), cap) — bounded integer
_LR_ROUNDS = 6
_LR_RATE = 1.0
_LR_D = len(_LR_WORDS)  # + 1 intercept


def _lr_feat_sql() -> str:
    cols = ",\n             ".join(
        f"least(len(list_filter(w, x -> x = '{v}')), {_LR_CAP}) AS x{i}"
        for i, v in enumerate(_LR_WORDS)
    )
    return f"""
    wl AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), feat AS (
      SELECT doc_id,
             CAST(list_contains(w, '{_LR_TARGET}') AS INTEGER) AS y,
             {cols}
      FROM wl WHERE len(w) > 0
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feat)
    """


def _lr_round_sql(t: int) -> str:
    """One full-batch gradient round as CTEs: z from w{t} (the weight
    CTE is a single row of columns w0..w8), p = sigmoid, per-feature
    gradient, w{t+1} re-rounded to 6 dp."""
    z = " + ".join(f"w.w{j} * f.x{j}" for j in range(_LR_D)) + f" + w.w{_LR_D}"
    grads = ",\n             ".join(
        f"sum(f.x{j} * (f.y - p.p)) AS g{j}" for j in range(_LR_D)
    )
    new_w = ",\n             ".join(
        f"round(w.w{j} + {_LR_RATE} * g.g{j} / nn.n, 6) AS w{j}"
        for j in range(_LR_D)
    )
    return f"""
    , p{t} AS (
      SELECT f.doc_id, 1.0 / (1.0 + exp(-({z}))) AS p
      FROM feat f CROSS JOIN w{t} w
    ), g{t} AS (
      SELECT {grads},
             sum(f.y - p.p) AS g{_LR_D}
      FROM feat f JOIN p{t} p USING (doc_id)
    ), w{t + 1} AS (
      SELECT {new_w},
             round(w.w{_LR_D} + {_LR_RATE} * g.g{_LR_D} / nn.n, 6) AS w{_LR_D}
      FROM w{t} w CROSS JOIN g{t} g CROSS JOIN nn
    )
    """


_LR_FINAL_Z = (
    " + ".join(f"w.w{j} * f.x{j}" for j in range(_LR_D)) + f" + w.w{_LR_D}"
)

_LR_ORACLE = (
    "WITH "
    + _lr_feat_sql()
    + ", w0 AS (SELECT "
    + ", ".join(f"0.0 AS w{j}" for j in range(_LR_D + 1))
    + ")"
    + "".join(_lr_round_sql(t) for t in range(_LR_ROUNDS))
    + f"""
    SELECT f.doc_id,
           round({_LR_FINAL_Z}, 6) AS z,
           ({_LR_FINAL_Z} > 0) AS pred,
           (({_LR_FINAL_Z} > 0) = (f.y = 1)) AS correct
    FROM feat f CROSS JOIN w{_LR_ROUNDS} w
    """
)


@register("text_logreg_train", oracle=_LR_ORACLE, survey="U6e,U6d,G1")
def text_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a logistic-regression classifier with 6 full-batch gradient
    rounds ON the engine, then score every document with the learned
    weights — iterative optimization as relational rounds, the trainable
    sibling of U6d's closed-form NB. The task: predict "does this doc
    contain the target word" from 8 bounded word-count features; descent
    must DISCOVER which feature matters (resubstitution accuracy climbs
    from the 0.77 majority rate to ~0.98 by round 6, w_target dominating
    — pinned by test).

    Per round: ONE aggregation over the feature frame computes the full
    gradient (z via a literal-weight expression — the 9-float weight
    vector is collected to the driver, model-sized traffic, the
    documented broadcast-model exception — p = sigmoid, g_j =
    Σ x_ij·(y_i − p_i)); weights re-round to 6 dp so both engines enter
    the next round with identical doubles. The oracle replays all 6
    rounds as unrolled CTEs — the training recursion itself is
    hash-gated. At 100 TB each round is one narrow map + one 9-column
    aggregate over the persisted feature frame: no shuffle at all (the
    gradient is a global aggregate with map-side partials), no
    driver-side movement beyond 9 floats per round."""
    return logreg_train_score(load_table(spark, sf_dir, "documents"))


def logreg_train_score(d: DataFrame) -> DataFrame:
    """The 6-round train + score pipeline over a (doc_id, text) frame —
    split from the table read like ``nb_classify``; its blow-up is in
    SCALE.md "r9 wave 3" (logreg_train row)."""
    w_tok = F.filter(_words(), lambda x: x != "")

    def _count_of(v):
        # closure factory, NOT `lambda x, v=v: ...` — a second parameter
        # (even defaulted) makes PySpark pass (element, index) and the
        # comparison silently becomes token == position
        return F.size(F.filter(w_tok, lambda x: x == v))

    feats = d.select(
        "doc_id",
        F.array_contains(w_tok, _LR_TARGET).cast("int").alias("y"),
        *[
            F.least(_count_of(v), F.lit(_LR_CAP)).cast("int").alias(f"x{i}")
            for i, v in enumerate(_LR_WORDS)
        ],
    ).where(F.size(w_tok) > 0)
    # one materialization feeds all ROUNDS+1 passes — the corpus is
    # tokenized exactly once
    feats = feats.persist()
    n = feats.count()  # model-sized driver traffic: one long

    weights = [0.0] * (_LR_D + 1)
    for _t in range(_LR_ROUNDS):
        # SAME addition order as the oracle (weights left-assoc, bias
        # LAST) in the TRAINING rounds too, not just the final scoring —
        # the contract is identical doubles entering exp() every round
        z = F.lit(weights[0]) * F.col("x0")
        for j in range(1, _LR_D):
            z = z + F.lit(weights[j]) * F.col(f"x{j}")
        z = z + F.lit(weights[_LR_D])
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = (F.col("y").cast("double") - p).alias("r")
        g = feats.select(
            *[
                F.sum(F.col(f"x{j}") * resid).alias(f"g{j}")
                for j in range(_LR_D)
            ],
            F.sum(resid).alias(f"g{_LR_D}"),
        ).collect()[0]
        weights = [
            round(weights[j] + _LR_RATE * float(g[f"g{j}"]) / n, 6)
            for j in range(_LR_D + 1)
        ]

    # SAME addition order as the oracle's left-assoc "w0*x0 + ... + bias"
    # AND round to the value's own 6-dp grid: z is a sum of 6-dp weights
    # times integers, so its exact value has <= 6 decimals — a 4-dp round
    # would sit exactly on half-boundaries where engine rounding rules
    # disagree (caught by the gate: 3/500 rows off by 1e-4)
    z = F.lit(weights[0]) * F.col("x0")
    for j in range(1, _LR_D):
        z = z + F.lit(weights[j]) * F.col(f"x{j}")
    z = z + F.lit(weights[_LR_D])
    return feats.select(
        "doc_id",
        F.round(z, 6).alias("z"),
        (z > 0).alias("pred"),
        ((z > 0) == (F.col("y") == 1)).alias("correct"),
    )


# ---------------------------------------------------------------------------
# U6f — winnowing fingerprints (r9): the MOSS fingerprint selector
# (Schleimer/Wilkerson/Aiken 2003). CDC chunking (X20) cuts documents at
# content-defined boundaries; winnowing instead SELECTS a guaranteed-
# density subset of k-gram hashes — the rightmost-minimal hash of every
# W-window — with the theorem that ANY shared run of >= W+k-1 words is
# caught by at least one shared fingerprint. The plagiarism/overlap
# detector's index shape.
# ---------------------------------------------------------------------------

_WIN_K = 4  # words per gram
_WIN_W = 4  # grams per winnowing window
_WIN_PAD = 999_999_999  # DESC-position tiebreak; 9-digit pad caps docs at 1e9 grams (r9 review: 5 digits broke >99,999-gram docs)


@register(
    "text_winnow_fingerprints",
    # The (hash, position-desc) pair is encoded as ONE sortable string —
    # md5 hex is fixed-width, so min over "hash || lpad(PAD - pos)" IS
    # argmin by (hash asc, pos desc): the rightmost-minimal rule as a
    # plain array_min, no stateful tie logic. Oracle replays selection,
    # dedup AND the cross-doc sharing count.
    oracle=f"""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), keys AS (
      SELECT doc_id,
             list_transform(range(0, len(w) - {_WIN_K} + 1), i ->
               md5(w[CAST(i + 1 AS BIGINT)] || ' ' || w[CAST(i + 2 AS BIGINT)]
                   || ' ' || w[CAST(i + 3 AS BIGINT)] || ' '
                   || w[CAST(i + 4 AS BIGINT)])
               || lpad(CAST({_WIN_PAD} - i AS VARCHAR), 9, '0')
             ) AS ks
      FROM wl WHERE len(w) >= {_WIN_K}
    ), sel AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(ks) - {_WIN_W}, 0) + 1), s ->
                 list_aggregate(ks[CAST(s + 1 AS BIGINT):
                                   CAST(s + {_WIN_W} AS BIGINT)], 'min')
             )) AS fps
      FROM keys
    ), fp AS (
      SELECT doc_id,
             CAST({_WIN_PAD} - CAST(substr(f, 33, 9) AS BIGINT) AS BIGINT)
               AS pos,
             substr(f, 1, 32) AS gram_md5
      FROM sel, unnest(fps) AS u(f)
    )
    SELECT fp.doc_id, fp.pos, fp.gram_md5, s.n AS n_docs_sharing
    FROM fp
    JOIN (SELECT gram_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n
          FROM fp GROUP BY 1) s USING (gram_md5)
    """,
    survey="U6f,X20,EXT-dedup",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection + cross-doc sharing counts: every
    W-window of k-gram hashes contributes its rightmost-minimal hash, so
    fingerprint density is guaranteed (>= 1 per W grams, ~2/(W+1)
    expected) AND any shared word run of length >= W+k-1 = 7 produces a
    shared fingerprint — the overlap-detection index at a fraction of
    the full k-gram set's size.

    Plan shape: selection is ARRAY-side (zero shuffle, extends the
    scan's partitioning — the same plan lesson as X20's CDC chunking);
    the sharing count is one gram-keyed exchange. At 100 TB the
    fingerprint table is the maintained artifact new documents probe by
    equi-join."""
    w = F.filter(_words(), lambda x: x != "")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - _WIN_K),
        lambda i: F.concat(
            F.md5(F.concat_ws(" ", F.slice(w, i + 1, _WIN_K))),
            F.lpad((F.lit(_WIN_PAD) - i).cast("string"), 9, "0"),
        ),
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(F.col("ks")) - _WIN_W, F.lit(0))
    )
    sel = F.array_distinct(
        F.transform(
            starts,
            lambda s: F.array_min(F.slice(F.col("ks"), s + 1, _WIN_W)),
        )
    )
    d = load_table(spark, sf_dir, "documents")
    fp = (
        d.where(F.size(w) >= _WIN_K)
        .select("doc_id", grams.alias("ks"))
        .select("doc_id", F.explode(sel).alias("f"))
        .select(
            "doc_id",
            (
                F.lit(_WIN_PAD) - F.substring("f", 33, 9).cast("long")
            ).alias("pos"),
            F.substring("f", 1, 32).alias("gram_md5"),
        )
    )
    fp = fp.persist()  # sharing aggregate + join back
    sharing = fp.groupBy("gram_md5").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_sharing")
    )
    return fp.join(sharing, "gram_md5").select(
        "doc_id", "pos", "gram_md5", "n_docs_sharing"
    )


def nb_fit(d: DataFrame) -> dict:
    """Fit the U6d NB model and COLLECT it: {classes, log_prior,
    log_cond {term: [per-class]}, log_default [per-class]} — model-sized
    driver traffic (observed (term, class) count rows), the documented
    broadcast-model exception (IVF centroids, eval-gram sets). The
    streaming scorer (streaming/corpus.py:nb_score_stream) broadcasts
    this dict; training stays fully relational (same subtrees as
    nb_classify)."""
    import math

    tf = (
        d.select(
            "doc_id",
            F.col("lang").alias("cls"),
            F.explode(_words()).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "cls", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    ctc_rows = (
        tf.groupBy("cls", "term")
        .agg(F.sum("tf").cast("long").alias("ctc"))
        .collect()
    )
    v = tf.select("term").distinct().count()
    prior_rows = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nd")).collect()
    n_docs = sum(r["nd"] for r in prior_rows)
    classes = sorted(r["lang"] for r in prior_rows)
    k = {c: i for i, c in enumerate(classes)}
    nc = [0] * len(classes)
    by_term: dict[str, list[int]] = {}
    for r in ctc_rows:
        nc[k[r["cls"]]] += r["ctc"]
        by_term.setdefault(r["term"], [0] * len(classes))[k[r["cls"]]] = r[
            "ctc"
        ]
    log_default = [math.log(1.0 / (nc[i] + v)) for i in range(len(classes))]
    log_cond = {
        t: [
            math.log((cnts[i] + 1.0) / (nc[i] + v))
            for i in range(len(classes))
        ]
        for t, cnts in by_term.items()
    }
    log_prior = [
        math.log(
            next(r["nd"] for r in prior_rows if r["lang"] == c) / n_docs
        )
        for c in classes
    ]
    return {
        "classes": classes,
        "log_prior": log_prior,
        "log_cond": log_cond,
        "log_default": log_default,
    }


# ---------------------------------------------------------------------------
# U6g — sparse tf-idf cosine pairs (r9): the SPARSE-vector sibling of the
# dense near-dup family. MinHash-LSH approximates set Jaccard; embedding
# cosine needs a dense model; this is the classic lexical similarity join —
# tf-idf weighted 3-word shingles, candidates from an inverted-index
# equi-join (docs must SHARE a shingle to pair), exact cosine on candidates
# only. The df cap is the scale knob: a shingle in more than DF_CAP docs is
# boilerplate, carries ~zero idf weight, and would alone contribute
# O(df^2) candidate pairs — capping it bounds every posting list, so the
# candidate volume is sum(df^2 | df <= cap), never O(n^2).
# ---------------------------------------------------------------------------

_SC_DF_CAP = 50  # posting-list bound: pairs only via shingles in <= 50 docs
_SC_THRESHOLD = 0.25  # report pairs at or above this rounded cosine


@register(
    "text_sparse_cosine_pairs",
    # Determinism: tf and df are exact integers, idf = ln(n_docs/df) sees
    # the same double on both engines, and the dot/norm sums' addition-
    # order skew sits orders below the 6-dp round; the threshold compares
    # the ROUNDED value (the dedup_embedding_cosine contract).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
      FROM documents
    ), tf AS (
      SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 2),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM toks WHERE len(w) >= 3
      ) GROUP BY 1, 2
    ), nd AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
    ), dfq AS (
      SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), wv AS (
      SELECT tf.doc_id, tf.shingle, tf.tf * ln(nd.n_docs / dfq.df) AS w
      FROM tf JOIN dfq USING (shingle) CROSS JOIN nd
      WHERE dfq.df <= {_SC_DF_CAP}
    ), nrm AS (
      SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wv GROUP BY 1
    ), dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared, sum(a.w * b.w) AS dot
      FROM wv a JOIN wv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared, cos FROM (
      SELECT doc_a, doc_b, n_shared,
             round(dot / (x.nrm * y.nrm), 6) AS cos
      FROM dot JOIN nrm x ON doc_a = x.doc_id JOIN nrm y ON doc_b = y.doc_id
    ) WHERE cos >= {_SC_THRESHOLD}
    """,
    survey="U6g,EXT-dedup,U6,J2",
)
def text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tf-idf cosine over every candidate pair from the shingle
    inverted index: two docs pair only if they share a <=DF_CAP-df
    shingle, so the pair space is the index's posting-list collisions,
    never the n^2 cross. tf keeps multiplicity (a repeated shingle
    weighs more — multiset semantics, unlike MinHash's set Jaccard).

    Plan shape: the tf aggregate is one (doc, shingle) exchange; df
    reuses the shingle key; the candidate self-join shuffles on shingle
    (same key again) and the dot aggregate on the pair key; norms join
    back at pair grain. At 100 TB the wv table is the maintainable
    artifact (append-only tf/df refresh), DF_CAP bounds every posting
    list, and the pair aggregate is the only new exchange per refresh.
    DF_CAP is corpus-relative in production (a fixed absolute cap
    tightens as the corpus grows — SCALE.md "r9 wave 6" measures both
    regimes); the gate pins the fixed-cap form."""
    d = load_table(spark, sf_dir, "documents")
    return sparse_cosine_pairs(d, _SC_DF_CAP, _SC_THRESHOLD)


def sparse_cosine_pairs(
    d: DataFrame, df_cap: int, threshold: float
) -> DataFrame:
    """Parametrized body of text_sparse_cosine_pairs: ``df_cap`` scales
    with the corpus in production to keep semantics scale-invariant."""
    t = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("w"))
        .filter(F.size("w") >= 3)
    )
    w = F.col("w")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    tf = (
        t.select("doc_id", F.explode(shingles).alias("shingle"))
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # persist tf as well as wv: df derives FROM tf, and column pruning
    # otherwise gives the df aggregate its own corpus re-scan +
    # re-explode subtree (plan audit caught the duplicate; one corpus
    # pass instead of two, −3% at sf0.1 and the real win at corpus scale)
    tf = tf.persist()
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    dfq = tf.groupBy("shingle").agg(F.count(F.lit(1)).cast("long").alias("df"))
    wv = (
        tf.join(dfq, "shingle")
        .where(F.col("df") <= df_cap)
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "shingle",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    wv = wv.persist()  # norms + both sides of the candidate self-join
    nrm = wv.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = wv.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("w").alias("wa")
    )
    b = wv.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("w").alias("wb")
    )
    dot = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
        )
    )
    cos = F.round(
        F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6
    ).alias("cos")
    return (
        dot.join(nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a")), "doc_a")
        .join(nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b")), "doc_b")
        .select("doc_a", "doc_b", "n_shared", cos)
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# T10c — WordPiece tokenization (r9): the RUNTIME half of the tokenizer
# story. text_wordpiece_train learns the merges (hash-gated); this applies
# the learned vocabulary with BERT's actual inference rule — greedy
# LONGEST-MATCH-FIRST over the symbol set — which is NOT the same as
# replaying merges in training order (BPE's rule, text_bpe_tokenize). The
# walk is bounded (a 12-char word + '</w>' is at most 13 pieces), so both
# engines unroll it: Spark as one array fold, DuckDB as 13 chained CTEs —
# no recursion, no UDF, the segmentation itself under the hash.
# ---------------------------------------------------------------------------

_WPT_STEPS = 13  # max pieces: 12 single-char symbols + the '</w>' terminator

_WPT_ORACLE = (
    _BPE_VOCAB_CTE
    + ","
    + ",".join(_wp_stage(i) for i in range(_WP_K))
    + r""",
dw AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
  ) WHERE regexp_full_match(w, '[a-z]+') AND len(w) BETWEEN 1 AND 12
  GROUP BY 1
), vsyms AS MATERIALIZED (
  -- MATERIALIZED: DuckDB inlines CTEs by reference, and this one hangs
  -- off b0..b5 whose v-chain re-expands v0 exponentially — the 13 walk
  -- steps below each reference bl -> vsyms, which un-materialized
  -- multiplies into thousands of parquet scans (fd exhaustion)
  SELECT DISTINCT word[CAST(i AS BIGINT)] AS sym
  FROM dw, unnest(generate_series(1, len(word))) AS g(i)
  UNION SELECT '</w>'"""
    + "".join(f"\n  UNION SELECT lhs || rhs FROM b{i}" for i in range(_WP_K))
    + """
), wx AS (
  SELECT word, freq, word || '</w>' AS wext FROM dw
), bl AS MATERIALIZED (
  SELECT wx.word, CAST(g.i AS INTEGER) AS pos,
         CAST(max(len(v.sym)) AS INTEGER) AS j
  FROM wx
  CROSS JOIN unnest(generate_series(1, len(wx.wext))) AS g(i)
  JOIN vsyms v ON substr(wx.wext, g.i, len(v.sym)) = v.sym
  GROUP BY 1, 2
), s0w AS (
  SELECT word, freq, wext, 1 AS pos, 0 AS n, '' AS pieces FROM wx
)"""
    + "".join(
        f""", s{k + 1}w AS (
  SELECT s.word, s.freq, s.wext,
         CASE WHEN s.pos <= len(s.wext) THEN s.pos + bl.j ELSE s.pos END
           AS pos,
         CASE WHEN s.pos <= len(s.wext) THEN s.n + 1 ELSE s.n END AS n,
         CASE WHEN s.pos <= len(s.wext)
              THEN s.pieces || ' ' || substr(s.wext, s.pos, bl.j)
              ELSE s.pieces END AS pieces
  FROM s{k}w s LEFT JOIN bl ON bl.word = s.word AND bl.pos = s.pos
)"""
        for k in range(_WPT_STEPS)
    )
    + f"""
SELECT word, freq, CAST(n AS INTEGER) AS n_pieces, ltrim(pieces) AS pieces
FROM s{_WPT_STEPS}w
"""
)


@register(
    "text_wordpiece_tokenize",
    # Output grain is the DISTINCT eligible word — the tokenization
    # table itself (the artifact a 100 TB corpus pass broadcast-joins
    # back to occurrences), so the hash pins every word's exact
    # segmentation, not a summary of it.
    oracle=_WPT_ORACLE,
    survey="T10c,U6,D7",
)
def text_wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match WordPiece segmentation of every distinct
    corpus word under the vocabulary learned by text_wordpiece_train
    (initial characters + '</w>' + the 6 merged symbols).

    Plan shape: training is the 6-round relational loop (model-sized
    driver traffic, the documented collect exception); the vocabulary
    is a ~35-symbol literal broadcast into ONE array fold per distinct
    word — the distinct aggregate is the only exchange, and the fold is
    pure codegen (jumps array = longest matching symbol per offset,
    then a bounded 13-step walk). At 100 TB the word table is Zipf-tiny
    relative to the corpus; occurrences re-join the segmentation by
    broadcast."""
    from ssidentity_spark.operators.bpe import wordpiece_train, word_vocab

    docs = load_table(spark, sf_dir, "documents").select("text")
    _table, merges = wordpiece_train(spark, word_vocab(docs), k=_WP_K)

    w = F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    dw = (
        spread(docs)
        .select(w)
        .where(F.col("word").rlike("^[a-z]+$") & (F.length("word") <= 12))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    chars = sorted(
        r["c"]
        for r in dw.select(F.explode(F.split("word", "")).alias("c"))
        .where(F.col("c") != "")
        .distinct()
        .collect()
    )
    syms = sorted(set(chars) | {"</w>"} | {l + r for l, r in merges})

    base = dw.select(
        "word", "freq", F.concat(F.col("word"), F.lit("</w>")).alias("wext")
    ).withColumn("vocab", F.array(*[F.lit(s) for s in syms]))
    # materialize the jumps array as a real column BEFORE the walk —
    # CSE does not reach into lambda bodies (the r6 shingle lesson), so
    # folding over the raw expression would recompute all |vocab| probes
    # per step
    jumps = F.transform(
        F.sequence(F.lit(1), F.length("wext")),
        lambda pos: F.array_max(
            F.transform(
                F.filter(
                    F.col("vocab"),
                    lambda v: F.substr(F.col("wext"), pos, F.length(v)) == v,
                ),
                lambda v: F.length(v),
            )
        ),
    )
    base = base.select("word", "freq", "wext", jumps.alias("jumps"))

    init = F.struct(
        F.lit(1).alias("pos"), F.lit(0).alias("n"), F.lit("").alias("pieces")
    )

    def step(acc, _):
        j = F.element_at(F.col("jumps"), acc["pos"])
        return F.when(
            acc["pos"] <= F.length("wext"),
            F.struct(
                (acc["pos"] + j).alias("pos"),
                (acc["n"] + 1).alias("n"),
                F.concat(
                    acc["pieces"],
                    F.lit(" "),
                    F.substr(F.col("wext"), acc["pos"], j),
                ).alias("pieces"),
            ),
        ).otherwise(acc)

    walk = F.aggregate(F.sequence(F.lit(1), F.lit(_WPT_STEPS)), init, step)
    return base.select(
        "word",
        "freq",
        walk["n"].cast("int").alias("n_pieces"),
        F.ltrim(walk["pieces"]).alias("pieces"),
    )


# ---------------------------------------------------------------------------
# U6h (r9) — n-gram NOVELTY: the corpus-freshness curve. As a corpus is
# ingested in doc_id order, what fraction of each document's 3-grams has
# never been seen before? Dedup asks "is this document a copy"; novelty
# asks the dual — "how much NEW text does each document contribute" — the
# signal ingestion monitoring plots to detect a source going stale (curve
# collapses toward 0) or a scrape loop (sudden plateau).
# ---------------------------------------------------------------------------


@register(
    "text_ngram_novelty",
    # First occurrence = min(doc_id) per gram — exact integers; the
    # novelty ratio is one rounded division. No ordering dependence
    # beyond doc_id itself, so the hash is order-insensitively stable.
    oracle="""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             w[CAST(i AS BIGINT)] || ' ' || w[CAST(i + 1 AS BIGINT)]
               || ' ' || w[CAST(i + 2 AS BIGINT)] AS g
      FROM wl, unnest(generate_series(1, len(w) - 2)) AS u(i)
      WHERE len(w) >= 3
    ), firsts AS (
      SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1
    )
    SELECT grams.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN firsts.first_doc = grams.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(sum(CASE WHEN firsts.first_doc = grams.doc_id
                          THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS novelty
    FROM grams JOIN firsts USING (g)
    GROUP BY 1
    """,
    survey="U6h,U6,EXT-dedup,A4",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-grams whose
    FIRST corpus occurrence (min doc_id) is this document — the
    ingestion-monitoring curve that collapses when a source goes stale
    and plateaus on a scrape loop (dedup's dual: contribution, not
    copying).

    Plan shape: one gram-keyed exchange for the first-occurrence census
    (min is map-side combinable), one join back at gram grain, one
    per-doc aggregate. At 100 TB the firsts table is the maintained
    artifact — a new batch's novelty needs only its own grams probed
    against it (the X12 incremental pattern applies verbatim)."""
    d = load_table(spark, sf_dir, "documents")
    wl = spread(d.select("doc_id", "text")).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("w"),
    )
    w = F.col("w")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(w, i),
            F.element_at(w, i + 1),
            F.element_at(w, i + 2),
        ),
    )
    grams = (
        wl.where(F.size("w") >= 3)
        .select("doc_id", F.explode(F.array_distinct(shingles)).alias("g"))
        .persist()  # census + the join-back share one materialization
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            novel.cast("long").alias("n_novel"),
            F.round(
                novel / F.count(F.lit(1)).cast("double"), 6
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# E5 (r12) — classifier quality eval: the confusion matrix + decision
# margins for the corpus-trained NB (U6d), completing the eval family
# (E1 retrieval, E2 LSH recall, E3 split leakage, E4 linkage recall):
# train-and-score is only half an ML pipeline — the release gate reads
# per-class confusion and HOW CONFIDENT the wrong calls were. One row
# per observed (true_lang, pred_lang) cell with the doc count, the
# cell's share of its true class, and the mean top1−top2 score margin
# (high-margin errors are the systematically-confusable pairs; low
# margin = boundary noise).
#
# Determinism: counts are integers; the margin is a difference of two
# 6-dp-rounded scores recovered onto the exact DECIMAL(18,6) grid (both
# engines cast the same double to the same nearest-6-dp decimal), so
# per-cell margin SUMS are exact decimal arithmetic — order-free — and
# each output is ONE double division of exact quantities, rounded 6 dp
# with nothing selecting on it (the ts_gapfill "exact sum divided once"
# contract).
# ---------------------------------------------------------------------------


@register(
    "text_classifier_eval",
    oracle=f"""
    WITH {_NB_RANKED_CTES},
    top2 AS (
      SELECT a.doc_id, a.true_lang, a.lang AS pred_lang,
             CAST(a.nb_score AS DECIMAL(18,6))
               - CAST(b.nb_score AS DECIMAL(18,6)) AS margin
      FROM ranked a JOIN ranked b
        ON a.doc_id = b.doc_id AND a.rn = 1 AND b.rn = 2
    ), cells AS (
      SELECT true_lang, pred_lang,
             CAST(count(*) AS BIGINT) AS n,
             sum(margin) AS sm
      FROM top2 GROUP BY 1, 2
    ), truths AS (
      SELECT true_lang, CAST(count(*) AS BIGINT) AS n_true
      FROM top2 GROUP BY 1
    )
    SELECT c.true_lang, c.pred_lang, c.n, t.n_true,
           round(CAST(c.n AS DOUBLE) / t.n_true, 6) AS cell_rate,
           round(CAST(c.sm AS DOUBLE) / c.n, 6) AS avg_margin
    FROM cells c JOIN truths t USING (true_lang)
    """,
    survey="E5,U6d,A9,W1",
)
def text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix with decision margins for the corpus-trained NB
    language classifier: per observed (true, predicted) class cell, the
    document count, its share of the true class, and the mean top1−top2
    rounded-score margin — the table a model-release review reads to
    find systematically confusable class pairs (high-margin confident
    errors) vs boundary noise (low margin).

    Plan shape: the shared train+score stage (_nb_scored — the model is
    one (lang, term) shuffle, scoring fans out by the K-row broadcast
    class list), ONE per-doc rank window cut at 2, a self-join on the
    doc key at 2-rows-per-doc grain, then a K²-bounded aggregate — the
    eval output is class-pair-sized no matter the corpus.

    Determinism: integer counts; margins recovered onto the exact
    DECIMAL(18,6) grid before summing (order-free exact), one double
    division per output, 6 dp cosmetic round (banner comment). Requires
    ≥2 classes (the margin needs a runner-up — K=5 in the corpus)."""
    scored = _nb_scored(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(
        F.round("s", 6).desc(), F.col("lang").asc()
    )
    # four consumers downstream (top, runner-up, and top2's two
    # aggregates): eagerly checkpoint the narrow 2-rows-per-doc frame so
    # the score window over the tf pipeline runs ONCE and every branch
    # reads a materialized leaf (a persist here still re-printed the
    # whole scored subtree per scan — 58 flagged exchanges for ~10
    # executed; the checkpoint makes the audit match reality)
    r = materialize(
        scored.withColumn("rn", F.row_number().over(w))
        .where("rn <= 2")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            "rn",
            F.round("s", 6).cast("decimal(18,6)").alias("sd"),
        )
    )
    top = r.where("rn = 1").select(
        "doc_id", "true_lang", F.col("lang").alias("pred_lang"),
        F.col("sd").alias("s1"),
    )
    run = r.where("rn = 2").select("doc_id", F.col("sd").alias("s2"))
    top2 = top.join(run, "doc_id").select(
        "doc_id", "true_lang", "pred_lang",
        (F.col("s1") - F.col("s2")).alias("margin"),
    )
    cells = top2.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("margin").alias("sm"),
    )
    truths = top2.groupBy("true_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    return cells.join(F.broadcast(truths), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        "n_true",
        F.round(F.col("n").cast("double") / F.col("n_true"), 6).alias(
            "cell_rate"
        ),
        F.round(F.col("sm").cast("double") / F.col("n"), 6).alias(
            "avg_margin"
        ),
    )
