"""Deduplication operator family over ``documents`` / ``embeddings``
(BASELINE.json north star; SURVEY §2 EXT rows; reference impetus
ssidentity.c:26 "use MAC as primary key" = dedup-by-key).

Five dedup strategies, each with a DuckDB oracle twin:

- exact       — md5-hash groupBy, keep-first semantics (one shuffle on hash).
- MinHash LSH — 3-word shingles → k=8 md5-derived minhashes → 4 bands of 2 →
                candidate pairs join on band key. The band join bounds the
                candidate set, so at 100 TB the cost is O(docs × k) + the
                (tiny) bucket join — never O(docs²).
- SimHash     — 32-bit signature from token hashes; near-dup pairs found by
                banding the signature into 4 byte chunks (pigeonhole: any
                pair within Hamming distance 3 shares at least one intact
                chunk) and verifying bit_count(xor) ≤ 3 on candidates only.
- n-gram Jaccard — exact verification on a bounded candidate set (shared
                shingle join over a doc subset).
- embedding cosine — near-dup by cosine over banded candidates (threshold).

Hash functions are md5-based so the two engines agree bit-for-bit; min over
fixed-length lowercase-hex strings is min over the underlying integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ssidentity_spark.io import load_table, spread
from ssidentity_spark.registry import register

N_MINHASH = 8  # k independent min-hashes
BAND_ROWS = 2  # rows per LSH band → 4 bands
HEX_LEN = 12  # 48-bit hash prefix (fits comfortably in BIGINT if needed)


def band_key_expr(b: int):
    """md5 over band ``b``'s BAND_ROWS minhash columns — the LSH bucket
    key, shared by the MinHash pair generation and ``band_index`` so
    both band identically."""
    return F.md5(
        F.concat(
            F.lit(f"{b}|"),
            *[F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)],
        )
    )


def _words_col():
    # the one tokenization definition — shared with the text family
    from ssidentity_spark.plans.text import _words

    return _words("text")


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy, keep lowest doc_id per identical text
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_hash,
           CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS BOOLEAN) AS keep,
           count(*) OVER (PARTITION BY md5(text)) AS n_copies
    FROM documents
    """,
    survey="EXT-dedup",
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    w = Window.partitionBy(h)
    return d.select(
        "doc_id",
        h.alias("content_hash"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs
# ---------------------------------------------------------------------------


def _minhash_sql_shingles() -> str:
    """DuckDB CTE producing (doc_id, shingle) distinct 3-word shingles."""
    return """
    toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
      FROM documents
    ), shingles AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM toks WHERE len(w) >= 3
    )"""


N_MD5 = (N_MINHASH * HEX_LEN + 31) // 32  # md5 digests needed per shingle


def _minhash_agg_sql() -> str:
    digest = " || ".join(f"md5('{j}:' || shingle)" for j in range(N_MD5))
    cols = ", ".join(
        f"min(substr(dig, {1 + j * HEX_LEN}, {HEX_LEN})) AS mh{j}"
        for j in range(N_MINHASH)
    )
    return (
        f"SELECT doc_id, {cols} FROM "
        f"(SELECT doc_id, {digest} AS dig FROM shingles) GROUP BY doc_id"
    )


def _spark_shingles(d: DataFrame) -> DataFrame:
    # split ONCE into a materialized array column: CSE does not reach into
    # lambda bodies, so building shingles off the raw split expression
    # re-ran the regex split per element_at (3 × n_shingles per row) —
    # the same 10-20× trap measured on text_fingerprint at sf0.1
    # spread BEFORE the tokenize/explode/k-hash work: the signature stage's
    # cost is rows × (split + n_shingles × 3 md5), not bytes, so inheriting
    # a small file's single scan partition serializes it (io.spread is a
    # no-op once the scan is already byte-wide)
    t = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", _words_col().alias("w"))
        .filter(F.size("w") >= 3)
    )
    w = F.col("w")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    return t.select("doc_id", F.explode(F.array_distinct(shingles)).alias("shingle"))


def _spark_minhash(sh: DataFrame) -> DataFrame:
    """k independent 48-bit min-hashes per doc.

    r6: the k hash functions are SLICES of ceil(k·12/32) md5 digests
    (here 3) instead of k separate md5 calls — 8 × 12 hex chars need 96
    hex chars = 3 digests, so the per-shingle hash work drops 8 → 3 md5
    invocations (measured −15% on the signature stage at sf0.1; at
    corpus scale this is pure map-side CPU on the dominant explode).
    Slices of independent-input md5s are independent uniform hashes, so
    the MinHash estimator is unchanged; md5 stays the hash because it is
    the one function both engines evaluate bit-identically."""
    dig = F.concat(
        *[F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle"))) for j in range(N_MD5)]
    )
    pre = sh.select("doc_id", dig.alias("dig"))
    aggs = [
        F.min(F.substring(F.col("dig"), 1 + j * HEX_LEN, HEX_LEN)).alias(f"mh{j}")
        for j in range(N_MINHASH)
    ]
    return pre.groupBy("doc_id").agg(*aggs)


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_minhash_sql_shingles()}
    {_minhash_agg_sql()}
    """,
    survey="EXT-dedup",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return _spark_minhash(_spark_shingles(d))


def _lsh_pairs_sql_ctes() -> str:
    """DuckDB CTE chain ending in ``pairs(doc_a, doc_b)`` — the LSH
    candidate pairs (shared between the pairs query and the CC clusters)."""
    return f"""{_minhash_sql_shingles()}, sigs AS (
      {_minhash_agg_sql()}
    ), bands AS (
      SELECT doc_id, b,
             md5(CAST(b AS VARCHAR) || '|' ||
                 CASE b WHEN 0 THEN mh0 || mh1
                        WHEN 1 THEN mh2 || mh3
                        WHEN 2 THEN mh4 || mh5
                        ELSE mh6 || mh7 END) AS band_key
      FROM sigs, unnest(generate_series(0, 3)) AS t(b)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id
    )"""


def _spark_lsh_pairs(d: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs via BUCKET ROLLUP — the scale-correct shape.

    Candidate pairs come from ``groupBy(band, band_key)`` + intra-bucket
    pair expansion instead of a self-join on the band key. The r5 plan
    audit showed the self-join evaluated the whole shingle→minhash→band
    subtree TWICE (no exchange reuse across the broadcast boundary, and
    none under an SMJ hint either — measured); at 100 TB that doubles the
    dominant cost (corpus scan + shingle explosion), and the broadcast
    build side stops fitting anyway. The rollup computes the pipeline
    once; per-bucket work is quadratic only in the bucket population —
    which the blow-up study measured to track the largest NEAR-DUP FAMILY
    (SCALE.md: 90 → 911 as the planted family grows 10 → 100 replicas),
    not the corpus. Local sf0.1 medians: self-join BHJ 2.37 s, rollup
    2.19 s — the scale-right shape is also the faster one here. (A
    BIGINT-min variant via ``conv`` was measured 0.45 s SLOWER — conv per
    shingle-hash costs more than the SortAggregate it avoids; mins stay
    string-typed.)

    ``max_bucket`` is the degenerate-bucket guardrail for corpora whose
    hottest family outgrows partition scale (boilerplate/templated text
    putting millions of docs in one band bucket → a quadratic blow-up no
    cluster survives): buckets wider than the cap are DROPPED, trading
    recall on the pathological family for a bounded plan — the standard
    production LSH mitigation. Default ``None`` keeps exact semantics
    (the registered query's oracle computes ALL pairs)."""
    sigs = _spark_minhash(_spark_shingles(d))
    band_exprs = [
        F.struct(F.lit(b).alias("b"), band_key_expr(b).alias("band_key"))
        for b in range(N_MINHASH // BAND_ROWS)
    ]
    buckets = (
        sigs.select("doc_id", F.explode(F.array(*band_exprs)).alias("bk"))
        .groupBy(F.col("bk.b").alias("b"), F.col("bk.band_key").alias("band_key"))
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("members") <= max_bucket)
    m = F.col("members")
    pair_arr = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_minhash_lsh_pairs",
    bench=True,
    oracle=f"""
    WITH {_lsh_pairs_sql_ctes()}
    SELECT doc_a, doc_b FROM pairs
    """,
    survey="EXT-dedup",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return _spark_lsh_pairs(d)


@register(
    "dedup_cc_clusters",
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
    )
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           d.doc_id = coalesce(c.cluster_id, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """,
    survey="EXT-dedup,A3",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph, then every document keyed to its cluster's minimum doc_id;
    singletons are their own canonical. This is the keep-one-per-cluster
    stage of a training-data dedup pipeline; the DuckDB oracle computes
    the same fixpoint with a recursive transitive-closure CTE, so the
    iterative algorithm is hash-verified, not rows-only.

    Near-dup replica clusters are CHAIN-shaped (distant replicas connect
    only through intermediates), so component diameter grows with
    duplication depth. The r6 30× blow-up drove the then HashMin operator
    (O(diameter) rounds) into its 50-round ceiling, and it silently
    returned an UNDER-MERGED clustering (4,432 clusters against the
    converged 4,429; SCALE.md). The shared operator
    (operators/graph.py:connected_components) needs O(log diameter)
    rounds and raises rather than return labels short of its fixpoint."""
    from ssidentity_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = _spark_lsh_pairs(d)
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    return d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        (F.col("doc_id") == F.coalesce("cluster_id", F.col("doc_id"))).alias(
            "is_canonical"
        ),
    )


@register(
    "dedup_containment_pairs",
    # ASYMMETRIC near-dup scoring (r9): Jaccard treats "A is a quarter
    # of B" and "B is a quarter of A" identically; containment
    # |A∩B|/|A| tells you A is ENTIRELY inside B (the quote/boilerplate/
    # superset case doc-level symmetric scores miss — the Broder
    # containment estimator's exact form). Scored only on LSH candidate
    # pairs, so the shingle-intersection join is candidate-bounded,
    # never corpus².
    oracle=f"""
    WITH {_lsh_pairs_sql_ctes()}, sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shingles GROUP BY 1
    ), inter AS (
      SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_common
      FROM pairs p
      JOIN shingles sa ON sa.doc_id = p.doc_a
      JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           round(CAST(i.n_common AS DOUBLE) / za.n, 6) AS containment_a,
           round(CAST(i.n_common AS DOUBLE) / zb.n, 6) AS containment_b,
           round(CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common), 6)
             AS jaccard
    FROM inter i
    JOIN sz za ON za.doc_id = i.doc_a
    JOIN sz zb ON zb.doc_id = i.doc_b
    """,
    survey="EXT-dedup,X11",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact containment + Jaccard for every LSH candidate pair:
    `containment_a` = |A∩B|/|A| (1.0 ⇒ A's shingles are a subset of
    B's — A is contained in B), computed from the TRUE shingle sets,
    not the MinHash estimate (candidates are few enough post-LSH that
    exactness is affordable — the standard verify stage). Scale shape:
    shingles restricted to pair members via semi-join (the corpus's
    non-candidate docs never re-shingle into this), ONE shingle-keyed
    equi-join between the two sides, count per pair, then two
    model-sized size joins. All work is candidate-bounded."""
    d = load_table(spark, sf_dir, "documents")
    # persist the two shared subtrees: `pairs` feeds the member list AND
    # both sides of the intersection join, `psh` feeds the size aggregate
    # AND both join sides — without pinning one materialization each,
    # Spark re-evaluates the whole shingle→minhash→band pipeline per
    # reference (first plan audit showed 33 exchanges; cf. the same fix
    # in operators/rowids.py). Cache lifetime ends with the frame
    # (ContextCleaner), the rowids contract.
    pairs = _spark_lsh_pairs(d).persist()
    member = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select("doc_b"))
        .distinct()
    )
    psh = _spark_shingles(d).join(member, "doc_id", "left_semi").persist()
    sz = psh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        pairs.join(
            psh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            psh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common") / F.col("na"), 6).alias("containment_a"),
            F.round(F.col("n_common") / F.col("nb"), 6).alias("containment_b"),
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_cluster_keep_best",
    # The SELECTION stage of cluster dedup (r9): real pipelines keep the
    # BEST copy per near-dup cluster (most content), not an arbitrary
    # one — min-id canonicals throw away the longest variant of a page
    # whenever a truncated copy has a smaller id. Same recursive-CTE
    # component fixpoint as dedup_cc_clusters, then a quality argmax
    # per cluster; both the clustering AND the selection rule are under
    # the hash.
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
    ), clustered AS (
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             CAST(len(d.text) AS BIGINT) AS n_chars
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, cluster_id, n_chars,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) = 1 AS keep
    FROM clustered
    """,
    survey="EXT-dedup,A3,W1",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster: connected components over the LSH pair
    graph, then ONE row per document with its cluster id, its quality
    (content length — the standard keep-the-longest heuristic) and the
    keep verdict: the cluster's quality argmax survives, ties break on
    doc_id. Scale shape: the component solve takes O(log diameter)
    rounds; selection adds exactly one cluster-keyed window over a
    3-column frame — no text moves through the argmax, only (doc,
    cluster, length)."""
    from ssidentity_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = _spark_lsh_pairs(d)
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    clustered = (
        d.select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return clustered.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        (F.row_number().over(w) == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# SimHash: 32-bit signature; weighted bit votes from md5-derived token hashes
# ---------------------------------------------------------------------------


@register(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ), tok_cnt AS (
      SELECT doc_id, tok, count(*) AS cnt,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks GROUP BY 1, 2
    ), votes AS (
      SELECT doc_id, b,
             sum(cnt * (2 * ((h >> b) & 1) - 1)) AS vote
      FROM tok_cnt, unnest(generate_series(0, 31)) AS t(b)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT)
             AS simhash
    FROM votes GROUP BY doc_id
    """,
    survey="EXT-dedup",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_words_col()).alias("tok"))
    tok_cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tok_cnt = tok_cnt.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    votes = (
        tok_cnt.select(
            "doc_id", "cnt", "h", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
        )
        .withColumn("vote", F.col("cnt") * (2 * F.expr("shiftright(h, b) & 1") - 1))
        .groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("vote"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("simhash")
    )


@register(
    "dedup_simhash_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ), tok_cnt AS (
      SELECT doc_id, tok, count(*) AS cnt,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks GROUP BY 1, 2
    ), votes AS (
      SELECT doc_id, b, sum(cnt * (2 * ((h >> b) & 1) - 1)) AS vote
      FROM tok_cnt, unnest(generate_series(0, 31)) AS t(b)
      GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT)
               AS simhash
      FROM votes GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id, simhash, c, (simhash >> (c * 8)) & 255 AS chunk_val
      FROM sig, unnest(generate_series(0, 3)) AS t(c)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM chunks a JOIN chunks b
      ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    survey="EXT-dedup",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucket ROLLUP, not a self-join: aliasing `chunks` on both join
    # sides evaluated the whole tokenize → 32-way bit-vote signature
    # subtree twice (no exchange reuse across the join boundary — the
    # same measured trap _spark_lsh_pairs documents). The rollup computes
    # signatures once; bucket payload is (doc_id, simhash) — two longs
    sig = dedup_simhash(spark, sf_dir)
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"),
    ).withColumn("chunk_val", F.expr("shiftright(simhash, c * 8) & 255"))
    buckets = (
        chunks.groupBy("c", "chunk_val")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias(
                "members"
            )
        )
        .filter(F.size("members") >= 2)
    )
    m = F.col("members")
    pair_arr = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
                    .cast("int")
                    .alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard over a bounded candidate set (shared-shingle join on
# a deterministic doc subset — the verification stage of a dedup pipeline)
# ---------------------------------------------------------------------------


@register(
    "dedup_jaccard_topk",
    oracle="""
    WITH sub AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
    ), toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM sub
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM toks WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) /
                 (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
    survey="EXT-dedup",
)
def dedup_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE evaluation of the shingle explode: per-doc shingle counts ride
    # along via a window, then a shared-shingle bucket rollup expands
    # intra-bucket pairs carrying both docs' sizes — the old shape
    # (self-join a×b + a separate sizes aggregation) evaluated the
    # explode subtree three times (r7 review; same measured
    # no-exchange-reuse trap as _spark_lsh_pairs)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    sh = _spark_shingles(d)
    tagged = sh.select(
        "doc_id",
        "shingle",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_sh"),
    )
    groups = (
        tagged.groupBy("shingle")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias(
                "members"
            )
        )
        .filter(F.size("members") >= 2)
    )
    m = F.col("members")
    pair_arr = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["n_sh"].alias("na"),
                    y["n_sh"].alias("nb"),
                ),
            ),
        )
    )
    inter = (
        groups.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("p.na").alias("na"),
            F.first("p.nb").alias("nb"),
        )
    )
    return (
        inter.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: banded sign-projection LSH candidates + exact
# cosine verification. Projection lattice c(j,i) = ((37j+11)*i + 17j+5) % 97
# - 48 — the same deterministic integer coefficients as plans/similarity.py,
# identical in both engines so buckets (and therefore candidates) agree
# bit-for-bit.
# ---------------------------------------------------------------------------

EMB_N_BANDS = 4  # OR over bands → recall knob
EMB_BAND_BITS = 8  # 2^8 buckets per band → candidate-volume knob
EMB_COS_THRESHOLD = 0.35


def _emb_proj_sql(j: int) -> str:
    a, b = 37 * j + 11, 17 * j + 5
    return (
        f"list_sum(list_transform(generate_series(1, len(v)), "
        f"i -> v[i] * ((({a} * i + {b}) % 97) - 48)))"
    )


def _emb_bands_sql() -> str:
    selects = []
    for band in range(EMB_N_BANDS):
        bits = " + ".join(
            f"(CASE WHEN {_emb_proj_sql(band * EMB_BAND_BITS + r)} > 0"
            f" THEN {1 << r} ELSE 0 END)"
            for r in range(EMB_BAND_BITS)
        )
        selects.append(f"SELECT vec_id, {band} AS band, {bits} AS sig FROM n")
    return " UNION ALL ".join(selects)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    ), bands AS (
      {_emb_bands_sql()}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos FROM (
      SELECT c.vec_a, c.vec_b,
             round(list_sum(list_transform(generate_series(1, len(x.v)),
                            i -> x.v[i] * y.v[i])) / (x.nrm * y.nrm), 6) AS cos
      FROM cand c JOIN n x ON c.vec_a = x.vec_id JOIN n y ON c.vec_b = y.vec_id
    ) WHERE cos >= {EMB_COS_THRESHOLD}
    """,
    survey="EXT-dedup,U5",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via banded sign-projection LSH + exact verify.

    Candidate pairs come from an EQUI-join on (band, 8-bit signature) — the
    same banding trick as MinHash-LSH above, so the candidate set is bounded
    by band collisions and the plan never materializes the O(n²) pair space
    (the round-1 version theta-joined on vec_id<vec_id, a broadcast
    nested-loop that cannot scale and yielded 0 rows at gate scale).
    Verification is exact cosine on candidates only, computed as native
    zip_with/aggregate expressions. At 100 TB the knobs are BAND_BITS
    (bucket count per band → candidate volume) and EMB_N_BANDS (recall);
    8 bits/4 bands cuts the gate-scale pair space 61× while leaving a
    non-empty, oracle-verified result (14 pairs at sf0.01)."""
    em = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select(
        "vec_id",
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)).alias("nrm"),
    )

    def proj_expr(j: int):
        a, b = 37 * j + 11, 17 * j + 5

        def coeff(x, i):
            return x * (((F.lit(a) * i + F.lit(b)) % 97) - 48)

        return F.aggregate(
            F.zip_with(F.col("v"), F.sequence(F.lit(1), F.size("v")), coeff),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def band_sig(band: int):
        sig = None
        for r in range(EMB_BAND_BITS):
            bit = F.when(proj_expr(band * EMB_BAND_BITS + r) > 0, F.lit(1 << r)).otherwise(
                F.lit(0)
            )
            sig = bit if sig is None else sig + bit
        return sig

    band_structs = F.array(
        *[
            F.struct(F.lit(band).alias("band"), band_sig(band).alias("sig"))
            for band in range(EMB_N_BANDS)
        ]
    )
    # signature-only rows through the candidate stage — vectors rejoin
    # after the distinct, so the wide arrays never ride the band shuffle.
    # Candidates come from a bucket ROLLUP, not a bands⋈bands self-join:
    # aliasing `bands` twice evaluated the 32-projection signature
    # subtree twice (r7 review; the measured no-exchange-reuse trap
    # _spark_lsh_pairs documents) — the rollup computes projections once
    bands = base.select("vec_id", F.explode(band_structs).alias("bs")).select(
        "vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    buckets = (
        bands.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("members"))
        .filter(F.size("members") >= 2)
    )
    m = F.col("members")
    pair_arr = F.flatten(
        F.transform(
            m,
            lambda p, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda q: F.struct(p.alias("vec_a"), q.alias("vec_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.vec_a", "p.vec_b")
        .distinct()
    )
    x = base.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("xv"), F.col("nrm").alias("xn")
    )
    y = base.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("yv"), F.col("nrm").alias("yn")
    )
    dot = F.aggregate(
        F.zip_with(F.col("xv"), F.col("yv"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(dot / (F.col("xn") * F.col("yn")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= EMB_COS_THRESHOLD)
    )


# same centroid rule as the pinned-IVF family (one source of truth, the
# r6 shared-constants rule) and the same cosine bar as
# dedup_embedding_cosine above
from ssidentity_spark.plans.similarity import PINNED_CENT_MOD as _SEM_CENT_MOD  # noqa: E402

SEMDEDUP_COS = EMB_COS_THRESHOLD


def _semantic_oracle(cent_cte: str) -> str:
    """The SemDeDup pipeline as DuckDB SQL, parameterized on where the
    centroids come from (the pinned mod rule, or a trained-model
    snapshot parquet — the same technique that hash-gated the trained
    ANN family in r6)."""
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    ), cent AS (
      {cent_cte}
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
    ), dups AS (
      SELECT DISTINCT b.vec_id AS vec_id
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
                           i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6)
            >= {SEMDEDUP_COS}
    )
    SELECT c.vec_id, c.cell, d.vec_id IS NULL AS kept
    FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
    """


def _assign_cells(base: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, v, nrm, cell), PERSISTED —
    the frame has multiple downstream consumers (pair a-side, b-side,
    final verdict). Spark's cache manager dedupes by canonical plan, so
    repeated invocations of the same query reuse ONE entry (verified: 3
    runs -> 1 persisted RDD) rather than stacking copies — the entry
    lives until session end, like the fixture caches."""
    from ssidentity_spark.plans.similarity import nearest_cells

    return (
        nearest_cells(base, cent, 1)
        .select("vec_id", "v", "nrm", F.col("cid").alias("cell"))
        .persist()
    )


def _cell_pair_cos(cells: DataFrame) -> DataFrame:
    """Intra-cell candidate pairs with exact cosine: (a_id, b_id, cos),
    a_id < b_id — the EQUI join on the cell id that bounds pairwise work
    to O(sum cell_size^2)."""
    from ssidentity_spark.operators.blocktopk import cos6

    a = cells.select(
        F.col("cell").alias("p_cell"),
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    b = cells.select(
        F.col("cell").alias("p_cell"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    return (
        a.join(b, "p_cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            cos6("av", "anrm", "bv", "bnrm").alias("cos"),
        )
    )


def _semantic_verdict(base: DataFrame, cent: DataFrame) -> DataFrame:
    """Spark twin of :func:`_semantic_oracle`: assign → intra-cell pair
    scan → dominated-by-lower-id verdict (see dedup_semantic_cells for
    the chain semantics). ``cent`` is the model-sized centroid frame
    (cid, cv, cnrm), broadcast for the assignment pass."""
    cells = _assign_cells(base, cent)
    dups = (
        _cell_pair_cos(cells)
        .filter(F.col("cos") >= SEMDEDUP_COS)
        .select(F.col("b_id").alias("dup_id"))
        .distinct()
    )
    return (
        cells.join(dups, cells.vec_id == dups.dup_id, "left")
        .select("vec_id", "cell", F.col("dup_id").isNull().alias("kept"))
    )


@register(
    "dedup_semantic_cells",
    # SemDeDup (Abbas et al. 2023) shape: cluster the embedding space,
    # then judge near-duplication only WITHIN clusters — pairwise work is
    # O(sum cell_size^2), never O(n^2) over the corpus. Reuses the
    # pinned-centroid IVF machinery (sim_ivf_pinned_topk), which is what
    # makes the whole cluster -> intra-cell verdict pipeline
    # SQL-expressible and hash-verifiable.
    oracle=_semantic_oracle(
        f"SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n "
        f"WHERE vec_id % {_SEM_CENT_MOD} = 0"
    ),
    survey="EXT-dedup,U5,J3",
    bench=True,  # r7 headliner: broadcast-assign + persisted reuse +
    # intra-cell equi-join pair scan (seeds its baseline this round)
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup shape: assign every embedding to its
    nearest pinned centroid, then drop any vector whose cell contains
    ANY lower-id vector within cosine >= the bar (the dominated-by-
    lower-id rule — deterministic and fully relational). NOTE the chain
    semantics this implies (pinned by test): on a~b~c with a,c not
    similar, both b AND c drop (c's only near-dup, b, was itself
    dropped) — deliberately MORE aggressive than a sequential greedy
    scan, which would keep c. That conservative over-deletion is the
    price of a rule both engines can state without iteration (a true
    greedy survivor set needs non-monotone recursion SQL cannot
    express); for corpus dedup, dropping a borderline near-dup is the
    cheap direction. Returns the per-vector verdict (vec_id, cell,
    kept).

    Scale shape: centroid assignment is the model-sized broadcast pass +
    one argmax window; the duplicate scan is an EQUI-join on the cell id
    (plan-pinned: no nested loop), so pairwise cosine work is bounded by
    cell sizes, which the centroid count controls (k grows with the
    corpus like a trained codebook)."""
    from ssidentity_spark.plans.similarity import _norm_vec

    em = load_table(spark, sf_dir, "embeddings")
    base = _norm_vec(em)
    cent = base.filter(F.col("vec_id") % _SEM_CENT_MOD == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    return _semantic_verdict(base, cent)


def _semantic_trained_cent_cte() -> str:
    from ssidentity_spark.plans.similarity import _model_snap

    snap = _model_snap("semdedup_centroids")
    return (
        f"SELECT cid, list_transform(cv, x -> CAST(x AS DOUBLE)) AS cv, "
        f"sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) "
        f"* CAST(x AS DOUBLE)))) AS cnrm "
        f"FROM read_parquet('{snap}')"
    )


@register(
    "dedup_semantic_trained",
    # the TRAINED path of X9: same pipeline, centroids from the real
    # Lloyd's k-means trainer (operators/ivf.py) — hash-gated via the
    # trained-model snapshot technique that gated the ANN family in r6
    # (the exact float64 model lands in .fixture_snapshots/ and DuckDB
    # replays assignment -> intra-cell verdict from it).
    oracle=_semantic_oracle(_semantic_trained_cent_cte()),
    survey="EXT-dedup,U5,J3",
)
def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a TRAINED codebook: k-means centroids (k ≈ √n is
    the production sizing; 16 here matching the IVF family) instead of
    the pinned mod rule — the variant a real 100 TB deployment runs,
    with assignment O(n·√n) instead of the pinned rule's O(n²/97).
    Same verdict semantics as ``dedup_semantic_cells``."""
    from ssidentity_spark.operators.ivf import train_centroids
    from ssidentity_spark.plans.similarity import (
        IVF_ITERS,
        IVF_K,
        _norm_vec,
        _snapshot_centroid_model,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(em, k=IVF_K, iters=IVF_ITERS)
    _snapshot_centroid_model("semdedup_centroids", cents)
    base = _norm_vec(em)
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)]
    cent = (
        spark.createDataFrame(rows, "cid bigint, cv array<double>")
        .select(
            "cid",
            "cv",
            F.sqrt(
                F.aggregate("cv", F.lit(0.0), lambda acc, x: acc + x * x)
            ).alias("cnrm"),
        )
    )
    return _semantic_verdict(base, cent)


from ssidentity_spark.plans.multimodal import DHASH_BANDS_SQL  # noqa: E402


@register(
    "dedup_image_neardup_pairs",
    # LSH banding over the 64-bit perceptual hash: candidate = any of the
    # four 16-bit bands identical (a pair differing in <= 3 bits is
    # guaranteed caught — pigeonhole over 4 bands), survivor = total
    # hamming distance <= 6. The oracle recomputes the WHOLE pipeline
    # (PNG bytes -> 9x8 resize -> dHash bands) in SQL and takes the same
    # band-match-then-verify path, so the decode, the resize arithmetic,
    # the banding, and the hamming verdicts are all under the hash.
    oracle=f"""
    WITH {DHASH_BANDS_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(CAST(a.bd[1] AS BIGINT), CAST(b.bd[1] AS BIGINT)))
              + bit_count(xor(CAST(a.bd[2] AS BIGINT), CAST(b.bd[2] AS BIGINT)))
              + bit_count(xor(CAST(a.bd[3] AS BIGINT), CAST(b.bd[3] AS BIGINT)))
              + bit_count(xor(CAST(a.bd[4] AS BIGINT), CAST(b.bd[4] AS BIGINT)))
             AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.doc_id < b.doc_id
     AND (a.bd[1] = b.bd[1] OR a.bd[2] = b.bd[2]
          OR a.bd[3] = b.bd[3] OR a.bd[4] = b.bd[4])
    WHERE bit_count(xor(CAST(a.bd[1] AS BIGINT), CAST(b.bd[1] AS BIGINT)))
        + bit_count(xor(CAST(a.bd[2] AS BIGINT), CAST(b.bd[2] AS BIGINT)))
        + bit_count(xor(CAST(a.bd[3] AS BIGINT), CAST(b.bd[3] AS BIGINT)))
        + bit_count(xor(CAST(a.bd[4] AS BIGINT), CAST(b.bd[4] AS BIGINT))) <= 6
    """,
    survey="EXT-dedup,EXT-multimodal,J1",
)
def dedup_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidate pairs via dHash LSH banding: hash every
    image (real PNG decode + 9x8 resize, operators/multimodal.py), split
    the 64 bits into four 16-bit bands, bucket-join on (band index,
    band value) — an EQUI-join, never a nested loop — then verify
    candidates by full hamming distance <= 6. The same shape as the
    MinHash text path (dedup_minhash_lsh_pairs): probability work up
    front, exact verification on the candidate set only."""
    from ssidentity_spark.operators.multimodal import image_dhash_features

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = image_dhash_features(d).select("doc_id", "band0", "band1", "band2", "band3")
    bands = F.array("band0", "band1", "band2", "band3")
    # bucket ROLLUP, not an exploded⋈exploded self-join: the self-join's
    # subtree contains the Arrow PNG decode → resize → dHash pass (the
    # most expensive per-row work in this module) and would evaluate it
    # twice (r7 review; the measured no-exchange-reuse trap
    # _spark_lsh_pairs documents). Bucket payload is five longs per doc
    exploded = h.select(
        "doc_id", "band0", "band1", "band2", "band3",
        F.posexplode(bands).alias("band_idx", "band_val"),
    )
    buckets = (
        exploded.groupBy("band_idx", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("doc_id", "band0", "band1", "band2", "band3")
                )
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )

    def _ham(x, y, k):
        return F.bit_count(x[k].cast("long").bitwiseXOR(y[k].cast("long")))

    m = F.col("members")
    pair_arr = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    (
                        _ham(x, y, "band0") + _ham(x, y, "band1")
                        + _ham(x, y, "band2") + _ham(x, y, "band3")
                    ).cast("int").alias("hamming"),
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        # a pair matching in k bands appears k times — one verdict per pair
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= 6)
    )
    return pairs


# ---------------------------------------------------------------------------
# Exact substring-level dedup (duplicated spans, the suffix-array-dedup
# result shape): which parts of each document are verbatim repeats of
# text seen in OTHER documents — finer than every doc-level family
# above (a doc can be 95% boilerplate and 5% unique; doc-level MinHash
# scores it one way, a trainer wants the 95% measured).
# ---------------------------------------------------------------------------

SPAN_K = 40  # window length (chars); the public exact-substring-dedup
# threshold shape — long enough that a 40-char verbatim match is
# duplication, not coincidence, short enough to catch boilerplate


@register(
    "dedup_span_exact",
    # Both engines enumerate EVERY k-char window (stride 1 — what makes
    # the result exact rather than shingle-sampled), mark windows whose
    # gram occurs in >= 2 distinct docs, and aggregate per doc. Counts
    # are exact integers; the gram STRING is the key on both sides, so
    # there is no hash-collision caveat under the gate.
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             substr(text, CAST(unnest(generate_series(1, len(text) - {SPAN_K - 1})) AS INTEGER), {SPAN_K}) AS gram
      FROM documents
      WHERE len(text) >= {SPAN_K}
    ),
    gd AS (SELECT gram, doc_id, count(*) AS c FROM w GROUP BY 1, 2),
    nd AS (SELECT gram, count(*) AS ndocs FROM gd GROUP BY 1)
    SELECT gd.doc_id,
           CAST(sum(gd.c) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN nd.ndocs >= 2 THEN gd.c ELSE 0 END) AS BIGINT) AS n_dup_windows
    FROM gd JOIN nd USING (gram)
    GROUP BY 1
    """,
    survey="EXT-dedup",
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span profile per document: slide a 40-char
    window at stride 1 over every doc, count windows whose exact text
    recurs in at least one OTHER document. The doc-level dedup family
    answers "is this doc a near-copy"; this answers "how much of this
    doc is copied" — the substring-granularity result of the public
    suffix-array training-data dedup recipe, re-expressed as keyed
    aggregations instead of a suffix array (which does not distribute).
    Plan shape and the skew study that chose it: :func:`span_profile`."""
    return span_profile(load_table(spark, sf_dir, "documents"))


def _span_windows(d: DataFrame) -> DataFrame:
    return d.where(F.length("text") >= SPAN_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {SPAN_K - 1}),"
                f" i -> substring(text, i, {SPAN_K}))"
            )
        ).alias("gram"),
    )


def span_profile(
    d: DataFrame, mode: str = "repartition", salt: int = 16
) -> DataFrame:
    """Per-doc (n_windows, n_dup_windows) over stride-1 SPAN_K windows.

    Three plan shapes, measured against each other on a PLANTED
    90%-one-gram corpus (the boilerplate worst case VERDICT r8 ask #4
    named) and a verbatim-replicated corpus, 39M windows each
    (full table in SCALE.md "r9: span-dedup skew"):

    - ``repartition`` (SHIPPED): one explicit gram exchange of RAW
      window rows reused by the (gram, doc_id) aggregate and the
      per-gram window (subset-key clustering — the lineage explodes
      once and shuffles once). Fastest on realistic corpora (59 s vs
      91/204 s at 30x) and within 22% of the best even on the planted
      corpus locally. Its scale exposure: the hottest gram's entire
      WINDOW MASS serializes through one task (90% of rows on the
      planted corpus) — survivable in one local JVM, a straggler/OOM
      on a real cluster once one gram's windows outgrow an executor.
    - ``twophase``: partial+final aggregation on (gram, doc_id) — a
      boilerplate doc's repeated windows collapse map-side, then the
      per-gram window runs over the aggregated frame. Skew bound drops
      from windows-per-gram to DOCS-per-gram; costs a second
      corpus-sized exchange (91 s vs 59 s uniform at 30x, but 51 s vs
      63 s planted — it wins exactly when boilerplate dominates). The
      100 TB boilerplate-corpus choice, with AQE skew-join handling
      the residual docs-per-gram hot key.
    - ``salted``: twophase + a salted ndocs join instead of the window
      — no per-gram colocation at all. Measured HONESTLY BAD on
      realistic corpora (204 s at 30x): replicating EVERY gram's ndocs
      row ``salt``-fold multiplies the join input by the full gram
      vocabulary. Only the hot grams need salting; at real scale use
      twophase + AQE skew-join (which splits exactly the oversized
      partitions) rather than this blanket form — kept as the measured
      reference point, not a recommendation.

    All three produce identical results (cross-checked per run by the
    probe, and the shipped mode is under the driver's oracle hash)."""
    if mode not in ("repartition", "twophase", "salted"):
        raise ValueError(
            f"mode must be repartition|twophase|salted, got {mode!r}"
        )
    w = _span_windows(d)
    if mode == "repartition":
        gd = (
            w.repartition(F.col("gram"))
            .groupBy("gram", "doc_id")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        gd = w.groupBy("gram", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    if mode == "salted":
        nd = gd.groupBy("gram").agg(F.count(F.lit(1)).alias("ndocs"))
        nd_s = nd.select(
            "gram",
            "ndocs",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt"),
        )
        gd_s = gd.withColumn(
            "_salt", F.pmod(F.hash("doc_id"), F.lit(salt)).cast("int")
        )
        gstats = gd_s.join(nd_s, ["gram", "_salt"])
    else:
        gstats = gd.withColumn(
            "ndocs", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
    return gstats.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("ndocs") >= 2, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup_windows"),
    )


@register(
    "dedup_span_trim",
    # The FIX operator for the span profile above: remove every later
    # occurrence of a duplicated 40-char window (keep the corpus-first,
    # in (doc_id, pos) order), merging overlapping doomed windows into
    # maximal cut intervals. Both engines run the identical pipeline —
    # first-occurrence via row_number over (gram → doc_id, pos),
    # gaps-and-islands interval merge, then rebuild the trimmed text —
    # and the md5 of the REBUILT TEXT is under the hash, so a one-char
    # disagreement in any interval boundary breaks the gate.
    oracle="""
    WITH w AS (
      SELECT doc_id, pos, substr(text, pos, 40) AS gram
      FROM (
        SELECT doc_id, text,
               CAST(unnest(generate_series(1, len(text) - 39)) AS INTEGER) AS pos
        FROM documents WHERE len(text) >= 40
      )
    ),
    r AS (
      SELECT doc_id, pos, pos + 39 AS e
      FROM (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
            FROM w)
      WHERE rn > 1
    ),
    m AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM r
    ),
    isl AS (
      SELECT doc_id, pos, e,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    ),
    iv AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e FROM isl GROUP BY 1, 2),
    seg AS (
      SELECT doc_id,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS gs,
             s - 1 AS ge
      FROM iv
      UNION ALL
      SELECT iv.doc_id, max(iv.e) + 1 AS gs, max(len(d.text)) AS ge
      FROM iv JOIN documents d USING (doc_id) GROUP BY iv.doc_id
    ),
    cut AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS n_cut FROM iv GROUP BY 1),
    trm AS (
      SELECT seg.doc_id,
             string_agg(CASE WHEN ge >= gs THEN substr(d.text, gs, ge - gs + 1)
                        ELSE '' END, '' ORDER BY gs) AS trimmed
      FROM seg JOIN documents d USING (doc_id) GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(c.n_cut, 0) AS n_cut_chars,
           CAST(len(coalesce(t.trimmed, d.text)) AS BIGINT) AS n_kept_chars,
           md5(coalesce(t.trimmed, d.text)) AS trimmed_md5
    FROM documents d
    LEFT JOIN cut c USING (doc_id)
    LEFT JOIN trm t USING (doc_id)
    """,
    survey="EXT-dedup,X3",
)
def dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup, the surgical form: every 40-char window
    whose text occurred earlier in the corpus ((doc_id, pos) order) is
    doomed; overlapping/adjacent doomed windows merge into maximal cut
    intervals (gaps-and-islands); the cut text is REBUILT per doc by a
    single fold over the sorted interval array. First occurrences stay,
    so corpus-wide every duplicated span survives exactly once — the
    public exact-substring training-data recipe, distributed as two
    keyed windows + one fold instead of a suffix array.

    Scale shape: same single corpus-sized gram exchange as
    dedup_span_exact (row_number instead of count over the gram key),
    then strictly per-doc windows over the DOOMED subset (tiny: the
    duplicated fraction), a per-doc interval rollup, and one broadcast-
    friendly join back to documents. The fold is an O(intervals)
    expression, JVM-side, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    K = SPAN_K
    w = (
        d.where(F.length("text") >= K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length(text) - {K - 1}),"
                    f" i -> substring(text, i, {K}))"
                )
            ).alias("pos0", "gram"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    )
    rn = F.row_number().over(
        Window.partitionBy("gram").orderBy("doc_id", "pos")
    )
    doomed = (
        w.withColumn("rn", rn)
        .where(F.col("rn") > 1)
        .select("doc_id", "pos", (F.col("pos") + K - 1).alias("e"))
    )
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_e = F.max("e").over(
        by_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = doomed.withColumn(
        "island",
        F.sum(
            F.when(F.col("pos") > F.coalesce(prev_max_e, F.lit(-1)) + 1, 1)
            .otherwise(0)
        ).over(by_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max("e").alias("e")
    )
    per_doc = iv.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("n_cut"),
    )
    # rebuild: fold over sorted cut intervals, emitting the kept text
    # between the cursor and each interval start, then the tail
    trimmed = F.when(F.col("ivs").isNull(), F.col("text")).otherwise(
        F.expr(
            "aggregate(ivs,"
            " named_struct('cur', 1, 'acc', ''),"
            " (st, x) -> named_struct("
            "   'cur', x.e + 1,"
            "   'acc', concat(st.acc, substring(text, st.cur, x.s - st.cur))),"
            " st -> concat(st.acc, substring(text, st.cur,"
            "                     length(text) - st.cur + 1)))"
        )
    )
    return (
        d.join(per_doc, "doc_id", "left")
        .withColumn("trimmed", trimmed)
        .select(
            "doc_id",
            F.coalesce(F.col("n_cut"), F.lit(0)).cast("long").alias("n_cut_chars"),
            F.length("trimmed").cast("long").alias("n_kept_chars"),
            F.md5(F.encode("trimmed", "UTF-8")).alias("trimmed_md5"),
        )
    )




def band_index(docs: DataFrame) -> DataFrame:
    """The LSH band index rows ``(doc_id, b, band_key)`` for ``docs`` —
    the representation a MAINTAINED signature table persists: one row
    per (doc, band), equi-joinable on (b, band_key). Computing it costs
    the full shingle→minhash pipeline over ``docs``, which is exactly
    why production persists it and appends only each delta's rows."""
    sigs = _spark_minhash(_spark_shingles(docs))
    band_exprs = [
        F.struct(F.lit(b).alias("b"), band_key_expr(b).alias("band_key"))
        for b in range(N_MINHASH // BAND_ROWS)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_exprs)).alias("bk")
    ).select(
        "doc_id", F.col("bk.b").alias("b"), F.col("bk.band_key").alias("band_key")
    )


def probe_band_index(index: DataFrame, delta_ids: DataFrame) -> DataFrame:
    """Candidate pairs touching at least one ``delta_ids`` doc, from a
    PRE-KEYED band index (``band_index`` rows — live or read back from a
    maintained table): delta membership is broadcast-joined onto the
    band keys BEFORE the bucket rollup, so each bucket carries its
    member list plus its delta sublist and pairs fall out of an array
    expression. Buckets with no delta member never reach the pair
    stage. No shingling happens here — the probe's cost is one rollup
    of the index plus the matched buckets' pair expansion."""
    flagged = index.join(
        # distinct: a duplicated delta id would double-match each keyed
        # row, putting the doc into `members` twice and fabricating an
        # (x, x) self-pair downstream
        F.broadcast(delta_ids.distinct().withColumn("is_delta", F.lit(True))),
        "doc_id",
        "left",
    )
    buckets = (
        flagged.groupBy("b", "band_key")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("members"),
            # collect_list drops the NULLs non-delta members produce
            F.sort_array(
                F.collect_list(F.when(F.col("is_delta"), F.col("doc_id")))
            ).alias("dmembers"),
        )
        .filter((F.size("dmembers") >= 1) & (F.size("members") >= 2))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("dmembers"),
            lambda d: F.transform(
                F.filter(F.col("members"), lambda m: m != d),
                lambda m: F.struct(
                    F.least(d, m).alias("doc_a"), F.greatest(d, m).alias("doc_b")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def incremental_probe_pairs(full: DataFrame, delta_ids: DataFrame) -> DataFrame:
    """Candidate pairs touching at least one ``delta_ids`` doc, from ONE
    pass of the signature pipeline over the live corpus — never a
    second signature computation for the probe side (the same
    double-subtree trap the r5 plan audit fixed in _spark_lsh_pairs;
    the first draft of this operator had it and the plan audit showed
    two full Generate→minhash branches). Composition of
    :func:`band_index` (the one signature pass) and
    :func:`probe_band_index` (the delta-flagged bucket rollup)."""
    return probe_band_index(band_index(full), delta_ids)


@register(
    "dedup_incremental_pairs",
    # The INCREMENTAL ingest gate: docs arrive as an append to the
    # versioned table; the change feed supplies exactly the new batch;
    # candidate pairs are generated by PROBING the band index with the
    # delta's band keys only — never re-running pair-gen over the whole
    # corpus. The oracle computes the FULL corpus pair set and filters
    # to pairs touching the delta (doc_id % 5 = 0): hash equality proves
    # the delta-driven probe finds exactly the pairs a full recompute
    # would emit for the new docs — the property that lets a 100 TB
    # corpus admit a daily batch at delta cost.
    oracle=f"""
    WITH {_lsh_pairs_sql_ctes()}
    SELECT doc_a, doc_b FROM pairs
    WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
    """,
    survey="EXT-dedup,S5",
)
def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates for a NEW batch against the whole corpus:
    base docs (doc_id % 5 != 0) are committed as v0 of a versioned
    table, the new batch (doc_id % 5 == 0) lands as the v1 append, the
    change feed (operators/tablelog.read_changes) recovers the delta,
    and the delta's band keys probe the bucket rollup — pairs touching
    at least one new doc, normalized (doc_a < doc_b), distinct.

    Scale shape: signatures are per-doc (in production the signature
    table is MAINTAINED — recomputed here only because the gate builds
    its world from scratch); the probe join is keyed by the DELTA's
    band keys, so pair generation costs O(delta × bands + matched
    bucket members), not O(corpus²) and not even O(corpus): untouched
    buckets never leave the index. The both-new case (two docs inside
    one batch) falls out of the same probe via least/greatest + dedup."""
    import os
    import shutil

    from ssidentity_spark.fixtures import SNAPSHOT_DIR
    from ssidentity_spark.operators.tablelog import (
        read_changes,
        read_versioned,
        write_versioned,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(SNAPSHOT_DIR, f"incr_dedup_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    write_versioned(d.where("doc_id % 5 != 0"), path, "append")  # v0 base
    write_versioned(d.where("doc_id % 5 = 0"), path, "append")  # v1 batch

    delta_ids = (
        read_changes(spark, path, 0)
        .where("_commit_version = 1")
        .select("doc_id")
    )
    full = read_versioned(spark, path).select("doc_id", "text")
    return incremental_probe_pairs(full, delta_ids)


@register(
    "dedup_incremental_maintained",
    # The MAINTAINED-index form of the incremental gate (VERDICT r8 ask
    # #5): the band index itself is the versioned table. v0 persists the
    # base corpus's signatures; the delta appends ONLY its own signature
    # rows; the probe reads the maintained index back from storage — the
    # base corpus is never re-shingled (pinned by plan test). Oracle =
    # the full-recompute pair set filtered to delta-touching pairs, so
    # hash equality proves index maintenance loses nothing vs rebuilding
    # the index from scratch — the property that makes a 100 TB
    # signature table an asset you append to, not a cost you re-pay
    # per batch.
    oracle=f"""
    WITH {_lsh_pairs_sql_ctes()}
    SELECT doc_a, doc_b FROM pairs
    WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
    """,
    survey="EXT-dedup,S5,V2",
)
def dedup_incremental_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full medallion loop for incremental near-dup detection:

    1. BOOTSTRAP — the base corpus's band index (``band_index``:
       one (doc_id, b, band_key) row per doc per band) is committed as
       v0 of a versioned managed table. This is the one full
       shingle+minhash pass the base ever pays.
    2. INGEST — a new batch arrives; ONLY its documents are shingled,
       and their index rows are appended as v1. The append is the
       maintenance: no base row is read, rewritten, or re-hashed.
    3. PROBE — the tip of the maintained index is scanned back from
       parquet and the delta's ids (recovered from the index's own
       change feed — v1's rows name exactly the new docs) flag the
       bucket rollup. Pairs touching at least one new doc fall out.

    Scale shape: step 2 costs O(delta) signature work + one append;
    step 3 is one rollup of the index (a narrow 3-column table, ~bands
    × corpus rows) + pair expansion on matched buckets only. Nothing
    is O(corpus) in TEXT bytes after v0 — the index rows are the only
    thing the probe ever rescans, and partition pruning on band_key
    ranges (Z-order/OPTIMIZE on the index table) tightens even that."""
    import os
    import shutil

    from ssidentity_spark.fixtures import SNAPSHOT_DIR
    from ssidentity_spark.operators.tablelog import (
        read_changes,
        read_versioned,
        write_versioned,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(SNAPSHOT_DIR, f"incr_index_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    # v0: bootstrap — the base corpus's signatures, persisted
    write_versioned(band_index(d.where("doc_id % 5 != 0")), path, "append")
    # v1: the delta's signatures appended — the ONLY new signature work
    write_versioned(band_index(d.where("doc_id % 5 = 0")), path, "append")

    index = read_versioned(spark, path)  # the maintained index, from disk
    delta_ids = (
        read_changes(spark, path, 0)
        .where("_commit_version = 1")
        .select("doc_id")
        .distinct()
    )
    return probe_band_index(index, delta_ids)


# ---------------------------------------------------------------------------
# X20 — content-defined chunking (r9): shift-stable chunk dedup. X11's
# fixed stride-1 windows profile VERBATIM copies exactly, but cost one
# row per character-window; fixed-size block chunking is cheap but a
# one-word insertion shifts every later block (zero hash reuse). CDC
# (the rsync/LBFS/FastCDC idea, at word granularity) cuts where the
# CONTENT says so — a rolling-gram hash below a threshold — so an edit
# only disturbs the chunks it touches and the stream re-synchronizes.
# ---------------------------------------------------------------------------

_CDC_GRAM = 3  # rolling window: the cut decision sees the last 3 words
_CDC_CUT = "2"  # md5 first hex char < '2' → boundary (p = 2/16 = 1/8)


def cdc_chunks(d: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, n_words, chunk_md5) — content-defined chunks,
    one row per chunk, computed row-locally with ZERO shuffle. A word
    position is a boundary iff the md5 of the trailing ``_CDC_GRAM``-word
    gram starts below ``_CDC_CUT`` (expected chunk length 8 words); the
    NEXT word starts a new chunk, so a boundary at the last position cuts
    nothing (excluded — it would mint an empty trailing chunk). No
    min/max chunk normalization (FastCDC's extension) — the
    expected-length argument is documented, not enforced.

    The word array ``w`` and the boundary positions ``bpos`` are bound
    as columns in two successive projections before the per-chunk
    ``transform``: Spark does not eliminate common subexpressions inside
    lambdas, so inlining them re-split the text and re-hashed every gram
    once per chunk (super-linear in document length). A stateless
    projection, so it also runs unchanged on a streaming frame
    (``streaming/corpus.py:cdc_chunks_stream``).

    Reference cite: ssidentity.c:26 dedups observations by MAC key;
    chunk-level content dedup is the corpus-scale generalization."""
    from ssidentity_spark.plans.text import _words

    # the one shared tokenization definition (r9 review: re-inlining the
    # split regex here would let a tokenizer change silently diverge
    # chunk md5s from the text family)
    words = d.select(
        "doc_id", F.filter(_words("text"), lambda x: x != "").alias("w")
    ).where(F.size("w") > 0)  # else sequence(0, 0) mints a phantom md5('')
    w = F.col("w")
    # 0-based positions whose trailing gram hash cuts (never the last)
    bounds = words.select(
        "doc_id",
        "w",
        F.filter(
            F.sequence(F.lit(0), F.size(w) - 1),
            lambda i: (i >= _CDC_GRAM - 1)
            & (i < F.size(w) - 1)
            & (
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(w, i - 1, _CDC_GRAM))), 1, 1
                )
                < _CDC_CUT
            ),
        ).alias("bpos"),
    )
    bpos = F.col("bpos")

    def _start(i):  # 0-based first word of chunk i
        return F.when(i == 0, F.lit(0)).otherwise(
            F.element_at(bpos, i.cast("int")) + 1
        )

    def _end(i):  # 0-based last word of chunk i (inclusive)
        return F.when(i == F.size(bpos), F.size(w) - 1).otherwise(
            F.element_at(bpos, (i + 1).cast("int"))
        )

    structs = F.transform(
        F.sequence(F.lit(0), F.size(bpos)),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_id"),
            (_end(i) - _start(i) + 1).cast("bigint").alias("n_words"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        w,
                        (_start(i) + 1).cast("int"),
                        (_end(i) - _start(i) + 1).cast("int"),
                    ),
                )
            ).alias("chunk_md5"),
        ),
    )
    return bounds.select("doc_id", F.explode(structs).alias("c")).select(
        "doc_id", "c.chunk_id", "c.n_words", "c.chunk_md5"
    )


@register(
    "dedup_cdc_chunks",
    # CDC chunking under the gate: boundaries, chunk identity (md5 of the
    # reassembled chunk text) AND the cross-document sharing count all in
    # one hash — the oracle recomputes the rolling-gram cut rule, the
    # running-sum chunk assignment, and the ordered reassembly in SQL.
    oracle=f"""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), pos AS (
      SELECT doc_id, i - 1 AS pos, w[CAST(i AS BIGINT)] AS word,
             CASE WHEN i >= {_CDC_GRAM}
                   AND substr(md5(w[CAST(i - 2 AS BIGINT)] || ' ' ||
                                  w[CAST(i - 1 AS BIGINT)] || ' ' ||
                                  w[CAST(i AS BIGINT)]), 1, 1) < '{_CDC_CUT}'
                  THEN 1 ELSE 0 END AS b
      FROM wl, unnest(generate_series(1, len(w))) AS u(i)
    ), ch AS (
      SELECT doc_id, pos, word,
             COALESCE(sum(b) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS chunk_id
      FROM pos
    ), chunks AS (
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(count(*) AS BIGINT) AS n_words,
             md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_md5
      FROM ch GROUP BY 1, 2
    )
    SELECT c.doc_id, c.chunk_id, c.n_words, c.chunk_md5,
           s.n AS n_docs_sharing
    FROM chunks c
    JOIN (SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n
          FROM chunks GROUP BY 1) s USING (chunk_md5)
    """,
    survey="X20,EXT-dedup,X11",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level dedup stats: each chunk's
    md5 identity and how many DISTINCT documents share it — the
    shift-stable dedup signal (a one-word edit leaves every chunk beyond
    the edit's neighborhood identical, so shared boilerplate still
    collides; fixed blocks would shift and miss everything downstream).

    Plan shape: the chunking itself is ZERO-shuffle (array-side structs
    + one explode, extending the scan's partitioning); the sharing count
    is one chunk_md5 exchange feeding both the aggregate and the join
    back — one shuffle at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    # TWO consumers (sharing aggregate + the join back) — pin one
    # materialization so the chunk expressions evaluate once
    chunks = cdc_chunks(d).persist()
    sharing = chunks.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_sharing")
    )
    return chunks.join(sharing, "chunk_md5").select(
        "doc_id", "chunk_id", "n_words", "chunk_md5", "n_docs_sharing"
    )


# ---------------------------------------------------------------------------
# X23-dedup (r9) — STOP-GRAM removal: the drop-ALL counterpart of
# dedup_span_trim's keep-first. Span-trim preserves one copy of every
# duplicated span (dedup: the content is fine, the copies are not);
# stop-gram removal deletes every occurrence of word n-grams frequent
# across DOCUMENTS (boilerplate: headers, disclaimers, navigation — text
# that is noise in every copy including the first). The C4/CCNet line-level
# filter restated at word-gram granularity for a newline-free corpus.
# ---------------------------------------------------------------------------

STOPGRAM_N = 3  # words per gram (the corpus's shingle width)
STOPGRAM_MIN_DOCS = 4  # a gram in >= this many distinct docs is boilerplate
# (4 chosen from the measured gram doc-frequency tails: >=8 is VACUOUS at
# sf0.01 — max nd there is 7 — while >=4 flags 615-26.5k grams across the
# three SFs, so the gate exercises real removals at every scale)


@register(
    "dedup_stopgram_remove",
    # Determinism: doc counts are exact integers, doomed positions are
    # integer sets, and the rebuilt text is md5'd AFTER an identical
    # space-join on both engines. No floats anywhere.
    oracle=f"""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             w[CAST(i AS BIGINT)] || ' ' || w[CAST(i + 1 AS BIGINT)]
               || ' ' || w[CAST(i + 2 AS BIGINT)] AS g
      FROM wl, unnest(generate_series(1, len(w) - {STOPGRAM_N - 1})) AS u(i)
      WHERE len(w) >= {STOPGRAM_N}
    ), sg AS (
      SELECT g FROM (
        SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY 1
      ) WHERE nd >= {STOPGRAM_MIN_DOCS}
    ), doom AS (
      SELECT DISTINCT grams.doc_id, covered.p
      FROM grams JOIN sg USING (g),
           unnest(generate_series(grams.pos, grams.pos + {STOPGRAM_N - 1}))
             AS covered(p)
    ), agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM doom
      GROUP BY 1
    ), rebuilt AS (
      SELECT wl.doc_id,
             CAST(len(wl.w) AS BIGINT) AS n_words,
             coalesce(agg.n_removed, 0) AS n_removed,
             md5(string_agg(wl.w[CAST(k.p AS BIGINT)], ' ' ORDER BY k.p))
               AS cleaned_md5
      FROM wl
      LEFT JOIN agg USING (doc_id),
           unnest(generate_series(1, len(wl.w))) AS k(p)
      WHERE NOT EXISTS (
        SELECT 1 FROM doom
        WHERE doom.doc_id = wl.doc_id AND doom.p = k.p
      )
      GROUP BY 1, 2, 3
    )
    SELECT wl.doc_id,
           CAST(len(wl.w) AS BIGINT) AS n_words,
           coalesce(agg.n_removed, 0) AS n_removed,
           r.cleaned_md5
    FROM wl
    LEFT JOIN agg USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    """,
    survey="X23,EXT-dedup,X3,U6",
)
def dedup_stopgram_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove EVERY word position covered by any occurrence of a
    stop-gram (a {STOPGRAM_N}-word gram present in >= STOPGRAM_MIN_DOCS
    distinct docs), rebuild the text from the surviving words in order,
    and report per-doc word/removal counts with the rebuilt text's md5
    under the hash (fully-removed docs report NULL — distinguishable
    from the md5 of the empty string).

    Plan shape: ONE gram-keyed exchange (the stop-gram census), a
    broadcast-or-shuffle semi-join flagging doomed start positions, and
    the coverage + rebuild entirely ARRAY-side per doc (flatten of
    per-start spans -> array_except over positions -> join) — the same
    zero-extra-shuffle rebuild discipline as span_trim's fold. At
    100 TB the stop-gram table is Zipf-small and maintained; the
    removal pass is a narrow map over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    wl = spread(d.select("doc_id", "text")).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("w"),
    )
    grams = wl.where(F.size("w") >= STOPGRAM_N).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (STOPGRAM_N - 1)),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("w", i),
                    F.element_at("w", i + 1),
                    F.element_at("w", i + 2),
                ),
            )
        ).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    sg = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= STOPGRAM_MIN_DOCS)
        .select("g")
    )
    dooms = (
        grams.join(sg, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    return stopgram_rebuild(wl.join(dooms, "doc_id", "left"))


def stopgram_rebuild(base: DataFrame) -> DataFrame:
    """Coverage + rebuild from (doc_id, w, starts) — starts nullable =
    no stop-gram occurrences. Pure array expressions, SHARED by the
    batch query above and the streaming twin
    (streaming/corpus.py:stopgram_remove_stream), so the two can never
    drift."""
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("starts"),
                lambda s: F.sequence(s, s + (STOPGRAM_N - 1)),
            )
        )
    )
    base = base.select(
        "doc_id",
        "w",
        F.coalesce(covered, F.array().cast("array<int>")).alias("cov"),
    )
    # guard the position sequence: F.sequence(1, 0) DESCENDS ([1, 0]) when
    # ``w`` is empty (whitespace-only doc), and element_at(w, 0) then
    # throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT — emit an empty position
    # list instead so empty docs flow through as n_words=0 / NULL md5,
    # matching the oracle (ADVICE r9)
    positions = F.when(
        F.size("w") > 0, F.sequence(F.lit(1), F.size("w"))
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            positions,
            lambda p: F.struct(
                p.alias("p"), F.element_at("w", p).alias("word")
            ),
        ),
        lambda s: ~F.array_contains(F.col("cov"), s["p"]),
    )
    return base.select(
        "doc_id",
        F.size("w").cast("long").alias("n_words"),
        F.size("cov").cast("long").alias("n_removed"),
        F.when(
            F.size(kept) > 0,
            F.md5(
                F.array_join(
                    F.transform(kept, lambda s: s["word"]), " "
                )
            ),
        ).alias("cleaned_md5"),
    )


# ---------------------------------------------------------------------------
# E2 (r9) — LSH recall/precision eval: the dedup sibling of the retrieval
# scorecard (plans/similarity.py sim_retrieval_eval). The banding S-curve
# is usually tuned offline; here the measurement itself is a hash-gated
# query — ground truth is the EXHAUSTIVE exact Jaccard over every pair that
# shares a shingle (complete for J > 0: equal min-hashes imply a shared
# argmin shingle, so both the truth and the candidates live inside the
# inverted-index pair universe — no n^2 cross anywhere).
# ---------------------------------------------------------------------------

_LSH_EVAL_THRESHOLDS = (0.3, 0.5, 0.7)


@register(
    "dedup_lsh_recall_eval",
    # Determinism: Jaccard = inter/(|A|+|B|-inter) over exact integers —
    # one division of identical doubles; threshold literals identical on
    # both engines; counts exact.
    oracle=f"""
    WITH {_lsh_pairs_sql_ctes()}, sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS s FROM shingles GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), universe AS (
      SELECT inter.doc_a, inter.doc_b,
             inter.i / CAST(x.s + y.s - inter.i AS DOUBLE) AS j,
             CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM inter
      JOIN sz x ON inter.doc_a = x.doc_id
      JOIN sz y ON inter.doc_b = y.doc_id
      LEFT JOIN pairs p
        ON p.doc_a = inter.doc_a AND p.doc_b = inter.doc_b
    ), nc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM pairs
    )
    SELECT t.threshold,
           CAST(count(*) AS BIGINT) AS n_true,
           nc.n_candidates,
           CAST(sum(u.hit) AS BIGINT) AS n_caught,
           round(sum(u.hit) / nullif(CAST(count(*) AS DOUBLE), 0), 6)
             AS recall,
           round(sum(u.hit) / CAST(nc.n_candidates AS DOUBLE), 6)
             AS precision_of_candidates
    FROM (VALUES {", ".join(f"({t})" for t in _LSH_EVAL_THRESHOLDS)})
      AS t(threshold)
    JOIN universe u ON u.j >= t.threshold
    CROSS JOIN nc
    GROUP BY 1, 3
    """,
    survey="E2,EXT-dedup,A6,J2",
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall and candidate-precision of the MinHash-LSH banding at
    three Jaccard thresholds, against exhaustive exact Jaccard ground
    truth. SCALE.md records the S-curve measured offline; this puts
    the number the banding is TUNED FOR in a driver artifact, so a band/
    row-count change that silently drops recall turns a row red.

    Plan shape: the truth side is the shingle inverted-index join (one
    shingle-keyed exchange + a pair aggregate — exhaustive for J > 0 by
    the argmin argument above, never an n^2 cross); the candidate side
    is the production bucket-rollup; one pair-keyed left join marks
    catches and a 3-row threshold dimension broadcast-joins the
    scorecard together. At 100 TB ground truth comes from a SAMPLE of
    the corpus (the docstring contract of every eval query); the
    machinery is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    sh = _spark_shingles(d).persist()
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("s"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    cand = (
        _spark_lsh_pairs(d)
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    universe = (
        inter.join(
            sz.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")),
            "doc_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")),
            "doc_b",
        )
        .join(cand, ["doc_a", "doc_b"], "left")
        .select(
            (
                F.col("i")
                / (F.col("sa") + F.col("sb") - F.col("i")).cast("double")
            ).alias("j"),
            F.coalesce("hit", F.lit(0)).alias("hit"),
        )
    )
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    thresholds = spark.createDataFrame(
        [(t,) for t in _LSH_EVAL_THRESHOLDS], "threshold double"
    )
    return (
        universe.join(
            F.broadcast(thresholds), F.col("j") >= F.col("threshold")
        )
        .join(F.broadcast(nc))
        .groupBy("threshold", "n_candidates")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum("hit").cast("long").alias("n_caught"),
            F.round(
                F.sum("hit") / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
                6,
            ).alias("recall"),
            F.round(
                F.sum("hit") / F.col("n_candidates").cast("double"), 6
            ).alias("precision_of_candidates"),
        )
        .select(
            "threshold",
            "n_true",
            "n_candidates",
            "n_caught",
            "recall",
            "precision_of_candidates",
        )
    )
