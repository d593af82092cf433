"""Third coverage wave: window value functions, from_json struct extraction,
min-cost-supplier (Q2-style correlated min), distinct-count-per-attribute
(Q16-style), and array manipulation over embeddings."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ssidentity_spark.io import load_table
from ssidentity_spark.registry import register

# ---------------------------------------------------------------------------
# W2/W1 — value window functions (first/last/nth over full-frame windows)
# ---------------------------------------------------------------------------


@register(
    "w2_value_functions",
    oracle="""
    SELECT event_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type,
           nth_value(event_type, 2) OVER w AS second_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    survey="W2",
)
def w2_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


# ---------------------------------------------------------------------------
# D7 — from_json into a typed struct (vs get_json_object string path)
# ---------------------------------------------------------------------------


@register(
    "d7_from_json_struct",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_key
    FROM events
    """,
    survey="D7",
)
def d7_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    schema = StructType(
        [StructField("k", LongType()), StructField("missing", LongType())]
    )
    parsed = F.from_json("props", schema)
    return ev.select(
        "event_id",
        parsed["k"].alias("k"),
        parsed["missing"].alias("missing_key"),
    )


# ---------------------------------------------------------------------------
# J9 — Q2-style: the cheapest supplier per part (min over a group, joined
# back — the correlated-subquery shape Catalyst rewrites to a join)
# ---------------------------------------------------------------------------


@register(
    "j9_q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ), best AS (
      SELECT l_partkey, min(unit_cost) AS best_cost FROM cost GROUP BY 1
    )
    -- floor-to-e4 integer units: round() half-mode differs between engines
    -- exactly when money/qty terminates on a .00005 boundary
    SELECT c.l_partkey AS p_partkey,
           min(c.l_suppkey) AS best_suppkey,
           CAST(floor(b.best_cost * 10000) AS BIGINT) AS unit_cost_e4
    FROM cost c JOIN best b
      ON c.l_partkey = b.l_partkey AND c.unit_cost = b.best_cost
    GROUP BY 1, 3
    """,
    survey="J9,A6",
)
def j9_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = cost.groupBy("l_partkey").agg(F.min("unit_cost").alias("best_cost")).select(
        F.col("l_partkey").alias("b_partkey"), "best_cost"
    )
    return (
        cost.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .groupBy(
            F.col("l_partkey").alias("p_partkey"),
            F.floor(F.col("best_cost") * 10000).cast("long").alias("unit_cost_e4"),
        )
        .agg(F.min("l_suppkey").alias("best_suppkey"))
        .select("p_partkey", "best_suppkey", "unit_cost_e4")
    )


# ---------------------------------------------------------------------------
# A8/J9 — Q16-style: distinct supplier count per part attribute
# ---------------------------------------------------------------------------


@register(
    "j9_q16_supplier_variety",
    oracle="""
    SELECT p.p_brand AS p_brand, p.p_type AS p_type,
           count(DISTINCT l.l_suppkey) AS n_suppliers,
           count(DISTINCT p.p_partkey) AS n_parts
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 10
    GROUP BY 1, 2
    """,
    survey="J9,A8",
)
def j9_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p.filter(F.col("p_size") >= 10), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("p_partkey").alias("n_parts"),
        )
    )


# ---------------------------------------------------------------------------
# D7/U5 — array manipulation: sort, slice, filter, flatten over embeddings
# ---------------------------------------------------------------------------


@register(
    "d7_array_manipulation",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)) AS v
      FROM embeddings
    )
    SELECT vec_id,
           array_to_string(list_sort(v)[1:3], ',') AS smallest3,
           CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_positive,
           round(list_sum(list_transform(v[1:8], x -> abs(x))), 4) AS l1_head
    FROM e
    """,
    survey="D7,U5",
)
def d7_array_manipulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: F.round(x.cast("double"), 4))
    return em.select(
        "vec_id",
        # string render: raw array columns hash engine-dependently
        F.array_join(F.slice(F.array_sort(v), 1, 3).cast("array<string>"), ",").alias(
            "smallest3"
        ),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(
                F.transform(F.slice(v, 1, 8), lambda x: F.abs(x)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            4,
        ).alias("l1_head"),
    )


# ---------------------------------------------------------------------------
# J11 (EXT) — approximate string join: blocked Levenshtein self-match
# ---------------------------------------------------------------------------


@register(
    "j11_fuzzy_part_match",
    # Fuzzy join under the gate: candidates from an EQUI join on the
    # name's noun token, length-difference prune, built-in levenshtein
    # verify — both engines implement classic edit distance, so the
    # whole blocked candidates→verify pipeline hash-matches. Result is
    # the distinct near-match name-pair inventory with pair counts
    # (compact and order-free).
    oracle="""
    WITH t AS (
      SELECT p_partkey, p_name, string_split(p_name, ' ')[-1] AS noun
      FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM t a JOIN t b ON a.noun = b.noun AND a.p_partkey < b.p_partkey
    WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    GROUP BY 1, 2, 3
    """,
    survey="J3,J9,EXT-dedup",
)
def j11_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate self-join on part names (operators/fuzzy.py): find
    near-identical names (edit distance 1-2) without the O(n²) all-pairs
    scan — blocking on the noun token bounds pairwise work to
    O(Σ block²), the entity-resolution discipline every data-cleaning
    suite ships. Exact duplicates (distance 0) are excluded: that is
    dedup_exact's cheaper job."""
    from ssidentity_spark.operators.fuzzy import fuzzy_self_join

    p = load_table(spark, sf_dir, "part")
    pairs = fuzzy_self_join(
        p,
        id_col="p_partkey",
        text_col="p_name",
        block=F.element_at(F.split("p_name", " "), -1),
        max_dist=2,
        min_dist=1,
    )
    return pairs.groupBy(
        F.col("text_a").alias("name_a"),
        F.col("text_b").alias("name_b"),
        F.col("dist").cast("int").alias("dist"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@register(
    "j11_fuzzy_symspell",
    # Deletion-neighborhood (SymSpell-style) fuzzy join under the gate.
    # Unlike j11_fuzzy_part_match, whose oracle REPLICATES the blocking
    # (pairs outside the block are lost by both sides), this oracle is
    # the EXHAUSTIVE all-pairs truth with no blocking clause at all —
    # the hash match itself proves the exact-recall claim: every
    # distance-1 pair in the corpus, found without the O(n²) scan.
    # (SCALE.md "r8: approximate-join recall" measures the same property
    # at scale: recall 1.000 at 0.02-0.04% of the pair ceiling.)
    oracle="""
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM part a JOIN part b ON a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) = 1
    GROUP BY 1, 2
    """,
    survey="J3,J9,EXT-dedup",
)
def j11_fuzzy_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall approximate join on part names
    (operators/fuzzy.py deletion_neighborhood_join): every pair at edit
    distance exactly 1, via the public SymSpell deletion-neighborhood
    index — explode O(len) deletion keys per string, equi-join, verify.
    The oracle is the unblocked O(n²) pairwise scan, so a single missed
    pair anywhere breaks the hash; candidate volume stays near the true
    match structure (measured 0.04% of the pair ceiling)."""
    from ssidentity_spark.operators.fuzzy import deletion_neighborhood_join

    p = load_table(spark, sf_dir, "part")
    pairs = deletion_neighborhood_join(
        p, id_col="p_partkey", text_col="p_name", max_dist=1, min_dist=1
    )
    return pairs.groupBy(
        F.col("text_a").alias("name_a"),
        F.col("text_b").alias("name_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
