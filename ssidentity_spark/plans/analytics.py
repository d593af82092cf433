"""Event-stream analytics — the reference's declared correlation surface
re-expressed over the driver `events` table (user_id ~ device MAC,
event_type ~ SSID, ts ~ capture time, value ~ RSSI-like measure).

Each query cites the SURVEY.md §2 row(s) it embodies; the equivalent
observation-schema library functions live in ssidentity_spark/operators/.
Reference impetus: /root/reference/README.md:15-19 (interests, active hours,
habitual movements, arrival tracking) and ssidentity.c:23-37 (TODO analytics).

Scale notes: every query here is a single shuffle on its natural grouping key
(plus a window shuffle where ranking is required). Nothing collects to the
driver; nothing is quadratic; all window frames are bounded. At 100 TB the
grouping keys (user_id, event_type, hour) are low-skew and AQE handles any
residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ssidentity_spark.functions.timeutil import epoch_us
from ssidentity_spark.io import load_table
from ssidentity_spark.operators.iterate import materialize
from ssidentity_spark.registry import register
from ssidentity_spark.streaming.funnel import FUNNEL_W_US

# ---------------------------------------------------------------------------
# Flagship (SURVEY §7 phase 0): scan → filter → project → groupBy →
# countDistinct → window-rank → orderBy → limit  (S4, D7, A1/A8, W1, O1/O2)
# ---------------------------------------------------------------------------


@register(
    "flagship_hourly_top_types",
    oracle="""
    WITH hourly AS (
      SELECT CAST(hour(ts) AS INTEGER) AS hr,
             event_type,
             count(DISTINCT user_id) AS n_users,
             count(*) AS n_events
      FROM events
      GROUP BY 1, 2
    ), ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY hr
               ORDER BY n_users DESC, n_events DESC, event_type) AS INTEGER) AS rnk
      FROM hourly
    )
    SELECT hr, event_type, n_users, n_events, rnk
    FROM ranked WHERE rnk <= 3
    """,
    survey="A1,A8,W1,O1,O2",
    bench=True,
)
def flagship_hourly_top_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.hour("ts").alias("hr"), "event_type"
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = Window.partitionBy("hr").orderBy(
        F.desc("n_users"), F.desc("n_events"), F.asc("event_type")
    )
    return (
        hourly.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("hr", "event_type", "n_users", "n_events", "rnk")
    )


# ---------------------------------------------------------------------------
# A1 — interests profile ("which SSIDs a device probes for", README.md:18)
# ---------------------------------------------------------------------------


@register(
    "a1_user_interests",
    oracle="""
    SELECT user_id,
           count(DISTINCT event_type) AS n_types,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    survey="A1",
)
def a1_user_interests(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types"),
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_csv"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# A2 — active hours / habitual movements (README.md:17)
# ---------------------------------------------------------------------------


@register(
    "a2_active_hours",
    oracle="""
    SELECT user_id, CAST(hour(ts) AS INTEGER) AS hr,
           CAST(isodow(ts) AS INTEGER) AS dow, count(*) AS n
    FROM events GROUP BY 1, 2, 3
    """,
    survey="A2",
)
def a2_active_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id",
        F.hour("ts").alias("hr"),
        # weekday(): Mon=0 → +1 == ISO dow, matches duckdb isodow
        (F.weekday("ts") + F.lit(1)).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "a2_habitual_hour",
    oracle="""
    WITH h AS (
      SELECT user_id, CAST(hour(ts) AS INTEGER) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, hr AS top_hr, n
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY n DESC, hr) AS rn FROM h)
    WHERE rn = 1
    """,
    survey="A2,W1",
)
def a2_habitual_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("user_id", F.hour("ts").alias("hr")).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("hr"))
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", F.col("hr").alias("top_hr"), "n")
    )


# ---------------------------------------------------------------------------
# A3 — network tree (AP → known clients, ssidentity.c:36): relational
# bipartite grouping, not a graph engine.
# ---------------------------------------------------------------------------


@register(
    "a3_network_tree",
    oracle="""
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users_csv,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_obs
    FROM events GROUP BY event_type
    """,
    survey="A3",
)
def a3_network_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.array_join(
            F.sort_array(F.collect_set("user_id")).cast("array<string>"), ","
        ).alias("users_csv"),
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_obs"),
    )


# ---------------------------------------------------------------------------
# A4/O5 — dedup by key (ssidentity.c:26) and distinct
# ---------------------------------------------------------------------------


@register(
    "a4_distinct_pairs",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    survey="A4,O5",
)
def a4_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


@register(
    "a4_mac_key_rollup",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           array_to_string(list_sort(list(DISTINCT strftime(ts, '%Y-%m-%d %H:%M:%S'))), ',')
             AS ts_csv
    FROM events
    WHERE event_type = 'signup'
    GROUP BY user_id
    """,
    survey="A4",
)
def a4_mac_key_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference TODO 'MAC as primary key, timestamps as CSV'
    (ssidentity.c:26), over events."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(
                F.sort_array(F.collect_set(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))),
                ",",
            ).alias("ts_csv"),
        )
    )


# ---------------------------------------------------------------------------
# A6/A8 — signal stats & distinct counting
# ---------------------------------------------------------------------------


@register(
    "a6_value_stats",
    oracle="""
    SELECT event_type,
           round(min(value), 2) AS v_min,
           round(max(value), 2) AS v_max,
           round(avg(value), 4) AS v_avg,
           round(stddev_samp(value), 4) AS v_std,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    survey="A6,A8",
)
def a6_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.min("value"), 2).alias("v_min"),
        F.round(F.max("value"), 2).alias("v_max"),
        F.round(F.avg("value"), 4).alias("v_avg"),
        F.round(F.stddev_samp("value"), 4).alias("v_std"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "a8_approx_quantiles",
    oracle=None,  # t-digest/GK sketches differ between engines by design
    survey="A8",
)
def a8_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx: the streaming/100 TB path for distribution stats
    (bounded-memory sketch vs exact percentile's full sort).

    Output is one scalar row per (event_type, pct) — array columns are a
    driver-canonicalizer hash risk (registry contract), so the sketch array
    is posexploded into rows.
    """
    ev = load_table(spark, sf_dir, "events")
    pcts = [0.5, 0.9, 0.99]
    arr = ev.groupBy("event_type").agg(
        F.percentile_approx("value", pcts, 10_000).alias("approx_pcts")
    )
    pct_lit = F.array(*[F.lit(p) for p in pcts])
    return arr.select(
        "event_type", F.posexplode("approx_pcts").alias("pos", "approx_value")
    ).select(
        "event_type",
        F.element_at(pct_lit, F.col("pos") + 1).alias("pct"),
        F.round("approx_value", 4).alias("approx_value"),
    )


@register(
    "a8_exact_percentiles",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q25,
             quantile_cont(value, 0.50) AS q50,
             quantile_cont(value, 0.75) AS q75,
             quantile_cont(value, 0.95) AS q95
      FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(0.25 AS DOUBLE) AS pct, round(q25, 6) AS v FROM q
    UNION ALL
    SELECT event_type, CAST(0.50 AS DOUBLE) AS pct, round(q50, 6) AS v FROM q
    UNION ALL
    SELECT event_type, CAST(0.75 AS DOUBLE) AS pct, round(q75, 6) AS v FROM q
    UNION ALL
    SELECT event_type, CAST(0.95 AS DOUBLE) AS pct, round(q95, 6) AS v FROM q
    """,
    survey="A8",
)
def a8_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles — the hash-matchable companion
    to ``a8_approx_quantiles``: Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the same interpolation definition, so rounding
    to 6 dp makes the pair bit-comparable (the GK sketch next door stays
    registered as the bounded-memory 100 TB path).

    One shuffle on event_type; the per-group sort that exact percentiles
    require happens inside the aggregate. Long-form output (event_type,
    pct, v) — scalar rows, no array columns, per the registry contract.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        *[
            F.percentile("value", F.lit(p)).alias(f"q{int(p * 100)}")
            for p in (0.25, 0.50, 0.75, 0.95)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("pct"), F.col(f"q{int(p * 100)}").alias("v")
            )
            for p in (0.25, 0.50, 0.75, 0.95)
        ]
    )
    return agg.select("event_type", F.explode(pairs).alias("x")).select(
        "event_type", F.col("x.pct").alias("pct"), F.round("x.v", 6).alias("v")
    )


@register(
    "a8_approx_distinct_users",
    oracle=None,  # HLL sketch differs between engines by design → rows-only
    survey="A8",
)
def a8_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB path for device
    rosters, where exact countDistinct would shuffle every key."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
    )


# ---------------------------------------------------------------------------
# A9 — rollup / cube hierarchies
# ---------------------------------------------------------------------------


@register(
    "a9_rollup_type_hour",
    oracle="""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           CAST(coalesce(hr, -1) AS INTEGER) AS hr,
           count(*) AS n,
           CAST(round(sum(value), 2) AS DOUBLE) AS v_sum
    FROM (SELECT event_type, hour(ts) AS hr, value FROM events)
    GROUP BY ROLLUP (event_type, hr)
    """,
    survey="A9",
)
def a9_rollup_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    return (
        ev.rollup("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v_sum"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("hr", F.lit(-1)).alias("hr"),
            "n",
            "v_sum",
        )
    )


@register(
    "a9_cube_type_dow",
    oracle="""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           CAST(coalesce(dow, -1) AS INTEGER) AS dow,
           count(*) AS n
    FROM (SELECT event_type, isodow(ts) AS dow FROM events)
    GROUP BY CUBE (event_type, dow)
    """,
    survey="A9",
)
def a9_cube_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    )
    return (
        ev.cube("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "n",
        )
    )


@register(
    "pivot_user_type_matrix",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
    survey="A6,A9 (pivot)",
)
def pivot_user_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True .pivot() API (explicit value list → deterministic schema);
    null cells zero-filled to match the FILTER-count oracle."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


# ---------------------------------------------------------------------------
# A10/O1/O2 — heavy hitters & global sort/limit
# ---------------------------------------------------------------------------


@register(
    "a10_heavy_hitters",
    oracle="""
    SELECT user_id, event_type, n FROM (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ) ORDER BY n DESC, user_id, event_type LIMIT 10
    """,
    survey="A10,O1,O2",
)
def a10_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "user_id", "event_type")
        .limit(10)
    )


@register(
    "o1_global_sort_top",
    oracle="""
    SELECT event_id, user_id, round(value, 2) AS value
    FROM events ORDER BY value DESC, event_id LIMIT 20
    """,
    survey="O1,O2",
)
def o1_global_sort_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("value"), "event_id")
        .limit(20)
        .select("event_id", "user_id", F.round("value", 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# O3/O4 — set operations (devices seen at both locations, README.md:15-19)
# ---------------------------------------------------------------------------


@register(
    "o4_intersect_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    survey="O4",
)
def o4_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


@register(
    "o4_except_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    survey="O4",
)
def o4_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.subtract(b)


@register(
    "o3_union_split",
    oracle="""
    SELECT user_id, event_type, src FROM (
      SELECT user_id, event_type, 'early' AS src FROM events WHERE hour(ts) < 12
      UNION ALL
      SELECT user_id, event_type, 'late' AS src FROM events WHERE hour(ts) >= 12
    )
    """,
    survey="O3",
)
def o3_union_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of per-'sensor' slices back into one relation (README.md:12-13
    fan-in of per-sensor DBs → unionByName)."""
    ev = load_table(spark, sf_dir, "events")
    early = ev.filter(F.hour("ts") < 12).select(
        "user_id", "event_type", F.lit("early").alias("src")
    )
    late = ev.filter(F.hour("ts") >= 12).select(
        "user_id", "event_type", F.lit("late").alias("src")
    )
    return early.unionByName(late)


# ---------------------------------------------------------------------------
# W2 — lag/lead analytics (arrival gaps, movement transitions)
# ---------------------------------------------------------------------------


@register(
    "w2_event_gaps",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           count(gap_us) AS n_gaps,
           round(avg(gap_us) / 1000000.0, 3) AS avg_gap_s,
           CAST(max(gap_us) // 1000000 AS BIGINT) AS max_gap_s
    FROM g GROUP BY user_id
    """,
    survey="W2",
)
def w2_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn(
        "gap_us", epoch_us("ts") - F.lag(epoch_us("ts")).over(w)
    )
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.sum("gap_us") / F.count("gap_us") / 1000000.0, 3).alias("avg_gap_s"),
        (F.max("gap_us") / 1000000).cast("long").alias("max_gap_s"),
    )


@register(
    "w2_transitions",
    oracle="""
    WITH t AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT user_id,
           CAST(count(*) FILTER (WHERE prev IS NOT NULL AND prev <> event_type) AS BIGINT)
             AS n_transitions
    FROM t GROUP BY user_id
    """,
    survey="W2",
)
def w2_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movement detection: 'sensor changed since last sighting' analog
    (README.md:17 habitual movements)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.withColumn("prev", F.lag("event_type").over(w))
    return t.groupBy("user_id").agg(
        F.sum(
            (F.col("prev").isNotNull() & (F.col("prev") != F.col("event_type"))).cast(
                "long"
            )
        ).alias("n_transitions")
    )


# ---------------------------------------------------------------------------
# W3 — frame-spec aggregates (rolling smoothing over rows and time ranges)
# ---------------------------------------------------------------------------


@register(
    "w3_rolling_avg_rows",
    oracle="""
    SELECT event_id,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll_avg
    FROM events
    """,
    survey="W3",
)
def w3_rolling_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return ev.select("event_id", F.round(F.avg("value").over(w), 4).alias("roll_avg"))


@register(
    "w3_rolling_count_10min",
    oracle="""
    SELECT event_id,
           count(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS n_10min
    FROM events
    """,
    survey="W3",
)
def w3_rolling_count_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-600_000_000, 0)
    )
    return ev.select("event_id", F.count(F.lit(1)).over(w).alias("n_10min"))


# ---------------------------------------------------------------------------
# W4 — sessionization (visit detection, README.md:16-17): gap > 30 min opens
# a new session. Standard cumulative-sum-of-gap-flags idiom.
# ---------------------------------------------------------------------------

# 30-minute inactivity gap, shared by w4_sessionize and w5_max_concurrency —
# ONE definition of "a session" so the two queries (and their oracles, which
# both unroll this exact window arithmetic) cannot drift apart.
_SESSION_GAP_US = 1_800_000_000


def _event_sessions(ev: DataFrame) -> DataFrame:
    """Attach ``session_id`` to events: per-user cumulative count of
    gap-exceeding boundaries over the (ts, event_id) order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = epoch_us("ts") - F.lag(epoch_us("ts")).over(w)
    return ev.withColumn(
        "new_sess",
        F.when(gap_us.isNull() | (gap_us > _SESSION_GAP_US), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


@register(
    "w4_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), per_sess AS (
      SELECT user_id, session_id, count(*) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           count(*) AS n_sessions,
           round(avg(n_events), 4) AS avg_events_per_session,
           max(n_events) AS max_session_events
    FROM per_sess GROUP BY user_id
    """,
    survey="W4",
)
def w4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_sess = _event_sessions(ev).groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events_per_session"),
        F.max("n_events").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# J4 — range/interval join (visit-window correlation, README.md:17):
# signup → purchase conversion within 30 minutes.
# ---------------------------------------------------------------------------


@register(
    "j4_range_join_funnel",
    oracle="""
    SELECT s.user_id AS user_id, count(*) AS n_conversions
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON s.user_id = p.user_id
     AND p.ts >= s.ts
     AND p.ts <= s.ts + INTERVAL 30 MINUTE
    GROUP BY 1
    """,
    survey="J4",
    bench=True,
)
def j4_range_join_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    # native interval comparison (timestamp-type-agnostic, cheaper than
    # materializing epoch micros on both sides of the band predicate)
    joined = s.join(
        p,
        (s.user_id == p.p_user)
        & (p.p_ts >= s.s_ts)
        & (p.p_ts <= s.s_ts + F.expr("INTERVAL 30 MINUTES")),
    )
    return joined.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_conversions"))


# ---------------------------------------------------------------------------
# J5 — as-of join ("latest known state of MAC at time t", README.md:19).
# No native as-of in Spark → cumulative-max-over-union idiom: one window
# pass, no join at all, scales linearly.
# ---------------------------------------------------------------------------


@register(
    "j5_asof_last_login",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, ts, event_type,
             max(CASE WHEN event_type = 'login' OR event_type = 'signup'
                      THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS asof_us
      FROM events
    )
    SELECT event_id, user_id, asof_us
    FROM tagged WHERE event_type = 'error'
    """,
    survey="J5",
)
def j5_asof_last_login(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = ev.withColumn(
        "asof_us",
        F.max(
            F.when(
                F.col("event_type").isin("login", "signup"), epoch_us("ts")
            )
        ).over(w),
    )
    return tagged.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "asof_us"
    )


@register(
    "j5_asof_payload",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           epoch_us(l.ts) AS login_us,
           l.event_id AS login_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT * FROM events WHERE event_type IN ('login', 'signup')) l
      ON p.user_id = l.user_id AND l.ts <= p.ts
    """,
    survey="J5,W2",
)
def j5_asof_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-carrying as-of join, oracled against DuckDB's NATIVE
    ``ASOF LEFT JOIN`` — a genuinely independent algorithm (DuckDB's asof
    is a specialized merge), so agreement checks the semantics, not just a
    mirrored idiom (j5_asof_last_login's oracle restates the same window).

    Spark idiom: ``max(struct(epoch_us, event_id)) OVER (rows unbounded
    preceding)`` — the struct's lexicographic ordering lets the window
    carry ARBITRARY payload columns alongside the as-of timestamp, which
    is what distinguishes a real as-of join from a running max. One
    corpus-sized window shuffle on user_id, no join at all; at 100 TB this
    beats the range-join formulation (no candidate blow-up, state is one
    struct per row). Tie-safety: (user_id, ts) is unique in the testdata
    (asserted by the oracle match — equal-ts ties would let DuckDB's asof
    pick either row); ordering by (ts, event_id) pins Spark's choice.
    """
    ev = load_table(spark, sf_dir, "events")
    rel = ev.filter(F.col("event_type").isin("purchase", "login", "signup"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    login_struct = F.when(
        F.col("event_type").isin("login", "signup"),
        F.struct(epoch_us("ts").alias("us"), F.col("event_id").alias("eid")),
    )
    tagged = rel.withColumn("asof", F.max(login_struct).over(w))
    return tagged.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("asof.us").alias("login_us"),
        F.col("asof.eid").alias("login_event_id"),
    )


# ---------------------------------------------------------------------------
# A8 (r6) — sketches UNDER the hash gate: md5-derived Count-Min and HLL
# whose every bit both engines reproduce (operators/sketches.py). The
# engine-native sketches above stay registered as the production path;
# these prove the algorithms, not just the row counts.
# ---------------------------------------------------------------------------


@register(
    "a8_countmin_estimates",
    oracle="""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    js AS (SELECT unnest([0, 1, 2, 3]) AS j),
    cells AS (
      SELECT j,
             CAST(('0x' || substr(md5(k || '#' || j), 1, 8)) AS BIGINT)
               % 512 AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM ev CROSS JOIN js GROUP BY 1, 2
    ), truth AS (
      SELECT k, CAST(count(*) AS BIGINT) AS true_cnt FROM ev GROUP BY 1
    ), probe AS (
      SELECT t.k, t.true_cnt, js.j,
             CAST(('0x' || substr(md5(t.k || '#' || js.j), 1, 8)) AS BIGINT)
               % 512 AS bucket
      FROM truth t CROSS JOIN js
    )
    SELECT CAST(p.k AS BIGINT) AS user_id,
           p.true_cnt,
           min(c.c) AS cms_est,
           min(c.c) - p.true_cnt AS overcount
    FROM probe p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY 1, 2
    """,
    survey="A8,A10,A7",
)
def a8_countmin_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (d=4, w=512) with its one-sided error
    visible: per-user point estimate next to the true count. The sketch is
    d·w counter rows no matter the input size — the bounded-memory
    heavy-hitter path for an unbounded capture stream (ssidentity.c:23-26);
    estimates join the 2048-row sketch by broadcast."""
    from ssidentity_spark.operators.sketches import cms_point_estimates

    ev = load_table(spark, sf_dir, "events")
    return cms_point_estimates(ev, "user_id")


@register(
    "a8_hll_distinct",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ), b AS (
      SELECT event_type, h % 512 AS bucket, h >> 9 AS rest FROM ev
    ), regs AS (
      SELECT event_type, bucket,
             max(CASE WHEN rest = 0 THEN 52
                      ELSE 52 - length(bin(rest)) END) AS rho
      FROM b GROUP BY 1, 2
    ), agg AS (
      SELECT event_type,
             sum(CAST(1 AS BIGINT) << CAST(52 - rho AS INTEGER)) AS sp,
             CAST(count(*) AS BIGINT) AS np
      FROM regs GROUP BY 1
    ), est AS (
      SELECT event_type,
             8.497699123215257e+20
               / CAST(sp + (512 - np) * (CAST(1 AS BIGINT) << 52) AS DOUBLE)
               AS e_raw,
             512 - np AS v
      FROM agg
    ), ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
               AS exact_users
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           round(CASE WHEN e.e_raw <= 1280.0 AND e.v > 0
                      THEN 512.0 * ln(512.0 / CAST(e.v AS DOUBLE))
                      ELSE e.e_raw END, 4) AS hll_est,
           ex.exact_users
    FROM est e JOIN ex ON e.event_type = ex.event_type
    """,
    survey="A8,A7",
)
def a8_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-users per event type with every bit chosen
    explicitly (m=512 registers, md5 hash, EXACT integer harmonic sum) —
    the same estimator approx_count_distinct runs, but reproducible by
    DuckDB so the driver hash-checks the sketch algorithm itself. Register
    state is max-mergeable → map-side combine carries the shuffle."""
    from ssidentity_spark.operators.sketches import hll_estimates

    ev = load_table(spark, sf_dir, "events")
    est = hll_estimates(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type", "hll_est", "exact_users"
    )


# ---------------------------------------------------------------------------
# J10 (r6) — Bloom-filter join pruning: a selective dim key set, too big to
# ship as rows but tiny as a bitmap, filters the fact scan map-side BEFORE
# the shuffle. Result is identical to the plain join (the join removes the
# Bloom false positives), so the oracle is the plain SQL join — the hash
# gate proves the pruning changed nothing. Reference impetus: the
# watchlist-flagging TODO (ssidentity.c:33-37) — "is this MAC in the known
# set" against an unbounded capture stream.
# ---------------------------------------------------------------------------


@register(
    "j10_bloom_pruned_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN (SELECT c_custkey FROM customer
          WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000) c
      ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderpriority
    """,
    survey="J1,J2,A1",
    # bench headliner (r6 wave 2): covers the bloom build's bounded
    # collect + the pruned join — a regression in either shows in BENCH
    bench=True,
)
def j10_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to a selective customer subset through a Bloom
    pre-filter (operators/bloom.py): the bitmap (8 KiB) is built from the
    surviving c_custkey set with bounded driver traffic, the fact side is
    filtered by a pure JVM membership expression inside the scan stage,
    and the real join then removes false positives — bit-identical to the
    plain join, which is what the oracle checks. At 100 TB this is the
    shuffle-volume lever when the dim key set outgrows a rows broadcast."""
    from ssidentity_spark.operators.bloom import bloom_pruned_join

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000))
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    joined = bloom_pruned_join(orders, "o_custkey", cust, "c_custkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# W5 (r6) — interval overlap / max concurrency: the occupancy question
# ("how many devices present AT ONCE", README.md:16-17) answered with a
# BUCKETED sweep line — the global-ORDER-BY sweep is a single-partition
# trap at scale; clipping sessions to days makes the sweep per-day
# parallel with no cross-bucket state (operators/intervals.py).
# ---------------------------------------------------------------------------


@register(
    "w5_max_concurrency",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), iv AS (
      SELECT min(ts) AS s_start, max(ts) AS s_end
      FROM sess GROUP BY user_id, session_id
    ), seg AS (
      SELECT unnest(generate_series(date_trunc('day', s_start),
                                    date_trunc('day', s_end),
                                    INTERVAL 1 DAY)) AS bucket_ts,
             s_start, s_end
      FROM iv
    ), clipped AS (
      SELECT bucket_ts,
             greatest(s_start, bucket_ts) AS t_in,
             least(s_end, bucket_ts + INTERVAL 1 DAY) AS t_out
      FROM seg
    ), deltas AS (
      SELECT bucket_ts, t_in AS t, 1 AS delta FROM clipped
      UNION ALL
      SELECT bucket_ts, t_out AS t, -1 AS delta FROM clipped
    ), swept AS (
      SELECT bucket_ts,
             sum(delta) OVER (PARTITION BY bucket_ts
                              ORDER BY t ASC, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM deltas
    )
    SELECT bucket_ts,
           CAST(count(*) / 2 AS BIGINT) AS n_segments,
           CAST(max(conc) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY bucket_ts
    """,
    survey="W4,W3,A2",
    # bench headliner (r6 wave 2): the sweep-line plan family — two
    # window partitionings + a bucket agg — wasn't represented in BENCH
    bench=True,
)
def w5_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day maximum simultaneous sessions: sessionize (same 30-min gap
    as w4), then the day-bucketed sweep line. Ties resolve starts-first
    (closed intervals) and the per-bucket partial-sum multiset is
    order-invariant, so the max is deterministic cross-engine."""
    from ssidentity_spark.operators.intervals import max_concurrency_by_bucket

    ev = load_table(spark, sf_dir, "events")
    iv = _event_sessions(ev).groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    return max_concurrency_by_bucket(iv, "s_start", "s_end", "day")


# ---------------------------------------------------------------------------
# A12 (r6) — equi-depth histogram: the data-profiling primitive (optimizer
# statistics, drift monitors) — per-key value distribution in B
# equal-population buckets. ntile is row-number-based, so the unique
# (value, event_id) order makes bucket assignment deterministic
# cross-engine even with duplicate values.
# ---------------------------------------------------------------------------


@register(
    "a12_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             ntile(8) OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS bucket
      FROM events
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM b GROUP BY event_type, bucket
    """,
    survey="A8,A6,W1",
)
def a12_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight equal-population value buckets per event type with exact
    boundaries — what an optimizer stores as column statistics and what a
    drift monitor compares release-over-release. One window shuffle on
    the (bounded-cardinality) type key; at 100 TB swap ntile for
    approx_percentile boundaries and this plan loses the window entirely
    (documented trade: exact-rank vs mergeable-sketch)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    b = ev.withColumn("bucket", F.ntile(8).over(w))
    return b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


# ---------------------------------------------------------------------------
# A13 (r6) — ANALYZE-style table profile: per-column stats in ONE pass
# (the warehouse's ANALYZE TABLE / optimizer-statistics job). Long-form
# output with a uniform string schema so heterogeneous column types share
# one result table.
# ---------------------------------------------------------------------------


@register(
    "a13_analyze_profile",
    oracle="""
    SELECT 'event_id' AS col, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
           CAST(count(DISTINCT event_id) AS BIGINT) AS ndv,
           CAST(min(event_id) AS VARCHAR) AS min_v,
           CAST(max(event_id) AS VARCHAR) AS max_v
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(user_id) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(event_type) AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT),
           min(event_type), max(event_type)
    FROM events
    UNION ALL
    SELECT 'value', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(value) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT),
           CAST(round(min(value), 4) AS VARCHAR),
           CAST(round(max(value), 4) AS VARCHAR)
    FROM events
    """,
    survey="A8,A6,A7",
)
def a13_analyze_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics for the events table — count / nulls / exact NDV
    / min / max per column — computed in ONE aggregation (Catalyst
    expands the multi-distinct into a single Expand + two-phase agg, not
    one scan per column). At 100 TB the exact NDVs swap for HLL sketches
    (the a8 family) and the plan loses the Expand; the single-scan shape
    is the point either way."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("event_id").cast("long").alias("nn_event_id"),
        F.countDistinct("event_id").cast("long").alias("ndv_event_id"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.count("user_id").cast("long").alias("nn_user_id"),
        F.countDistinct("user_id").cast("long").alias("ndv_user_id"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
        F.count("event_type").cast("long").alias("nn_event_type"),
        F.countDistinct("event_type").cast("long").alias("ndv_event_type"),
        F.min("event_type").alias("min_event_type"),
        F.max("event_type").alias("max_event_type"),
        F.count("value").cast("long").alias("nn_value"),
        F.countDistinct("value").cast("long").alias("ndv_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )
    rows = []
    for c in ("event_id", "user_id", "event_type", "value"):
        rows.append(
            F.struct(
                F.lit(c).alias("col"),
                F.col("n").alias("n"),
                (F.col("n") - F.col(f"nn_{c}")).alias("n_null"),
                F.col(f"ndv_{c}").alias("ndv"),
                F.col(f"min_{c}").cast("string").alias("min_v"),
                F.col(f"max_{c}").cast("string").alias("max_v"),
            )
        )
    return agg.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# W6 (r6) — ordered-funnel progression (windowFunnel): how far did each
# user get through signup → view → purchase, with every later step inside
# W of the FIRST step? Another order-recursive per-key statistic (like
# ts_ema): the fold runs over the sorted event array with identical IEEE/
# integer ops in both engines. State is encoded in the ELEMENT's struct
# shape (t ↦ chain start, s ↦ level) because DuckDB's list_reduce seeds
# from the first element — a prepended zero struct is the init on both
# sides. Greedy-first-chain semantics (the first signup anchors the
# funnel), a documented simplification of ClickHouse's multi-candidate
# windowFunnel.
# ---------------------------------------------------------------------------

@register(
    "w6_funnel_progression",
    # The oracle is the CLOSED FORM of the greedy-first-chain fold, not a
    # replay of it: anchor = lexicographically-first signup, level 2 =
    # first view sorting after the anchor within the window, level 3 =
    # first purchase sorting after THAT view within the window. Two
    # reasons: (a) an independent formulation is stronger gate evidence
    # than replaying the same fold, and (b) DuckDB 1.0.0 has a
    # wrong-result bug in grouped list_reduce with a multi-branch CASE
    # lambda — above a few hundred groups the folded state leaks across
    # neighbouring groups (verified at sf0.1: user 73 received user 74's
    # anchor; correct when filtered to few users, wrong on the full
    # table, threads=1 included). The previous fold-replay oracle passed
    # at sf0.01 only because the table sat below the bug's cardinality
    # threshold.
    oracle=f"""
    WITH fe AS (
      SELECT user_id, epoch_us(ts) AS t, event_id AS eid,
             CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
                             WHEN 'purchase' THEN 3 END AS s
      FROM events
      WHERE event_type IN ('signup', 'view', 'purchase')
    ), sig AS (
      SELECT user_id, t AS t1, eid AS e1 FROM (
        SELECT user_id, t, eid,
               row_number() OVER (PARTITION BY user_id ORDER BY t, eid) AS rn
        FROM fe WHERE s = 1) WHERE rn = 1
    ), vw AS (
      SELECT user_id, t2, e2 FROM (
        SELECT f.user_id, f.t AS t2, f.eid AS e2,
               row_number() OVER (PARTITION BY f.user_id
                                  ORDER BY f.t, f.eid) AS rn
        FROM fe f JOIN sig g USING (user_id)
        WHERE f.s = 2 AND (f.t, f.eid) > (g.t1, g.e1)
          AND f.t <= g.t1 + {FUNNEL_W_US}) WHERE rn = 1
    ), pu AS (
      SELECT DISTINCT f.user_id
      FROM fe f JOIN sig g USING (user_id) JOIN vw USING (user_id)
      WHERE f.s = 3 AND (f.t, f.eid) > (vw.t2, vw.e2)
        AND f.t <= g.t1 + {FUNNEL_W_US}
    ), users AS (SELECT DISTINCT user_id FROM fe)
    SELECT u.user_id,
           CAST(CASE WHEN pu.user_id IS NOT NULL THEN 3
                     WHEN vw.user_id IS NOT NULL THEN 2
                     WHEN g.user_id  IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_level,
           CAST(coalesce(g.t1, 0) AS BIGINT) AS funnel_start_us
    FROM users u
    LEFT JOIN sig g USING (user_id)
    LEFT JOIN vw USING (user_id)
    LEFT JOIN pu USING (user_id)
    """,
    survey="W4,J4,W2",
)
def w6_funnel_progression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel level (0-3) under greedy-first-chain semantics:
    the first signup anchors the chain; each next step must land within
    60 min of that anchor. One keyed shuffle; the fold is per-key-local
    array work — the same shape that lets ts_ema stay bit-deterministic
    cross-engine."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "view", "purchase")
    )
    step = (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "view", 2)
        .otherwise(3)
    )
    fe = ev.select(
        "user_id",
        F.struct(
            epoch_us("ts").alias("t"),
            F.col("event_id").alias("eid"),
            step.alias("s"),
        ).alias("e"),
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("eid"),
        F.lit(0).cast("int").alias("s"),
    )

    def merge(acc, e):
        start = F.struct(
            e["t"].alias("t"), F.lit(0).cast("long").alias("eid"),
            F.lit(1).cast("int").alias("s"),
        )
        advance = F.struct(
            acc["t"].alias("t"), F.lit(0).cast("long").alias("eid"),
            (acc["s"] + 1).cast("int").alias("s"),
        )
        return (
            F.when((acc["s"] == 0) & (e["s"] == 1), start)
            .when(
                (e["s"] == acc["s"] + 1)
                & (e["t"] <= acc["t"] + F.lit(FUNNEL_W_US)),
                advance,
            )
            .otherwise(acc)
        )

    folded = fe.groupBy("user_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list("e")), zero, merge
        ).alias("st")
    )
    return folded.select(
        "user_id",
        F.col("st.s").cast("int").alias("funnel_level"),
        F.col("st.t").cast("long").alias("funnel_start_us"),
    )


# ---------------------------------------------------------------------------
# A8 extension (r9) — HLL SET ALGEBRA: the point of a mergeable sketch is
# that set operations run on REGISTERS, never on raw data. Union = per-
# bucket register max (exact for HLL — the union sketch IS the sketch of
# the union); intersection = inclusion-exclusion over three estimates
# (approximate, error compounds — reported next to the exact values so the
# hash pins the estimator AND the measurement of its error).
# ---------------------------------------------------------------------------

_HLL_SQL_REGS = """
    ev AS (
      SELECT event_type, user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ), b AS (
      SELECT event_type, h % 512 AS bucket, h >> 9 AS rest FROM ev
    ), regs AS (
      SELECT event_type, bucket,
             max(CASE WHEN rest = 0 THEN 52
                      ELSE 52 - length(bin(rest)) END) AS rho
      FROM b GROUP BY 1, 2
    )"""


def _hll_sql_estimate(src: str, keys: str, out: str) -> str:
    """The register->estimate SQL shared by the per-type and the merged
    (pair) paths — identical math to operators/sketches.py."""
    return f"""
    {out}_agg AS (
      SELECT {keys},
             sum(CAST(1 AS BIGINT) << CAST(52 - rho AS INTEGER)) AS sp,
             CAST(count(*) AS BIGINT) AS np
      FROM {src} GROUP BY ALL
    ), {out} AS (
      SELECT {keys},
             round(CASE WHEN e_raw <= 1280.0 AND v > 0
                        THEN 512.0 * ln(512.0 / CAST(v AS DOUBLE))
                        ELSE e_raw END, 4) AS hll_est
      FROM (
        SELECT {keys},
               8.497699123215257e+20
                 / CAST(sp + (512 - np) * (CAST(1 AS BIGINT) << 52)
                        AS DOUBLE) AS e_raw,
               512 - np AS v
        FROM {out}_agg)
    )"""


@register(
    "a8_hll_set_algebra",
    oracle=f"""
    WITH {_HLL_SQL_REGS}, types AS (
      SELECT DISTINCT event_type FROM events
    ), pairs AS (
      SELECT a.event_type AS type_a, b2.event_type AS type_b
      FROM types a JOIN types b2 ON a.event_type < b2.event_type
    ), mregs AS (
      SELECT p.type_a, p.type_b, r.bucket, max(r.rho) AS rho
      FROM pairs p JOIN regs r
        ON r.event_type = p.type_a OR r.event_type = p.type_b
      GROUP BY 1, 2, 3
    ), {_hll_sql_estimate("mregs", "type_a, type_b", "uest")},
    {_hll_sql_estimate("regs", "event_type", "test")},
    du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), xinter AS (
      SELECT a.event_type AS type_a, b2.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS exact_inter
      FROM du a JOIN du b2
        ON a.user_id = b2.user_id AND a.event_type < b2.event_type
      GROUP BY 1, 2
    ), xcnt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY 1
    )
    SELECT p.type_a, p.type_b,
           u.hll_est AS hll_union,
           round(greatest(ea.hll_est + eb.hll_est - u.hll_est, 0.0), 4)
             AS hll_inter,
           (ca.n + cb.n - coalesce(xi.exact_inter, 0)) AS exact_union,
           coalesce(xi.exact_inter, 0) AS exact_inter
    FROM pairs p
    JOIN uest u ON u.type_a = p.type_a AND u.type_b = p.type_b
    JOIN test ea ON ea.event_type = p.type_a
    JOIN test eb ON eb.event_type = p.type_b
    JOIN xcnt ca ON ca.event_type = p.type_a
    JOIN xcnt cb ON cb.event_type = p.type_b
    LEFT JOIN xinter xi
      ON xi.type_a = p.type_a AND xi.type_b = p.type_b
    """,
    survey="A8b,A8,A7,O4",
)
def a8_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user UNION and INTERSECTION estimates for every pair of
    event types, computed purely on HLL register state: the pair's union
    registers are the per-bucket max of the two types' registers (never
    a second pass over events), the intersection is inclusion-exclusion
    over the three estimates (clamped at 0 — IE can go negative at HLL
    error scale), and both sit next to the exact values. At 100 TB the
    register table (types x 512 rows) is the maintained artifact — this
    whole query reads events only to build/refresh it and to measure the
    estimator's error."""
    from ssidentity_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, "event_type", "user_id").persist()
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    mregs = (
        F.broadcast(pairs)
        .join(
            regs,
            (regs.event_type == F.col("type_a"))
            | (regs.event_type == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    uest = hll_estimate_from_registers(mregs, ["type_a", "type_b"]).select(
        "type_a", "type_b", F.col("hll_est").alias("hll_union")
    )
    test_ = hll_estimate_from_registers(regs, ["event_type"])
    du = ev.select("event_type", "user_id").distinct().persist()
    xinter = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    xcnt = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ea = test_.select(
        F.col("event_type").alias("type_a"), F.col("hll_est").alias("ea")
    )
    eb = test_.select(
        F.col("event_type").alias("type_b"), F.col("hll_est").alias("eb")
    )
    ca = xcnt.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    cb = xcnt.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pairs.join(uest, ["type_a", "type_b"])
        .join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .join(xinter, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "hll_union",
            F.round(
                F.greatest(
                    F.col("ea") + F.col("eb") - F.col("hll_union"), F.lit(0.0)
                ),
                4,
            ).alias("hll_inter"),
            (
                F.col("na") + F.col("nb") - F.coalesce("exact_inter", F.lit(0))
            ).alias("exact_union"),
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
        )
    )


# ---------------------------------------------------------------------------
# W7 (r10) — event-SEQUENCE pattern matching (the MATCH_RECOGNIZE verb):
# W6's funnel asks "how far did each key get once"; W7 asks "how many
# non-overlapping occurrences of a PATTERN does each key's ordered event
# string contain, and how long is the longest". The reference's declared
# habitual-movement analysis (README.md:16-17) is exactly this: recurring
# visit→browse→convert episodes per device, not a single progression.
#
# Mechanics: the per-key event-type sequence is encoded as a STRING (the
# five event types have distinct initials — c/e/p/s/v), and the pattern is
# a real regex over it. Determinism across engines (Java regex vs RE2):
# the pattern's character classes are DISJOINT ('s', '[cv]*', 'p' share no
# character), so greedy scanning admits exactly one match decomposition —
# no backtracking ambiguity exists for either engine, and leftmost
# non-overlapping scanning is common semantics. At 100 TB this is one
# per-key ordered aggregation (the W4/W6 sessionization bound: a key's
# history array) followed by pure string expressions — one keyed exchange.
# ---------------------------------------------------------------------------

# signup, then any browsing (clicks/views), then purchase — with errors or
# another signup breaking the episode
_W7_PATTERN = "s[cv]*p"


@register(
    "w7_event_pattern",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s
      FROM events GROUP BY 1
    ), m AS (
      SELECT user_id, s, regexp_extract_all(s, '{_W7_PATTERN}') AS ms
      FROM seq
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST(len(ms) AS BIGINT) AS n_matches,
           CAST(coalesce(list_max(list_transform(ms, x -> length(x))), 0)
                AS BIGINT) AS longest_match,
           CAST(coalesce(list_sum(list_transform(ms, x -> length(x) - 2)), 0)
                AS BIGINT) AS n_browse_steps
    FROM m
    """,
    survey="W7,W6,A1",
    # benched since r11 (VERDICT r10 ask #5): the r10 pattern-matching
    # family's regression tracker — one keyed collect_list+regex pass
    bench=True,
)
def w7_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the number of non-overlapping signup->browse*->purchase
    episodes in the time-ordered event sequence, the longest episode,
    and the total browsing steps spent inside episodes."""
    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            "",
        ).alias("s")
    )
    ms = F.expr(f"regexp_extract_all(s, '{_W7_PATTERN}', 0)")
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.size(ms).cast("long").alias("n_matches"),
        F.coalesce(
            F.array_max(F.transform(ms, lambda x: F.length(x))), F.lit(0)
        )
        .cast("long")
        .alias("longest_match"),
        F.coalesce(
            F.aggregate(
                F.transform(ms, lambda x: F.length(x) - 2),
                F.lit(0),
                lambda a, x: a + x,
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_browse_steps"),
    )


# ---------------------------------------------------------------------------
# ID1 (late r11) — behavioral identity linkage: for every user, the OTHER
# user whose (hour-of-day × event-type) activity profile is most cosine-
# similar. This is the reference's NAMESAKE question — "SSIDentity" exists
# to identify devices from passive behavior (README.md:11-18), and under
# MAC randomization the operational form is exactly this: which two
# observed identifiers behave like the same device? The profile is the
# habitual fingerprint A2 summarizes, promoted to a vector and matched.
#
# Determinism — the TS6 lineage, integer edition: profiles are INTEGER
# counts, dots and squared norms are exact BIGINT sums (order-free), the
# cosine is one pinned expression (IEEE sqrt correctly rounded on both
# engines), and the per-user argmax ranks bit-identical doubles with a
# (cosine DESC, match ASC) tie-break. No float sum, no rounding anywhere.
# ---------------------------------------------------------------------------


def behavior_profiles(events: DataFrame) -> DataFrame:
    """(user_id, hod, event_type, c): the behavioral fingerprint table —
    integer event counts per user and (hour-of-day × type) cell.

    Pure expressions + one mergeable counting aggregation, so the SAME
    function is legal on a streaming DataFrame: at 100 TB this table is
    the MAINTAINED artifact (streaming/profiles.py folds arriving events
    into it incrementally; map-side partial aggregation collapses each
    micro-batch before the state store), and linkage/eval queries read
    it rather than rebuilding from raw events."""
    from ssidentity_spark.functions.timeutil import epoch_s

    return (
        events.select(
            "user_id",
            (F.floor(epoch_s("ts") / F.lit(3600)) % 24)
            .cast("long")
            .alias("hod"),
            "event_type",
        )
        .groupBy("user_id", "hod", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


@register(
    "id_behavior_linkage",
    bench=True,  # benched from late r12: the identity-linkage family's
    # regression tracker (the kcore pattern — r11 ask #6 habit) and the
    # engine's namesake analytic; floor seeds this round
    oracle="""
    WITH prof AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
             event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ), norms AS (
      SELECT user_id,
             CAST(sum(c * c) AS BIGINT) AS n2,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM prof GROUP BY 1
    ), dots AS (
      SELECT a.user_id AS user_id, b.user_id AS match_id,
             CAST(sum(a.c * b.c) AS BIGINT) AS dot,
             CAST(count(*) AS BIGINT) AS shared_cells
      FROM prof a JOIN prof b
        ON a.hod = b.hod AND a.event_type = b.event_type
       AND a.user_id <> b.user_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT d.user_id, d.match_id, d.shared_cells, d.dot,
             d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine,
             na.n_cells,
             row_number() OVER (PARTITION BY d.user_id
                                ORDER BY d.dot / (sqrt(na.n2) * sqrt(nb.n2))
                                  DESC, d.match_id ASC) AS rk
      FROM dots d
      JOIN norms na ON d.user_id = na.user_id
      JOIN norms nb ON d.match_id = nb.user_id
    )
    SELECT user_id, match_id, n_cells, shared_cells, dot, cosine
    FROM scored WHERE rk = 1
    """,
    survey="ID1,A2,A1,U5,J9",
)
def id_behavior_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the most behaviorally similar OTHER user — cosine over
    integer (hour-of-day × event-type) count profiles, ties to the
    smallest candidate id — with the shared-cell count and the exact
    integer dot product. The MAC-randomization linkage question asked
    as a query: two identifiers that behave identically are one device
    candidate.

    Plan shape: one profile aggregate, then one integer block product
    over the dense (user × cell) count matrix keeps every user's best
    match; pairs sharing no profile cell are never candidates. The
    profile space here (24×types) is deliberately dense at gate scale —
    every cell is hot (occupancy ≈ 43% of users at sf0.01) — so the
    honest 100 TB path is stated, not hidden: cap candidate-generation
    cells by occupancy (the text_sparse_cosine_pairs df-cap, recall
    trade measured there)
    or band the profile vectors through the existing sign-LSH
    machinery (dedup_simhash/sim_lsh_bucketed) and verify exactly
    within buckets, exactly as this query verifies.

    Determinism: integer counts, BIGINT dots/norms (order-free exact),
    one pinned cosine expression (IEEE sqrt), argmax on bit-identical
    doubles with deterministic ties — no rounding anywhere."""
    return _exact_linkage(behavior_profiles(load_table(spark, sf_dir, "events")))


def _cell_pair_width(n_rows: int, conf_width: int) -> int:
    """Shuffle width for a profile-row stage that fans each row out (the
    LSH plane projections): ~2000 profile rows per task, clamped to the
    session conf. The floor keeps tiny inputs (sf0.001 oracle gates,
    vanilla 200-partition driver sessions) from pinning a conf-width wave
    of empty tasks that AQE cannot coalesce behind an explicit-width
    repartition (ADVICE r12)."""
    return max(1, min(conf_width, -(-n_rows // 2000)))


def _profile_topk(prof: DataFrame, k: int, mutual: bool = False) -> DataFrame:
    """Each user's top-``k`` other users by exact profile cosine, ties to
    the smaller id, pairs sharing no cell left out (operators/blocktopk.py
    integer tier): ``(qid, cid, n_cells, shared_cells, dot, cosine, rnk)``."""
    from ssidentity_spark.operators.blocktopk import block_topk_int

    return block_topk_int(
        prof, k, "user_id", ["hod", "event_type"], "c", mutual=mutual
    )


def _exact_linkage(prof: DataFrame) -> DataFrame:
    """Per-user exact top-1 cosine linkage over a ``behavior_profiles``
    frame — the body of ``id_behavior_linkage``, shared with the
    eval/index queries (``id_linkage_lsh_recall_eval``,
    ``id_linkage_banded``) so they reuse one profile frame for both their
    candidate tier and this exact tier.

    Plan shape: one integer block product over the dense (user × cell)
    count matrix (operators/blocktopk.py). Determinism: BIGINT dots and
    norms, one pinned cosine expression, ties to the smaller ``match_id``."""
    return _profile_topk(prof, 1).select(
        F.col("qid").alias("user_id"),
        F.col("cid").alias("match_id"),
        "n_cells",
        "shared_cells",
        "dot",
        "cosine",
    )


# ---------------------------------------------------------------------------
# E4 (late r11) — linkage LSH recall eval: MEASURE the 100 TB candidate
# generator id_behavior_linkage's docstring promises. Profile vectors are
# mean-centered (sign-LSH on raw positive counts is useless — everything
# lives in one orthant and every hyperplane agrees), banded through
# seeded random-hyperplane signatures (_LNK_BITS bits, _LNK_BANDS bands,
# OR-amplified), and the eval reports how often the EXACT top-1 match
# appears among a user's LSH candidates, plus the candidate-pair ratio —
# the recall/cost point of this geometry (prototyped: 12 bits / 4 bands
# ≈ 0.82 recall at ≈ 0.67 of all-pairs at sf0.01). The E1b/E2 pattern
# applied to ID1.
#
# Determinism — everything stays INTEGER: centering is multiplied
# through by the user count U (sign(Σ(c−S/U)·s) = sign(Σ(c·U−S)·s) for
# U>0), so projections are exact BIGINT sums of md5-seeded ±1 terms —
# order-free; bits compare integers to zero; recall/ratio are single
# pinned divisions of exact counts. No rounding anywhere.
# ---------------------------------------------------------------------------

_LNK_BITS = 12
_LNK_BANDS = 4  # 3 bits per band


def _lnk_sign() -> F.Column:
    """±1 Rademacher sign for a (plane ``pn``, profile-cell ``hod`` ×
    ``event_type``) pair: +1 iff the first hex digit of
    md5('pn:hod:event_type') is <= '7' (exact and identical on both
    engines over the md5 hex alphabet). Uses NULL-PROPAGATING
    ``F.concat`` to mirror the oracle's ``||`` exactly: a NULL cell key
    yields a NULL condition, which falls to -1 on BOTH engines
    (Spark ``otherwise``, DuckDB ``CASE ... ELSE``)."""
    return F.when(
        F.substring(
            F.md5(
                F.concat(
                    F.col("pn"),
                    F.lit(":"),
                    F.col("hod"),
                    F.lit(":"),
                    F.col("event_type"),
                )
            ),
            1,
            1,
        )
        <= "7",
        F.lit(1),
    ).otherwise(F.lit(-1))


def _lnk_projections(prof: DataFrame, n_bits: int) -> DataFrame:
    """(user_id, pn, pr): each user's mean-centred profile projected on
    ``n_bits`` seeded ±1 planes, in exact integers (centering multiplied
    through by the user count U).

    The sign is a pure function of (pn, hod, event_type), so its table is
    built once (cells × planes rows, one md5 each) and broadcast-joined
    in, and the plane-independent (c·U − s) term is projected before the
    plane fan-out. The profile rows cross one slim exchange on user_id
    ahead of the fan-out, which every per-user aggregate after it rides
    with no further exchange; integer sums are bit-exact under any
    partitioning."""
    spark = prof.sparkSession
    u = prof.select(F.countDistinct("user_id").cast("long").alias("u"))
    cellsum = prof.groupBy("hod", "event_type").agg(F.sum("c").cast("long").alias("s"))
    planes = spark.range(1, n_bits + 1).select(F.col("id").cast("long").alias("pn"))
    signs = (
        cellsum.select("hod", "event_type")
        .crossJoin(F.broadcast(planes))
        .withColumn("sgn", _lnk_sign())
    )
    width = _cell_pair_width(
        prof.count(), int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    )
    centered = (
        prof.repartition(width, "user_id")
        .join(F.broadcast(cellsum), ["hod", "event_type"])
        .crossJoin(F.broadcast(u))
        .select(
            "user_id",
            "hod",
            "event_type",
            (F.col("c") * F.col("u") - F.col("s")).alias("ctr"),
        )
    )
    return (
        centered.join(F.broadcast(signs), ["hod", "event_type"])
        .groupBy("user_id", "pn")
        .agg(F.sum(F.col("ctr") * F.col("sgn")).alias("pr"))
    )


@register(
    "id_linkage_lsh_recall_eval",
    oracle=f"""
    WITH prof AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
             event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ), uc AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u FROM prof
    ), cellsum AS (
      SELECT hod, event_type, CAST(sum(c) AS BIGINT) AS s
      FROM prof GROUP BY 1, 2
    ), proj AS (
      SELECT p.user_id, pl.pn,
             sum((p.c * uc.u - cs.s)
                 * (CASE WHEN substr(md5(pl.pn || ':' || p.hod || ':'
                                        || p.event_type), 1, 1) <= '7'
                    THEN 1 ELSE -1 END)) AS pr
      FROM prof p
      JOIN cellsum cs USING (hod, event_type)
      CROSS JOIN uc
      CROSS JOIN (SELECT unnest(generate_series(1, {_LNK_BITS})) AS pn) pl
      GROUP BY 1, 2
    ), sig AS (
      SELECT user_id,
             CAST((pn - 1) // {_LNK_BITS // _LNK_BANDS} AS BIGINT) AS band,
             string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END,
                        '' ORDER BY pn) AS key
      FROM proj GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.user_id AS u1, b.user_id AS u2
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.key = b.key AND a.user_id <> b.user_id
    ), norms AS (
      SELECT user_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM prof GROUP BY 1
    ), dots AS (
      SELECT a.user_id AS u1, b.user_id AS u2,
             CAST(sum(a.c * b.c) AS BIGINT) AS dot
      FROM prof a JOIN prof b
        ON a.hod = b.hod AND a.event_type = b.event_type
       AND a.user_id <> b.user_id
      GROUP BY 1, 2
    ), exact AS (
      SELECT u1, u2 FROM (
        SELECT u1, u2, row_number() OVER (PARTITION BY u1
          ORDER BY dot / (sqrt(na.n2) * sqrt(nb.n2)) DESC, u2) AS rk
        FROM dots
        JOIN norms na ON u1 = na.user_id
        JOIN norms nb ON u2 = nb.user_id
      ) WHERE rk = 1
    )
    , m AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_users,
             (SELECT CAST(count(*) AS BIGINT) FROM exact e
               JOIN cand c ON e.u1 = c.u1 AND e.u2 = c.u2) AS n_recalled,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates
    )
    SELECT n_users, n_recalled,
           n_recalled / CAST(n_users AS DOUBLE) AS recall_at_1,
           n_candidates,
           n_candidates / (CAST(n_users AS DOUBLE) * (n_users - 1))
             AS candidate_ratio
    FROM m
    """,
    survey="E4,ID1,E2,U5",
)
def id_linkage_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row eval: does the sign-LSH candidate generator (the 100 TB
    path id_behavior_linkage names) recall the exact top-1 behavioral
    match? Reports users evaluated, top-1 recall, and the candidate-
    pair ratio vs all-pairs — the recall/cost point of the
    {_LNK_BITS}-bit / {_LNK_BANDS}-band geometry.

    Plan shape: profiles aggregate once (persisted); projections are
    one (user, plane)-keyed aggregate over the cell frame joined to the
    broadcast-sized cell-sum table; signatures band-join on (band, key)
    — candidates only ever materialize per shared bucket, THE property
    being evaluated; the exact tier is the registered linkage query
    itself. Determinism: integer-scaled centering keeps projections
    exact BIGINT sums (order-free); recall/ratio are pinned divisions
    of exact counts — no rounding anywhere."""
    # the projection tier and the exact tier both read the profile
    # frame: checkpoint it once, so each reads a materialized leaf
    prof = materialize(behavior_profiles(load_table(spark, sf_dir, "events")))
    proj = _lnk_projections(prof, _LNK_BITS)
    bits_per = _LNK_BITS // _LNK_BANDS
    sig = (
        proj.withColumn(
            "band", ((F.col("pn") - 1) / bits_per).cast("long")
        )
        .withColumn("bit", F.when(F.col("pr") > 0, "1").otherwise("0"))
        .groupBy("user_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pn", "bit"))),
                    lambda x: x["bit"],
                ),
                "",
            ).alias("key")
        )
    )
    # r12 optimization: materialize the (user, band, key) signatures once
    # — both sides of the band self-join consume them, and the build side
    # otherwise re-runs the whole plane-projection chain (the
    # id_linkage_banded trade, at 12-bit cost here).
    sig = materialize(sig)
    a = sig.alias("a")
    b = sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.user_id") != F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u1"), F.col("b.user_id").alias("u2")
        )
        .distinct()
    )
    # exact tier: SHARE the persisted prof above (was: a second
    # persisted copy via id_behavior_linkage(spark, sf_dir) — re-derived
    # the profile aggregate from raw events; r11-advice plan dedup)
    #
    # materialize both tiers once — `exact` feeds two branches (n_users +
    # the recall join) and `cand` feeds two (n_candidates + the recall
    # join); without the cut each branch re-ran its pair pass. Both
    # frames are user/candidate-sized.
    exact = materialize(
        _exact_linkage(prof)
        .select(F.col("user_id").alias("u1"), F.col("match_id").alias("u2"))
    )
    cand = materialize(cand)
    recalled = exact.join(cand, ["u1", "u2"])
    n_users = exact.agg(F.count(F.lit(1)).cast("long").alias("v"))
    n_rec = recalled.agg(F.count(F.lit(1)).cast("long").alias("v"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("v"))
    row = (
        n_users.select(F.col("v").alias("n_users"))
        .crossJoin(n_rec.select(F.col("v").alias("n_recalled")))
        .crossJoin(n_cand.select(F.col("v").alias("n_candidates")))
    )
    return row.select(
        "n_users",
        "n_recalled",
        (F.col("n_recalled") / F.col("n_users").cast("double")).alias(
            "recall_at_1"
        ),
        "n_candidates",
        (
            F.col("n_candidates")
            / (
                F.col("n_users").cast("double")
                * (F.col("n_users") - F.lit(1))
            )
        ).alias("candidate_ratio"),
    )


# ---------------------------------------------------------------------------
# ID2 (r12) — id_linkage_banded: the linkage INDEX tier as a gated query,
# completing ID1's 100 TB story (VERDICT r11 ask #1). Candidate generation
# is a 512-bit signed-random-projection signature (the same md5-seeded
# integer-centered planes E4 evaluates, widened), bit-packed into 16
# 32-bit words; a user's candidates are their top-K other users by
# signature AGREEMENT (XOR-popcount, exact integers), K =
# max(20, ceil((U-1)/5)) — a pinned ≤~20% candidate ratio. The exact
# cosine tier then verifies ONLY those pairs: profile dots never
# materialize outside the candidate set.
#
# Why top-K over threshold banding: measured at sf0.01 (SCALE.md "r12:
# linkage index tier"), OR-amplified threshold banding on these
# profiles CANNOT reach a useful corner — per-bit match/random agreement
# is 0.575 vs ~0.60 raw (dense 24×type cells ⇒ correlated bits; centered
# 0.575 vs 0.50) and the best measured banding point is 0.91 recall at
# 0.78 of all-pairs (df-capping and idf reweighting make it WORSE:
# ≤0.83 @ 0.63). Ranking by the full 512-bit agreement instead separates
# cleanly: measured top-1 recall vs the exact tier 0.973 @ 0.201 ratio
# (sf0.01) and 0.998 @ 0.200 (sf0.1) — past the ≥0.9 @ ≤0.3 target. At
# 10⁹-user scale the signature table is ~80 B/user (broadcastable
# shards), each comparison one 64-byte XOR-popcount (~500× cheaper than
# a sparse profile dot), and K decouples from U when real duplicate
# devices exist (fixed K=60 already holds 0.92 recall at sf0.1's
# 1500-user density, ratio 0.04 — the true large-corpus operating
# point; the (U+3) DIV 5 rule is the gate-scale contract).
#
# Determinism — integer end to end until the one pinned cosine:
# projections are exact BIGINT sums of md5-seeded ±1 terms (order-free);
# bits compare to zero; packed words are sums of distinct powers of two
# (< 2^32, no shift overflow on either engine); agreement is
# 512 − Σ bit_count(xor) over the 16 words; the top-K cut ranks
# (agreement DESC, candidate ASC) — all integers; the verify tier is
# ID1's pinned cosine expression on bit-identical doubles.
# ---------------------------------------------------------------------------

_LNK_SKETCH_BITS = 512
_LNK_WORD_BITS = 32
_LNK_WORDS = _LNK_SKETCH_BITS // _LNK_WORD_BITS  # 16


@register(
    "id_linkage_banded",
    # NOT benched: its gate-scale K = ceil((U-1)/5) rule pins the
    # candidate RATIO for the oracle, so its cost grows ~quadratically
    # with the corpus (23 s at sf0.1 — the fixed-K=60 operating point
    # in SCALE.md is the production shape); the family's bench tracker
    # is id_behavior_linkage
    oracle=f"""
    WITH prof AS MATERIALIZED (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
             event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ), uc AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u FROM prof
    ), cellsum AS (
      SELECT hod, event_type, CAST(sum(c) AS BIGINT) AS s
      FROM prof GROUP BY 1, 2
    ), proj AS MATERIALIZED (
      SELECT p.user_id, pl.pn,
             sum((p.c * uc.u - cs.s)
                 * (CASE WHEN substr(md5(pl.pn || ':' || p.hod || ':'
                                        || p.event_type), 1, 1) <= '7'
                    THEN 1 ELSE -1 END)) AS pr
      FROM prof p
      JOIN cellsum cs USING (hod, event_type)
      CROSS JOIN uc
      CROSS JOIN (SELECT unnest(generate_series(1, {_LNK_SKETCH_BITS}))
                    AS pn) pl
      GROUP BY 1, 2
    ), words AS (
      SELECT user_id, (pn - 1) // {_LNK_WORD_BITS} AS w,
             CAST(sum(CASE WHEN pr > 0
                  THEN CAST(1 AS BIGINT)
                         << CAST((pn - 1) % {_LNK_WORD_BITS} AS INTEGER)
                  ELSE 0 END) AS BIGINT) AS wv
      FROM proj GROUP BY 1, 2
    ), sig AS MATERIALIZED (
      SELECT user_id, list(wv ORDER BY w) AS wds FROM words GROUP BY 1
    ), pairs AS (
      SELECT a.user_id AS u1, b.user_id AS u2,
             CAST({_LNK_SKETCH_BITS} - list_sum(list_transform(
                 list_zip(a.wds, b.wds),
                 x -> bit_count(xor(CAST(x[1] AS BIGINT),
                                    CAST(x[2] AS BIGINT)))))
               AS BIGINT) AS agreement
      FROM sig a JOIN sig b ON a.user_id <> b.user_id
    ), cand AS (
      SELECT u1, u2, agreement FROM (
        SELECT u1, u2, agreement,
               row_number() OVER (PARTITION BY u1
                                  ORDER BY agreement DESC, u2) AS rk
        FROM pairs
      ) r CROSS JOIN uc
      WHERE rk <= GREATEST(20, (uc.u + 3) // 5)
    ), norms AS MATERIALIZED (
      SELECT user_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM prof GROUP BY 1
    ), dots AS (
      SELECT cd.u1, cd.u2, cd.agreement,
             CAST(sum(a.c * b.c) AS BIGINT) AS dot,
             CAST(count(*) AS BIGINT) AS shared_cells
      FROM cand cd
      JOIN prof a ON a.user_id = cd.u1
      JOIN prof b ON b.user_id = cd.u2
       AND b.hod = a.hod AND b.event_type = a.event_type
      GROUP BY 1, 2, 3
    ), scored AS (
      SELECT d.u1, d.u2, d.agreement, d.shared_cells, d.dot,
             d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine,
             row_number() OVER (PARTITION BY d.u1
               ORDER BY d.dot / (sqrt(na.n2) * sqrt(nb.n2)) DESC, d.u2)
               AS rk
      FROM dots d
      JOIN norms na ON d.u1 = na.user_id
      JOIN norms nb ON d.u2 = nb.user_id
    )
    SELECT u1 AS user_id, u2 AS match_id, agreement, shared_cells, dot,
           cosine
    FROM scored WHERE rk = 1
    """,
    survey="ID2,ID1,E4,U5,J10",
)
def id_linkage_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the most behaviorally similar other user, found THROUGH
    the signature index — 512-bit signed-projection sketch, top-K
    candidates by exact XOR-popcount agreement, exact integer-cosine
    verify within candidates only. ID1's answer at ID1's claimed scale:
    the profile dot join never sees a non-candidate pair.

    Plan shape: profiles aggregate once (persisted, shared with norms
    and the verify tier); projections are one (user, plane)-keyed
    aggregate; signatures pack to 16 words per user and the pair stage
    joins sig × broadcast(sig) — 2.25 M pairs × 128 B at sf0.1, the
    cheap compressed-domain pass; one user-keyed rank bounds candidates
    at K = max(20, ceil((U−1)/5)); the exact tier joins candidates to
    the broadcast profile frame. Measured vs the exact all-pairs tier:
    recall 0.973 @ 0.201 candidate ratio (sf0.01), 0.998 @ 0.200
    (sf0.1) — threshold banding tops out at 0.91 @ 0.78 on this corpus
    (curve in SCALE.md r12).

    Determinism: integer projections/packing/agreement end to end; the
    only doubles are ID1's pinned cosine expression, ranked
    bit-identically on both engines."""
    from pyspark.sql import Window as W

    # consumers: proj, cellsum, uc, dots (a+b), norms — persist once;
    # intended to stay cached for the process (narrow frame)
    prof = behavior_profiles(load_table(spark, sf_dir, "events")).persist()
    u = prof.select(F.countDistinct("user_id").cast("long").alias("u"))
    proj = _lnk_projections(prof, _LNK_SKETCH_BITS)
    words = (
        proj.withColumn(
            "w", F.expr(f"CAST((pn - 1) DIV {_LNK_WORD_BITS} AS BIGINT)")
        )
        .withColumn(
            "bitv",
            F.when(
                F.col("pr") > 0,
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    f"CAST((pn - 1) % {_LNK_WORD_BITS} AS INT))"
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("user_id", "w")
        .agg(F.sum("bitv").cast("long").alias("wv"))
    )
    sig = words.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "wv"))),
            lambda x: x["wv"],
        ).alias("wds")
    )
    # r12 optimization: materialize the signature table once — it is
    # user-count-sized (16 longs per user) but its lineage is the 512×
    # plane fan-out aggregate (~40M rows at sf0.1), and the pair stage
    # consumes it TWICE (probe side + broadcast build side). Without the
    # cut the broadcast build re-ran the whole projection chain
    # (measured ~4 s per re-run at sf0.1, two extra runs).
    sig = materialize(sig)
    a = sig.alias("a")
    b = sig.alias("b")
    # r12 optimization: unrolled XOR-popcount over the 16 words inside a
    # CASE WHEN guard (higher-order lambdas evaluate interpreted, the
    # guarded unrolled chain compiles through codegen); integer sums are order-free so the fold is
    # exactly equivalent, and a non-16-word signature falls back to the
    # general HOF form unchanged.
    _wa, _wb = F.col("a.wds"), F.col("b.wds")
    _unrolled = F.lit(0).cast("long")
    for _w in range(_LNK_WORDS):
        _unrolled = _unrolled + F.bit_count(
            _wa[_w].bitwiseXOR(_wb[_w])
        ).cast("long")
    _hof = F.aggregate(
        F.zip_with(_wa, _wb, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v.cast("long"),
    )
    agreement = (
        F.lit(_LNK_SKETCH_BITS).cast("long")
        - F.when(
            (F.size(_wa) == _LNK_WORDS) & (F.size(_wb) == _LNK_WORDS),
            _unrolled,
        ).otherwise(_hof)
    ).alias("agreement")
    pairs = a.join(
        F.broadcast(b), F.col("a.user_id") != F.col("b.user_id")
    ).select(
        F.col("a.user_id").alias("u1"),
        F.col("b.user_id").alias("u2"),
        agreement,
    )
    rk = F.row_number().over(
        W.partitionBy("u1").orderBy(F.desc("agreement"), F.asc("u2"))
    )
    cand = (
        pairs.withColumn("rk", rk)
        .crossJoin(F.broadcast(u))
        .where(
            F.col("rk")
            <= F.greatest(F.lit(20), F.expr("CAST((u + 3) DIV 5 AS BIGINT)"))
        )
        .select("u1", "u2", "agreement")
    )
    pa = prof.alias("pa")
    pb = prof.alias("pb")
    dots = (
        cand.alias("cd")
        .join(F.broadcast(pa), F.col("cd.u1") == F.col("pa.user_id"))
        .join(
            F.broadcast(pb),
            (F.col("cd.u2") == F.col("pb.user_id"))
            & (F.col("pb.hod") == F.col("pa.hod"))
            & (F.col("pb.event_type") == F.col("pa.event_type")),
        )
        .groupBy("cd.u1", "cd.u2", "cd.agreement")
        .agg(
            F.sum(F.col("pa.c") * F.col("pb.c")).cast("long").alias("dot"),
            F.count(F.lit(1)).cast("long").alias("shared_cells"),
        )
        .select(
            F.col("u1"), F.col("u2"), F.col("agreement"),
            F.col("dot"), F.col("shared_cells"),
        )
    )
    norms = prof.groupBy("user_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2")
    )
    na = norms.alias("na")
    nb = norms.alias("nb")
    scored = (
        dots.alias("d")
        .join(F.broadcast(na), F.col("d.u1") == F.col("na.user_id"))
        .join(F.broadcast(nb), F.col("d.u2") == F.col("nb.user_id"))
        .select(
            F.col("d.u1").alias("user_id"),
            F.col("d.u2").alias("match_id"),
            F.col("d.agreement").alias("agreement"),
            F.col("d.shared_cells").alias("shared_cells"),
            F.col("d.dot").alias("dot"),
            (
                F.col("d.dot")
                / (F.sqrt(F.col("na.n2")) * F.sqrt(F.col("nb.n2")))
            ).alias("cosine"),
        )
    )
    rk2 = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    )
    return (
        scored.withColumn("rk", rk2)
        .where(F.col("rk") == 1)
        .select(
            "user_id", "match_id", "agreement", "shared_cells", "dot",
            "cosine",
        )
    )


# ---------------------------------------------------------------------------
# ID3 (r12) — identity RESOLUTION: linkage pairs promoted to device
# clusters. ID1 answers "who is each identifier's best behavioral match";
# the operational output of an identity system is the PARTITION — the
# transitive closure of "these two behave like one device" (reference
# README.md:11-18: identify devices across randomized identifiers).
# Edges are MUTUAL top-K (K=2) cosine pairs — the scale-free graph the
# kcore/LPA families already use. Both alternatives were MEASURED
# degenerate on this corpus: a fixed cosine floor has no
# density-independent operating point (τ=0.5 gives ~2 edges at sf0.001
# but one 1500-user giant component at sf0.1), and K=3 percolates (one
# 15/107/893-member component per SF). K=2 bounds degree everywhere
# AND keeps the closure meaningful at every SF — 3/27/306 multi-member
# clusters of max size 7/10/13 at sf0.001/0.01/0.1, multi-hop chains
# (max > 2) at all three, giant component at none; K=1 would reduce
# the closure to a perfect matching (max size 2, nothing transitive).
# Components come from the shared connected-components operator, and
# the DuckDB oracle replays the fixpoint as a recursive transitive-closure
# CTE, so the iterative algorithm is hash-verified, not rows-only
# (dedup_cc_clusters pattern).
# ---------------------------------------------------------------------------

_LNK_MUTUAL_K = 2


@register(
    "id_linkage_clusters",
    oracle=f"""
    WITH RECURSIVE prof AS MATERIALIZED (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
             event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ), norms AS MATERIALIZED (
      SELECT user_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM prof GROUP BY 1
    ), knn AS MATERIALIZED (
      SELECT u1, u2 FROM (
        SELECT d.u1, d.u2,
               row_number() OVER (PARTITION BY d.u1
                 ORDER BY d.dot / (sqrt(na.n2) * sqrt(nb.n2)) DESC, d.u2)
                 AS rk
        FROM (
          SELECT a.user_id AS u1, b.user_id AS u2,
                 CAST(sum(a.c * b.c) AS BIGINT) AS dot
          FROM prof a JOIN prof b
            ON a.hod = b.hod AND a.event_type = b.event_type
           AND a.user_id <> b.user_id
          GROUP BY 1, 2
        ) d
        JOIN norms na ON d.u1 = na.user_id
        JOIN norms nb ON d.u2 = nb.user_id
      ) WHERE rk <= {_LNK_MUTUAL_K}
    ), pairs AS MATERIALIZED (
      SELECT f.u1, f.u2
      FROM knn f JOIN knn r ON f.u1 = r.u2 AND f.u2 = r.u1
      WHERE f.u1 < f.u2
    ), edges AS MATERIALIZED (
      SELECT u1 AS u, u2 AS v FROM pairs
      UNION
      SELECT u2, u1 FROM pairs
    ), reach(u, label) AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ), comp AS (
      SELECT u AS user_id, min(label) AS cluster_id FROM reach GROUP BY u
    ), assigned AS (
      SELECT p.user_id,
             coalesce(c.cluster_id, p.user_id) AS cluster_id
      FROM (SELECT DISTINCT user_id FROM prof) p
      LEFT JOIN comp c USING (user_id)
    )
    SELECT user_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM assigned
    """,
    survey="ID3,ID1,A3,G1",
)
def id_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Device clusters: connected components over the MUTUAL top-K
    (K=2) behavioral-linkage graph, every profiled user keyed to its
    cluster's minimum member id with the cluster size — singletons are
    their own canonical. The keep-one-per-device stage of the namesake
    identity pipeline, downstream of ID1's per-user best match and
    ID2's index tier.

    Plan shape: the top-K and the mutual filter are ID1's integer block
    product (operators/blocktopk.py; pairs sharing no profile cell are
    never candidates), edge-bounded from there on (degree ≤ K by
    construction, so the closure never sees corpus-sized data; the K=2
    operating point and the measured degeneracy of both the τ-floor and
    K=3 alternatives are in the banner comment above). The components
    come from the shared operator (operators/graph.py:
    connected_components, O(log diameter) rounds, checkpoint-truncated).
    The 100 TB candidate path is ID2's signature index feeding this same
    rank.

    Determinism: integer BIGINT dots/norms (order-free exact), ONE
    pinned cosine expression ranked with (cosine DESC, id ASC) on
    bit-identical doubles (the ID1 contract — no rounding), mutuality
    and the components are integer-exact, cluster sizes are counts."""
    from ssidentity_spark.operators.graph import connected_components

    prof = behavior_profiles(load_table(spark, sf_dir, "events")).persist()
    # mutual top-K pairs, each once (u1 < u2); the kNN frame is K·U rows
    # and every step after it is edge-bounded
    pairs = (
        _profile_topk(prof, _LNK_MUTUAL_K, mutual=True)
        .where(F.col("qid") < F.col("cid"))
        .select(F.col("qid").alias("u1"), F.col("cid").alias("u2"))
    )
    labels = connected_components(pairs, src="u1", dst="u2")
    users = prof.select("user_id").distinct()
    assigned = (
        users.join(
            labels.select(
                F.col("vertex").alias("user_id"),
                F.col("component").alias("cid"),
            ),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            F.coalesce("cid", F.col("user_id")).alias("cluster_id"),
        )
    )
    return assigned.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("long"),
    )
