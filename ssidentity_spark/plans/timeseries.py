"""Time-series regularization queries (hypertable-rollup family) over
``events``.

Reference impetus: every declared analytic over the sniffer's observation
stream (habitual movements / active hours / distance tracking,
/root/reference/README.md:15-18) consumes an IRREGULAR per-device series;
a regular grid with interpolated gaps is the canonical first rollup.
``events`` stands in for the observation stream (user_id ~ MAC, value ~
RSSI-like measure), as everywhere in plans/analytics.py.

Determinism contract with the oracle (the reason this family can be
hash-gated at all): bucket means are exact DECIMAL sums divided once, the
linear blend is written with a pinned operation order, and the final round
happens on both engines — see operators/timeseries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssidentity_spark.io import load_table
from ssidentity_spark.operators.timeseries import resample_interpolate
from ssidentity_spark.registry import register
from ssidentity_spark.streaming.ema import (
    EMA_ALPHA,
    EMA_GAIN,
    HOLT_ALPHA,
    HOLT_BETA,
)

_BUCKET = 4 * 3600  # 4-hour grid: ~37% bucket occupancy at sf0.01 — the
# interpolation path (not just the pass-through) carries most rows


def _seed_first_fold(terms, merge):
    """Seed-first left fold over an array column in its element order:
    acc starts as terms[1] and merges terms[2..] left to right — the
    exact association DuckDB's ``list_reduce`` uses, so both engines
    combine in the same pinned order (the cross-engine determinism
    contract every order-sensitive double aggregation in this module
    rides: ts_ema, ts_seasonal_strength, ts_acf). Callers guarantee
    non-emptiness or shield the call behind a lazily-evaluated guard —
    ``element_at(terms, 1)`` errors on an empty array under ANSI."""
    return F.aggregate(
        F.slice(terms, 2, F.greatest(F.size(terms) - 1, F.lit(0))),
        F.element_at(terms, 1),
        merge,
    )


@register(
    "ts_gapfill_interpolate",
    # DuckDB recomputes the full pipeline: bucket means (decimal-exact),
    # per-key dense grid via generate_series, bracketing observed points
    # via IGNORE NULLS windows, and the same fixed-order linear blend.
    oracle=f"""
    WITH obs AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / {_BUCKET}) * {_BUCKET} AS BIGINT) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) / count(value)
               AS obs_val
      FROM events
      WHERE user_id % 5 = 0
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1
    ), grid AS (
      SELECT user_id, CAST(unnest(generate_series(b0, b1, {_BUCKET})) AS BIGINT)
               AS bucket
      FROM span
    ), dense AS (
      SELECT g.user_id, g.bucket, o.obs_val
      FROM grid g LEFT JOIN obs o USING (user_id, bucket)
    ), br AS (
      SELECT user_id, bucket, obs_val,
             last_value(obs_val IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN obs_val IS NOT NULL THEN bucket END
                        IGNORE NULLS) OVER wp AS pb,
             first_value(obs_val IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN obs_val IS NOT NULL THEN bucket END
                         IGNORE NULLS) OVER wn AS nb
      FROM dense
      WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket,
           floor(CASE WHEN obs_val IS NOT NULL THEN obs_val
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv)
                           * (CAST(bucket - pb AS DOUBLE)
                              / CAST(nb - pb AS DOUBLE))
                 END * 1e6 + 0.5) / 1e6 AS value_interp,
           obs_val IS NULL AS gap_filled
    FROM br
    """,
    survey="EXT-timeseries,A1,W3",
    bench=True,  # r6 headliner: the output-bound grid/window shape no
    # other headliner exercises (seeds its baseline this round)
)
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular event values → dense 4-hour grid with linear fill, for a
    deterministic 1-in-5 user cohort (bounds the gate's compare size; the
    operator itself is cohort-agnostic)."""
    e = load_table(spark, sf_dir, "events").where("user_id % 5 = 0")
    return resample_interpolate(e, "user_id", "ts", "value", _BUCKET)


@register(
    "ts_ema",
    # The fold runs in the SAME order with the SAME IEEE double ops in
    # both engines (sorted struct list → left fold, seed = first value),
    # so the result is bit-identical before the cosmetic round.
    oracle=f"""
    SELECT user_id,
           round(list_reduce(list_transform(l, s -> s.v),
                             (acc, x) -> acc * {EMA_ALPHA} + x * {EMA_GAIN}),
                 6) AS ema,
           CAST(len(l) AS BIGINT) AS n_events
    FROM (
      SELECT user_id,
             list_sort(list(struct_pack(ts := ts, eid := event_id,
                                        v := value))) AS l
      FROM events GROUP BY user_id
    )
    """,
    survey="W2,W3,A6",
)
def ts_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (α=0.9 decay) of
    the value series — the order-RECURSIVE aggregation: acc = 0.9·acc +
    0.1·x cannot map-side combine, so the honest distributed shape is a
    per-key ordered fold (one shuffle on the key; per-key state is the
    key's history array — the same bound any sessionization carries). At
    100 TB the two escape hatches are (a) the streaming form — O(1)
    state per key, fold across micro-batches — and (b) truncated EMA
    (α^k < ε after k ≈ 130 terms at α=0.9 → ROWS BETWEEN k PRECEDING
    window), trading ε error for bounded memory."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    vals = F.transform(arr, lambda s: s["value"])
    ema = _seed_first_fold(
        vals, lambda acc, x: acc * F.lit(EMA_ALPHA) + x * F.lit(EMA_GAIN)
    )
    return ev.groupBy("user_id").agg(
        F.round(ema, 6).alias("ema"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# TS3 (r9) — M4 downsampling (Jugel et al., VLDB 2014): per series and time
# bucket keep exactly the points a pixel-perfect line rendering needs — the
# first, last, minimum and maximum — instead of a lossy bucket average.
# The standard dashboard/visualization rollup for billion-point series; a
# bucket collapses to <= 4 points no matter how dense it is.
# ---------------------------------------------------------------------------

_M4_BUCKET = 4 * 3600  # the gapfill grid width: ~5+ points per bucket


@register(
    "ts_m4_downsample",
    # Determinism: value doubles are read bit-identically from the same
    # parquet by both engines, and every extreme is selected by a
    # row_number over a fully-tiebroken order (value, ts, event_id) — no
    # arithmetic on floats at all, so no rounding is even needed.
    oracle=f"""
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {_M4_BUCKET}) * {_M4_BUCKET} AS BIGINT)
               AS bucket,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us, value, event_id
      FROM events
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bucket
               ORDER BY value ASC, ts_us ASC, event_id ASC) AS rn_min,
             row_number() OVER (PARTITION BY event_type, bucket
               ORDER BY value DESC, ts_us ASC, event_id ASC) AS rn_max,
             row_number() OVER (PARTITION BY event_type, bucket
               ORDER BY ts_us ASC, event_id ASC) AS rn_first,
             row_number() OVER (PARTITION BY event_type, bucket
               ORDER BY ts_us DESC, event_id DESC) AS rn_last
      FROM base
    )
    SELECT DISTINCT event_type, bucket, ts_us, value FROM r
    WHERE rn_min = 1 OR rn_max = 1 OR rn_first = 1 OR rn_last = 1
    """,
    survey="TS3,EXT-timeseries,W1,O5",
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsample of the per-type event series: for every 4-hour
    bucket, the <= 4 points (first, last, min-value, max-value) that
    reproduce the bucket's rendered line exactly; ties broken by
    (ts, event_id) so the selection is a total order.

    Plan shape: ONE (event_type, bucket)-keyed exchange carries all four
    rank windows (same partition key — Spark re-sorts within partitions,
    no extra shuffle), then a narrow filter + distinct on the <= 4-row
    survivors. At 100 TB the output is bounded by 4 x series x buckets
    regardless of input density — the property that makes M4 the
    dashboard rollup."""
    from pyspark.sql import Window
    from ssidentity_spark.functions.timeutil import epoch_s, epoch_us

    ev = load_table(spark, sf_dir, "events")
    import pyspark.sql.functions as F

    base = ev.select(
        "event_type",
        (
            F.floor(epoch_s("ts") / _M4_BUCKET) * _M4_BUCKET
        ).cast("long").alias("bucket"),
        epoch_us("ts").cast("long").alias("ts_us"),
        "value",
        "event_id",
    )

    def w(*order):
        return Window.partitionBy("event_type", "bucket").orderBy(*order)

    r = (
        base.withColumn(
            "rn_min",
            F.row_number().over(
                w(F.asc("value"), F.asc("ts_us"), F.asc("event_id"))
            ),
        )
        .withColumn(
            "rn_max",
            F.row_number().over(
                w(F.desc("value"), F.asc("ts_us"), F.asc("event_id"))
            ),
        )
        .withColumn(
            "rn_first",
            F.row_number().over(w(F.asc("ts_us"), F.asc("event_id"))),
        )
        .withColumn(
            "rn_last",
            F.row_number().over(w(F.desc("ts_us"), F.desc("event_id"))),
        )
    )
    return (
        r.where(
            (F.col("rn_min") == 1)
            | (F.col("rn_max") == 1)
            | (F.col("rn_first") == 1)
            | (F.col("rn_last") == 1)
        )
        .select("event_type", "bucket", "ts_us", "value")
        .distinct()
    )


# ---------------------------------------------------------------------------
# TS4 (r10) — robust anomaly detection: per-series median/MAD z-scores.
# The monitoring rollup next to TS1's regularization and TS3's rendering
# rollup: MAD (median absolute deviation) is the standard robust scale
# estimate — unlike mean/stddev it does not let the outliers it is hunting
# poison the threshold. 1.4826 * MAD estimates sigma under normality; the
# |z| > 3 rule is the textbook robust outlier gate (Leys et al. 2013).
#
# Determinism contract: medians are exact interpolating quantiles of
# 2-dp-grid values, so their midpoints sit ON the 6-dp grid (stable under
# the 1-ulp interpolation-order difference between engines — grid points
# round to themselves, only half-boundary points are dangerous); med/mad
# are rounded to 6 dp FIRST and every z is computed from the rounded pair
# with one pinned operation order, so the threshold compare is
# bit-identical on both engines (the repo rounding contract).
# ---------------------------------------------------------------------------

_MAD_SIGMA = 1.4826
_MAD_Z = 3.0


@register(
    "ts_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT user_id, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY 1
    ), dev AS (
      SELECT e.user_id,
             round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
      FROM events e JOIN med m ON e.user_id = m.user_id GROUP BY 1
    )
    SELECT e.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           m.med, d.mad,
           CAST(count(*) FILTER (
             d.mad > 0 AND
             round(abs(e.value - m.med) / ({_MAD_SIGMA} * d.mad), 6)
               > {_MAD_Z}
           ) AS BIGINT) AS n_anomalies,
           max(CASE WHEN d.mad > 0 THEN
             round(abs(e.value - m.med) / ({_MAD_SIGMA} * d.mad), 6)
           END) AS max_z
    FROM events e
    JOIN med m ON e.user_id = m.user_id
    JOIN dev d ON e.user_id = d.user_id
    GROUP BY 1, 3, 4
    """,
    survey="TS4,A6,W3",
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust anomaly audit: exact median and MAD of the value
    series, the count of |z| > 3 robust outliers, and the worst z.

    Plan shape: two quantile aggregates and one counting aggregate, all
    keyed on user_id — one partitioning reused across every exchange.
    Exact percentile buffers a key's values like any per-key ordered
    statistic (the ts_ema bound); at 100 TB the drop-in escape hatch is
    approx_percentile (t-digest, map-side combinable, one pass) at a
    documented accuracy trade."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    med = e.groupBy("user_id").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    j = e.join(med, "user_id")
    dev = j.groupBy("user_id").agg(
        F.round(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad")
    )
    full = j.join(dev, "user_id")
    z = F.round(
        F.abs(F.col("value") - F.col("med"))
        / (F.lit(_MAD_SIGMA) * F.col("mad")),
        6,
    )
    return full.groupBy("user_id", "med", "mad").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when((F.col("mad") > 0) & (z > _MAD_Z), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_anomalies"),
        F.max(F.when(F.col("mad") > 0, z)).alias("max_z"),
    ).select(
        "user_id", "n_events", "med", "mad", "n_anomalies", "max_z"
    )


# ---------------------------------------------------------------------------
# TS5 — SAX symbolization (Lin et al. 2003): PAA-compress each series into
# fixed-width window means, then symbolize each mean against the series'
# own quartiles ('a'..'d') — the
# discretization under time-series motif/anomaly search and the string
# bridge that lets the TEXT machinery (fingerprints, n-gram novelty,
# suffix filters) run on sensor series. Equi-depth breakpoints (quartiles)
# instead of the classical Gaussian ones: no normality assumption, and
# the thresholds stay inside the repo's exact-quantile determinism story.
#
# Determinism: PAA means are sum/count of 2-dp values (one division,
# identical op both engines); rounded at 6 dp. Quartiles interpolate the
# ROUNDED means at g in {0, .25, .5, .75} — values land on the 2.5e-7
# grid, whose points sit on 7-dp HALF-boundaries, so quartiles round at
# EIGHT dp (where that grid is self-stable; the U5e lesson applied in
# advance). Symbol compare is strict > on (6-dp mean, 8-dp quartile) —
# bit-identical inputs, bit-identical symbols.
# ---------------------------------------------------------------------------

_SAX_W = 8  # events per PAA window


@register(
    "ts_sax_symbols",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) - 1 AS rn
      FROM events
    ), paa AS (
      SELECT user_id, CAST(rn // {_SAX_W} AS BIGINT) AS win_idx,
             round(sum(value) / count(*), 6) AS m
      FROM ordered GROUP BY 1, 2
    ), brk AS (
      SELECT user_id,
             round(quantile_cont(m, 0.25), 8) AS q1,
             round(quantile_cont(m, 0.50), 8) AS q2,
             round(quantile_cont(m, 0.75), 8) AS q3
      FROM paa GROUP BY 1
    ), sym AS (
      SELECT p.user_id, p.win_idx, p.m,
             CASE WHEN p.m > b.q3 THEN 'd'
                  WHEN p.m > b.q2 THEN 'c'
                  WHEN p.m > b.q1 THEN 'b'
                  ELSE 'a' END AS s
      FROM paa p JOIN brk b ON p.user_id = b.user_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           string_agg(s, '' ORDER BY win_idx) AS sax_word
    FROM sym GROUP BY 1
    """,
    survey="TS5,EXT-timeseries,W3,A6",
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the SAX word — one 'a'..'d' symbol per {_SAX_W}-event
    PAA window, breakpoints at the series' own PAA quartiles.

    Plan shape: one keyed window (position numbering), one (user, window)
    aggregate, one quartile aggregate, one broadcast-sized join back —
    every exchange keyed on the series key. Per-key cost is the series'
    window count; the PAA table, not the raw series, is what downstream
    motif search scans (the whole point of the compression)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    ) - 1
    paa = (
        e.withColumn("win_idx", (rn / _SAX_W).cast("bigint"))
        .groupBy("user_id", "win_idx")
        .agg(
            F.round(F.sum("value") / F.count(F.lit(1)), 6).alias("m")
        )
    )
    brk = paa.groupBy("user_id").agg(
        F.round(F.expr("percentile(m, 0.25)"), 8).alias("q1"),
        F.round(F.expr("percentile(m, 0.50)"), 8).alias("q2"),
        F.round(F.expr("percentile(m, 0.75)"), 8).alias("q3"),
    )
    sym = paa.join(brk, "user_id").select(
        "user_id",
        "win_idx",
        F.when(F.col("m") > F.col("q3"), "d")
        .when(F.col("m") > F.col("q2"), "c")
        .when(F.col("m") > F.col("q1"), "b")
        .otherwise("a")
        .alias("s"),
    )
    return sym.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("win_idx", "s"))
                ),
                lambda x: x["s"],
            ),
            "",
        ).alias("sax_word"),
    )


# ---------------------------------------------------------------------------
# TS5b — SAX motif discovery (the search the symbolization exists to feed:
# habitual-movement motifs, reference README.md:17 "identify habitual
# areas"). Sliding length-_SAX_L windows over each user's SAX word are the
# candidate motifs; a collision — the same word at ≥2 positions (any
# users) — is a repeated pattern. This is the classic SAX motif pipeline
# (Lin/Keogh et al. 2002): collisions in symbol space are CANDIDATES the
# caller may re-verify against raw values; the candidate generation is
# the scale problem and it runs entirely on the 8×-compressed PAA table.
# Determinism: symbols are bit-identical to ts_sax_symbols (same CTEs);
# everything downstream is integer/string arithmetic — no float anywhere.
# ---------------------------------------------------------------------------

_SAX_L = 4  # motif length in symbols (= 4 × _SAX_W = 32 events)
_SAX_MIN_SUPPORT = 2


@register(
    "ts_sax_motifs",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) - 1 AS rn
      FROM events
    ), paa AS (
      SELECT user_id, CAST(rn // {_SAX_W} AS BIGINT) AS win_idx,
             round(sum(value) / count(*), 6) AS m
      FROM ordered GROUP BY 1, 2
    ), brk AS (
      SELECT user_id,
             round(quantile_cont(m, 0.25), 8) AS q1,
             round(quantile_cont(m, 0.50), 8) AS q2,
             round(quantile_cont(m, 0.75), 8) AS q3
      FROM paa GROUP BY 1
    ), sym AS (
      SELECT p.user_id, p.win_idx,
             CASE WHEN p.m > b.q3 THEN 'd'
                  WHEN p.m > b.q2 THEN 'c'
                  WHEN p.m > b.q1 THEN 'b'
                  ELSE 'a' END AS s
      FROM paa p JOIN brk b ON p.user_id = b.user_id
    ), words AS (
      SELECT user_id, count(*) AS n_windows,
             string_agg(s, '' ORDER BY win_idx) AS w
      FROM sym GROUP BY 1
    ), subs AS (
      SELECT user_id, substr(w, CAST(o AS INTEGER) + 1, {_SAX_L}) AS motif
      FROM words
      CROSS JOIN unnest(generate_series(
        0, CAST(n_windows AS INTEGER) - {_SAX_L})) AS t(o)
      WHERE n_windows >= {_SAX_L}
    )
    SELECT motif,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM subs GROUP BY 1
    HAVING count(*) >= {_SAX_MIN_SUPPORT}
    """,
    survey="TS5b,W3,A6,A10",
)
def ts_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated length-{_SAX_L} SAX motifs across all users' series:
    every sliding window over every user's SAX word, grouped by the
    word itself — (motif, total occurrences, distinct users carrying
    it), support ≥ {_SAX_MIN_SUPPORT}.

    Plan shape: consumes :func:`ts_sax_symbols`' word frame (the whole
    point of symbolizing — motif search scans the 8×-compressed PAA
    alphabet, never raw events), explodes n_windows-{_SAX_L}+1 offsets
    per user (linear in COMPRESSED length), and aggregates on the motif
    string. The group-by key space is bounded by the 4^{_SAX_L} = 256
    symbol alphabet, so the final aggregate is map-side-combined into a
    handful of rows regardless of corpus size — at 100 TB the explode is
    the only corpus-scale stage and it is embarrassingly parallel;
    popular motifs cannot skew the shuffle because partial aggregation
    collapses each partition to ≤256 rows before the exchange."""
    words = ts_sax_symbols(spark, sf_dir)
    subs = (
        words.filter(F.col("n_windows") >= _SAX_L)
        .select(
            "user_id",
            "sax_word",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_windows").cast("int") - _SAX_L
                )
            ).alias("o"),
        )
        .select(
            "user_id",
            F.col("sax_word").substr(F.col("o") + 1, F.lit(_SAX_L)).alias("motif"),
        )
    )
    return (
        subs.groupBy("motif")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .filter(F.col("n_occurrences") >= _SAX_MIN_SUPPORT)
    )


# ---------------------------------------------------------------------------
# TS5c — SAX discord candidates (HOT SAX outer loop, Keogh et al. 2005):
# the RAREST word is the most-promising anomalous subsequence. Rarity
# ordering is exactly the HOT SAX heuristic that prunes the quadratic
# discord confirmation; the distance-based confirmation itself is the
# caller's refinement step on the tiny candidate set this query emits
# (stated here so the claim stays honest — this is candidate GENERATION,
# the scale problem, not the final discord proof).
# ---------------------------------------------------------------------------


@register(
    "ts_sax_discords",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) - 1 AS rn
      FROM events
    ), paa AS (
      SELECT user_id, CAST(rn // {_SAX_W} AS BIGINT) AS win_idx,
             round(sum(value) / count(*), 6) AS m
      FROM ordered GROUP BY 1, 2
    ), brk AS (
      SELECT user_id,
             round(quantile_cont(m, 0.25), 8) AS q1,
             round(quantile_cont(m, 0.50), 8) AS q2,
             round(quantile_cont(m, 0.75), 8) AS q3
      FROM paa GROUP BY 1
    ), sym AS (
      SELECT p.user_id, p.win_idx,
             CASE WHEN p.m > b.q3 THEN 'd'
                  WHEN p.m > b.q2 THEN 'c'
                  WHEN p.m > b.q1 THEN 'b'
                  ELSE 'a' END AS s
      FROM paa p JOIN brk b ON p.user_id = b.user_id
    ), words AS (
      SELECT user_id, count(*) AS n_windows,
             string_agg(s, '' ORDER BY win_idx) AS w
      FROM sym GROUP BY 1
    ), subs AS (
      SELECT user_id, CAST(o AS BIGINT) AS o,
             substr(w, CAST(o AS INTEGER) + 1, {_SAX_L}) AS motif
      FROM words
      CROSS JOIN unnest(generate_series(
        0, CAST(n_windows AS INTEGER) - {_SAX_L})) AS t(o)
      WHERE n_windows >= {_SAX_L}
    ), g AS (
      SELECT motif, CAST(count(*) AS BIGINT) AS n_occ FROM subs GROUP BY 1
    ), r AS (
      SELECT s.user_id, s.o, s.motif, g.n_occ,
             row_number() OVER (PARTITION BY s.user_id
                                ORDER BY g.n_occ, s.motif, s.o) AS rk
      FROM subs s JOIN g USING (motif)
    )
    SELECT user_id, motif AS discord_word, n_occ AS global_count,
           o AS win_offset
    FROM r WHERE rk = 1
    """,
    survey="TS5c,TS4,W1,A10",
)
def ts_sax_discords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the discord CANDIDATE — the sliding SAX word rarest in
    the whole corpus (ties: smaller word, then earlier offset), with its
    global occurrence count and window offset.

    Plan shape: shares the subword explode with :func:`ts_sax_motifs`;
    the global rarity table is the SAME ≤4^{_SAX_L}-row aggregate the
    motif query produces (broadcast back to the subword frame — a
    model-sized join, no second corpus shuffle), then one per-user rank.
    At 100 TB: explode is linear in compressed length, rarity lookup is
    a broadcast, and the rank exchange is keyed on the series key —
    nothing quadratic anywhere; the quadratic distance confirmation HOT
    SAX prunes runs only on this output's few rows."""
    words = ts_sax_symbols(spark, sf_dir)
    subs = (
        words.filter(F.col("n_windows") >= _SAX_L)
        .select(
            "user_id",
            "sax_word",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_windows").cast("int") - _SAX_L
                )
            ).alias("o"),
        )
        .select(
            "user_id",
            F.col("o").cast("long").alias("o"),
            F.col("sax_word").substr(F.col("o") + 1, F.lit(_SAX_L)).alias("motif"),
        )
        # two consumers below (rarity aggregate + join-back): persist so
        # the symbolization pipeline — events scan, position window, two
        # keyed aggregates, quartile join — plans once, not per branch
        # (repo convention for double-consumed frames; exchange reuse is
        # not guaranteed across AQE re-optimization). Stays cached for
        # the process by intent — narrow frame, LRU evicts under
        # pressure (r11 advice: accretion documented, not leaked)
        .persist()
    )
    g = subs.groupBy("motif").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("user_id").orderBy("n_occ", "motif", "o")
    )
    return (
        subs.join(F.broadcast(g), "motif")
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("motif").alias("discord_word"),
            F.col("n_occ").alias("global_count"),
            F.col("o").alias("win_offset"),
        )
    )


@register(
    "ts_gapfill_locf",
    # The step-function sibling of ts_gapfill_interpolate: same bucket
    # means, same dense grid, but gaps carry the LAST observation
    # forward (valid-until-changed semantics); grid points before a
    # key's first observation stay NULL — never back-filled from the
    # future. Oracle replays the identical backward IGNORE NULLS window.
    oracle=f"""
    WITH obs AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / {_BUCKET}) * {_BUCKET} AS BIGINT) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) / count(value)
               AS obs_val
      FROM events
      WHERE user_id % 5 = 1
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1
    ), grid AS (
      SELECT user_id, CAST(unnest(generate_series(b0, b1, {_BUCKET})) AS BIGINT)
               AS bucket
      FROM span
    ), dense AS (
      SELECT g.user_id, g.bucket, o.obs_val
      FROM grid g LEFT JOIN obs o USING (user_id, bucket)
    ), br AS (
      SELECT user_id, bucket, obs_val,
             last_value(obs_val IGNORE NULLS) OVER wp AS pv
      FROM dense
      WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket,
           floor(coalesce(obs_val, pv) * 1e6 + 0.5) / 1e6 AS value_interp,
           obs_val IS NULL AS gap_filled
    FROM br
    """,
    survey="TS1,W2,A6",
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 4-hour grid with last-observation-carried-forward fill for
    a deterministic 1-in-5 user cohort (disjoint from the interpolation
    query's cohort, so the two gates exercise different keys). LOCF is
    the fill a presence/telemetry pipeline wants when a reading holds
    until replaced — the reference's RSSI/visit world, where
    interpolating between two visits invents presence that never
    happened. Same plan as the linear form minus the forward window:
    one grouped mean, one per-key grid explode, ONE backward
    ignore-nulls window — every exchange keyed on the series key."""
    e = load_table(spark, sf_dir, "events").where("user_id % 5 = 1")
    return resample_interpolate(
        e, "user_id", "ts", "value", _BUCKET, method="locf"
    )


# ---------------------------------------------------------------------------
# TS6 — seasonal (hour-of-day) decomposition with an ANOVA
# strength measure: how much of a series' variance the hour-of-day profile
# explains. eta² = SS_between / SS_total over the 24 hour-of-day groups is
# the classical one-way ANOVA effect size and the standard "seasonal
# strength" statistic of STL-style decompositions reduced to a categorical
# period; the reference impetus is the active-hours/habitual analysis
# (README.md:16 "most active hours") asked as a QUANTIFIED question — not
# just WHICH hour peaks (A2 answers that) but HOW MUCH of the behavior the
# daily cycle explains.
#
# Determinism contract (why no rounding is needed anywhere): every sum
# that has partition-order freedom is an exact DECIMAL/BIGINT sum (Σx and
# Σx² as DECIMAL(18,2)/(,4); counts as BIGINT); the only double summation
# — Σ_h s_h²/n_h over a user's ≤24 hour groups — runs as an ordered fold
# over the hour-sorted list (the ts_ema pattern), and every remaining op
# is ONE pinned-order double expression of those exact inputs. Identical
# IEEE inputs + identical op order = bit-identical doubles on both
# engines, so the hash holds on RAW values. Deliberately NOT rounded:
# per-hour means s/n with data-dependent n land on dyadic rationals
# (odd/2^k) whose exact k-digit decimal expansion always ends in 5 — a
# representable half-boundary at (k-1) dp where Spark (HALF_UP) and
# DuckDB (half-even) disagree — so rounding at ANY fixed scale is the
# only way to make this family diverge (the U5e lesson, inverted).
# ---------------------------------------------------------------------------


@register(
    "ts_seasonal_strength",
    oracle="""
    WITH base AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
      WHERE value IS NOT NULL
    ), h AS (
      SELECT user_id, hod,
             CAST(count(*) AS BIGINT) AS n_h,
             sum(v) AS s_dec,
             sum(v * v) AS q_dec
      FROM base GROUP BY 1, 2
    ), hh AS (
      SELECT user_id, hod, n_h, s_dec,
             CAST(s_dec AS DOUBLE) AS s_dbl,
             q_dec,
             CAST(s_dec AS DOUBLE) / n_h AS mean_h
      FROM h
    ), u AS (
      SELECT user_id,
             CAST(sum(n_h) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(s_dec) AS DOUBLE) AS s_all,
             CAST(sum(q_dec) AS DOUBLE) AS q_all,
             list_reduce(
               list_transform(
                 list_sort(list(struct_pack(
                   hod := hod, s := s_dbl, nd := CAST(n_h AS DOUBLE)))),
                 x -> (x.s * x.s) / x.nd),
               (acc, t) -> acc + t) AS ssb_raw,
             max(struct_pack(m := mean_h, nh := -hod)) AS pk
      FROM hh GROUP BY 1
    )
    SELECT user_id, n_events, n_hours,
           s_all / n_events AS grand_mean,
           CASE WHEN q_all - CAST(n_events AS DOUBLE)
                              * (s_all / n_events) * (s_all / n_events) > 0
                THEN least(1.0, greatest(0.0,
                     (ssb_raw - CAST(n_events AS DOUBLE)
                                  * (s_all / n_events) * (s_all / n_events))
                     / (q_all - CAST(n_events AS DOUBLE)
                                  * (s_all / n_events) * (s_all / n_events))))
           END AS seasonal_strength,
           CAST(-(pk.nh) AS BIGINT) AS peak_hour,
           pk.m AS peak_mean
    FROM u
    """,
    survey="TS6,TS4,A2,A6,W3",
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: how much of the value series the daily cycle explains —
    one-way ANOVA effect size eta² = SS_between/SS_total over the 24
    hour-of-day groups (clamped to [0,1]; NULL for a constant series),
    plus the grand mean and the peak hour (largest hour-of-day mean,
    ties to the smallest hour).

    Plan shape: one (user, hour-of-day) aggregate — partial aggregation
    collapses each partition to ≤ 24·users rows before the exchange —
    then one user-keyed aggregate whose per-key state is the ≤24-row
    hour list; every exchange is keyed on the series key and the group
    count is hard-bounded by the period, so skew cannot concentrate
    (the heaviest user still folds 24 elements). At 100 TB both stages
    map-side combine; nothing is quadratic, nothing buffers raw events.

    Determinism: exact DECIMAL/BIGINT partial sums; the one double sum
    (Σ s_h²/n_h) folds in pinned hour order; outputs stay UNROUNDED —
    bit-identical by construction, and per-hour means are dyadic-valued
    where fixed-scale rounding is exactly what diverges (see module
    comment)."""
    from ssidentity_spark.functions.timeutil import epoch_s

    # NULL values are excluded up front on BOTH engines: an all-NULL
    # hour group would otherwise make mean_h NULL, and the two engines
    # place a NULL struct field at OPPOSITE ends of max(struct(...))
    # (Spark: smallest; DuckDB: largest) — the one NULL path that could
    # diverge under the hash
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            (F.floor(epoch_s("ts") / F.lit(3600)) % 24)
            .cast("long")
            .alias("hod"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    h = e.groupBy("user_id", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("v").alias("s_dec"),
        F.sum(F.col("v") * F.col("v")).alias("q_dec"),
    )
    hh = h.select(
        "user_id",
        "hod",
        "n_h",
        "s_dec",
        F.col("s_dec").cast("double").alias("s_dbl"),
        "q_dec",
        (F.col("s_dec").cast("double") / F.col("n_h")).alias("mean_h"),
    )
    # ordered fold for the ONE order-sensitive double sum (ts_ema
    # pattern: seed = first term, fold the rest in hour order — the
    # same association DuckDB's list_reduce uses)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("hod"),
                F.col("s_dbl").alias("s"),
                F.col("n_h").cast("double").alias("nd"),
            )
        )
    )
    terms = F.transform(arr, lambda x: (x["s"] * x["s"]) / x["nd"])
    ssb_raw = _seed_first_fold(terms, lambda acc, t: acc + t)
    u = hh.groupBy("user_id").agg(
        F.sum("n_h").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        # user-level total re-sums the exact DECIMAL partials — order-
        # free-exact, cast to double once at the end (oracle identical)
        F.sum("s_dec").cast("double").alias("s_all"),
        F.sum("q_dec").cast("double").alias("q_all"),
        ssb_raw.alias("ssb_raw"),
        F.max(
            F.struct(
                F.col("mean_h").alias("m"),
                (-F.col("hod")).alias("nh"),
            )
        ).alias("pk"),
    )
    gm = F.col("s_all") / F.col("n_events")
    nssq = F.col("n_events").cast("double") * gm * gm
    ss_total = F.col("q_all") - nssq
    ss_between = F.col("ssb_raw") - nssq
    return u.select(
        "user_id",
        "n_events",
        "n_hours",
        gm.alias("grand_mean"),
        F.when(
            ss_total > 0,
            F.least(
                F.lit(1.0), F.greatest(F.lit(0.0), ss_between / ss_total)
            ),
        ).alias("seasonal_strength"),
        (-F.col("pk.nh")).cast("long").alias("peak_hour"),
        F.col("pk.m").alias("peak_mean"),
    )


# ---------------------------------------------------------------------------
# TS7 — at-most-one-changepoint (AMOC) detection: for each user's
# ordered value series, the split index maximizing the standardized
# mean-shift statistic score(k) = sqrt(k·(n-k)/n) · |mean_L − mean_R| —
# the classical CUSUM-type two-sample scan (Hinkley 1970) and the first
# split of binary segmentation, i.e. the primitive every multi-changepoint
# method iterates. Reference impetus: habitual-behavior CHANGE is the
# alert the sniffer's analytics imply (README.md:16-18 — a device whose
# active pattern shifts is exactly what "habitual areas" monitoring
# surfaces); TS4 flags single outlier points, TS7 flags regime shifts.
#
# Determinism (the TS6 story again): prefix sums of DECIMAL(18,2) values
# under a fully-tiebroken per-key order are EXACT, every per-row double
# (two means, the weight, the score) is one pinned-order expression of
# those exact inputs (sqrt is IEEE-correctly-rounded on both engines),
# and the argmax is a row_number over (score DESC, k ASC) on
# bit-identical doubles — no rounding anywhere, nothing order-sensitive
# ever summed as doubles.
# ---------------------------------------------------------------------------


@register(
    "ts_changepoint_amoc",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,2)) AS v,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             row_number() OVER w AS k,
             sum(CAST(value AS DECIMAL(18,2))) OVER w AS s_k,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(18,2)))
               OVER (PARTITION BY user_id) AS s_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), scored AS (
      SELECT user_id, k, n, ts_us,
             CAST(s_k AS DOUBLE) / k AS mean_left,
             CAST(s_n - s_k AS DOUBLE) / (n - k) AS mean_right,
             sqrt(CAST(k * (n - k) AS DOUBLE) / n)
               * abs(CAST(s_k AS DOUBLE) / k
                     - CAST(s_n - s_k AS DOUBLE) / (n - k)) AS score
      FROM ordered
      WHERE k < n
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY score DESC, k ASC) AS rk
      FROM scored
    )
    SELECT user_id, n AS n_events, k AS cp_index, ts_us AS cp_ts_us,
           mean_left, mean_right, score AS cp_score
    FROM best WHERE rk = 1
    """,
    survey="TS7,TS4,W2,W3,A6",
)
def ts_changepoint_amoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the most likely single changepoint of the value series —
    the split k (1 ≤ k < n, ties to the earliest) maximizing
    sqrt(k(n-k)/n)·|mean(x₁..x_k) − mean(x_{k+1}..x_n)|, with both
    segment means, the split's event timestamp, and the score. TS4
    catches outlier POINTS; this catches regime SHIFTS (the habitual-
    pattern change the reference's monitoring implies).

    Plan shape: ONE user-keyed exchange carries everything — the
    running decimal prefix sum, the per-key total (same partition key →
    Spark re-sorts within partitions, no second shuffle), the per-row
    score, and the argmax rank. Per-key state is one sort buffer (the
    ts_ema bound); nothing quadratic — the naive per-split re-scan is
    O(n²) per key, the prefix-sum form is O(n log n) in the sort.

    Determinism: exact DECIMAL prefix sums under a total order, then
    pinned-order double expressions (IEEE sqrt/div/abs are correctly
    rounded on both engines) — outputs deliberately UNROUNDED (the TS6
    dyadic-mean argument, module comment)."""
    from pyspark.sql import Window as W
    from ssidentity_spark.functions.timeutil import epoch_us

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        epoch_us("ts").cast("long").alias("ts_us"),
        "ts",
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wk = W.partitionBy("user_id")
    ordered = e.select(
        "user_id",
        "ts_us",
        F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id")).alias("k"),
        F.sum("v").over(w).alias("s_k"),
        F.count(F.lit(1)).over(wk).cast("long").alias("n"),
        F.sum("v").over(wk).alias("s_n"),
    )
    mean_left = F.col("s_k").cast("double") / F.col("k")
    mean_right = (F.col("s_n") - F.col("s_k")).cast("double") / (
        F.col("n") - F.col("k")
    )
    score = F.sqrt(
        (F.col("k") * (F.col("n") - F.col("k"))).cast("double") / F.col("n")
    ) * F.abs(mean_left - mean_right)
    scored = ordered.where(F.col("k") < F.col("n")).select(
        "user_id",
        F.col("k").cast("long").alias("k"),
        "n",
        "ts_us",
        mean_left.alias("mean_left"),
        mean_right.alias("mean_right"),
        score.alias("score"),
    )
    rk = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.desc("score"), F.asc("k"))
    )
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("k").alias("cp_index"),
            F.col("ts_us").alias("cp_ts_us"),
            "mean_left",
            "mean_right",
            F.col("score").alias("cp_score"),
        )
    )


# ---------------------------------------------------------------------------
# TS8 — the sample autocorrelation function at lags 1..4: r_l =
# sum_t (x_t - m)(x_{t+l} - m) / sum_t (x_t - m)^2 with the grand mean m.
# The classical serial-dependence descriptor (Box/Jenkins): TS6 asks "is
# the series periodic BY the clock", ACF asks "does it remember ITSELF" —
# together the standard first look at any sensor series, and the literal
# reading of the reference README's "things that can be correlated"
# (README.md:15) applied to a series' own past.
#
# Determinism: m comes from the exact DECIMAL sum; both quadratic sums
# fold over the SAME (ts, event_id)-sorted value list in pinned order
# (seed-first, the ts_ema association); every per-term product is one
# pinned-order double expression of bit-identically-read parquet values.
# Unrounded outputs, same argument as TS6/TS7.
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 4)


def _acf_oracle() -> str:
    lag_cols = ",\n           ".join(
        f"""CASE WHEN n > {l} AND den > 0 THEN
             list_reduce(
               list_transform(generate_series(1, CAST(n AS INTEGER) - {l}),
                              i -> (l[i] - m) * (l[i + {l}] - m)),
               (acc, t) -> acc + t) / den
           END AS acf_lag{l}"""
        for l in _ACF_LAGS
    )
    return f"""
    WITH s AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS m,
             list_transform(
               list_sort(list(struct_pack(
                 ts_us := CAST(epoch_us(ts) AS BIGINT),
                 eid := event_id, v := value))),
               x -> x.v) AS l
      FROM events GROUP BY 1
    ), d AS (
      SELECT user_id, n, m, l,
             list_reduce(list_transform(l, x -> (x - m) * (x - m)),
                         (acc, t) -> acc + t) AS den
      FROM s
    )
    SELECT user_id, n AS n_events, m AS mean_value,
           {lag_cols}
    FROM d
    """


@register(
    "ts_acf",
    oracle=_acf_oracle(),
    survey="TS8,A6,W2,A1",
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the sample autocorrelation of the value series at lags
    1..4 (``_ACF_LAGS``; classical estimator, grand-mean centered,
    lag-0 variance denominator), NULL where the lag exceeds the series
    or the series is constant.

    Plan shape: ONE user-keyed aggregate — the per-key state is the
    sorted value list (the ts_ema bound: per-key series must fit an
    executor, the honest requirement of any order-recursive statistic),
    then pure array expressions per row, no joins, no second exchange.
    At 100 TB the escape hatch is the same as EMA's: truncate to a
    bounded recent window per key, or stream the sufficient statistics
    (m, lagged cross-products) incrementally.

    Determinism: exact DECIMAL sum for the mean; both quadratic sums
    fold the (ts, event_id)-sorted list seed-first in pinned order —
    bit-identical on both engines, outputs unrounded (TS6 argument)."""
    e = _acf_events(spark, sf_dir)
    return _acf_body(e)


def _acf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ssidentity_spark.functions.timeutil import epoch_us

    return load_table(spark, sf_dir, "events").select(
        "user_id",
        epoch_us("ts").cast("long").alias("ts_us"),
        "event_id",
        "value",
        F.col("value").cast("decimal(18,2)").alias("vd"),
    )


def _acf_body(e: DataFrame) -> DataFrame:
    """The TS8 aggregation over a pre-projected (user_id, ts_us,
    event_id, value, vd) frame — shared verbatim by ``ts_acf`` (full
    series) and ``ts_acf_windowed`` (bounded recent window), so the two
    queries differ ONLY in what rows reach the aggregate."""
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts_us", "event_id", F.col("value").alias("v")))),
        lambda x: x["v"],
    )
    s = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("vd").cast("double") / F.count(F.lit(1))).alias("m"),
        vals.alias("l"),
    )

    def _fold(terms):
        # the shared seed-first fold; the when() guards below keep the
        # empty-terms case from ever evaluating element_at(…, 1)
        return _seed_first_fold(terms, lambda acc, t: acc + t)

    m = F.col("m")
    lv = F.col("l")
    den_terms = F.transform(lv, lambda x: (x - m) * (x - m))
    d = s.withColumn("den", _fold(den_terms))

    def _acf(l: int):
        terms = F.transform(
            F.sequence(F.lit(1), (F.col("n") - l).cast("int")),
            lambda i: (F.element_at(lv, i) - m)
            * (F.element_at(lv, i + F.lit(l)) - m),
        )
        return F.when(
            (F.col("n") > l) & (F.col("den") > 0), _fold(terms) / F.col("den")
        ).alias(f"acf_lag{l}")

    return d.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("m").alias("mean_value"),
        *[_acf(l) for l in _ACF_LAGS],
    )


# ---------------------------------------------------------------------------
# TS8b (r12) — windowed ACF: the bounded-tail hatch TS8's docstring
# promised (VERDICT r11 ask #3), shipped as code. The full-series ts_acf
# carries the ts_ema bound — its per-key state is the whole sorted value
# list, so one 10⁵-row hot key would OOM an executor's aggregation
# buffer. This variant computes the SAME estimator over only the most
# recent _ACF_WINDOW events per key: recency is assigned by a
# row_number window (Spark's sort-based, SPILLABLE machinery — the
# key's full series streams through disk-backed sort, never an
# in-memory array), and only the kept ≤48-element tail ever reaches the
# collect_list aggregate. Per-key memory is O(_ACF_WINDOW) by
# construction — the hot-key pytest runs a 10⁵-row key through it.
# _ACF_WINDOW=48 sits below every SF's minimum series length minus a
# hair (min 45, median 66, max 99 rows/key at sf0.001..0.1), so
# truncation BITES at every SF (non-vacuity house bar) while short keys
# degrade gracefully to the full-series statistic (pinned by the
# equals-ts_acf-when-W-covers pytest).
#
# Determinism: identical to ts_acf — the window cut ranks on the unique
# (ts DESC, event_id DESC) key (integer-exact), and the aggregate body
# is shared code (_acf_body): exact DECIMAL mean, seed-first pinned
# folds, unrounded outputs.
# ---------------------------------------------------------------------------

_ACF_WINDOW = 48


def _acf_windowed_oracle() -> str:
    base = _acf_oracle()
    kept = f"""
    WITH kept AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
      ) WHERE rk <= {_ACF_WINDOW}
    ),"""
    return base.replace("\n    WITH ", kept, 1).replace(
        "FROM events GROUP BY 1", "FROM kept GROUP BY 1", 1
    )


@register(
    "ts_acf_windowed",
    oracle=_acf_windowed_oracle(),
    survey="TS8b,TS8,W1,A6",
)
def ts_acf_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: sample autocorrelation at lags 1..4 over only the most
    recent ``_ACF_WINDOW`` (48) events — the bounded-state form of
    ts_acf whose per-key memory is O(window) regardless of series
    length. The 100 TB hatch as a gated query: a hot key's rows stream
    through Spark's spillable sort to be ranked, and only the kept tail
    is ever collected.

    Plan shape: one user-keyed window (rank on the unique recency key)
    feeding one user-keyed aggregate — the groupBy reuses the window's
    hash partitioning, so ONE exchange end to end, same as ts_acf.

    Determinism: the cut is integer-exact on (ts DESC, event_id DESC);
    the aggregate is ts_acf's shared body — exact DECIMAL mean,
    seed-first pinned folds, unrounded doubles (TS6 argument)."""
    from pyspark.sql import Window as W

    e = _acf_events(spark, sf_dir)
    rk = F.row_number().over(
        W.partitionBy("user_id").orderBy(
            F.desc("ts_us"), F.desc("event_id")
        )
    )
    kept = (
        e.withColumn("rk", rk)
        .where(F.col("rk") <= _ACF_WINDOW)
        .drop("rk")
    )
    return _acf_body(kept)


# ---------------------------------------------------------------------------
# TS10 (r12) — Holt's linear (double-exponential) smoothing: the
# trend-aware sibling of ts_ema. EMA tracks a level; Holt carries
# (level, trend) so the one-step-ahead forecast extrapolates the local
# slope instead of lagging it (Holt 1957 / Winters 1960 — the classical
# non-seasonal forecast every monitoring stack ships). State recursion
# over the (ts, event_id)-sorted value series:
#   l' = α·x + (1−α)·(l + b)
#   b' = β·(l' − l) + (1−β)·b
# seeded l=x₁, b=0 (the zero-initial-trend convention; the first few
# folds learn the slope). Like EMA this is order-RECURSIVE — no map-side
# combine — so the honest batch shape is the per-key ordered fold with
# the same two documented 100 TB hatches as ts_ema: the O(1)-state
# streaming form (streaming/ema.py:holt_stream, on the same sealed fold
# as the EMA) and the truncated recent window
# (ts_acf_windowed's row_number cut composes verbatim).
#
# Determinism: the ts_ema contract with a 2-component state — both
# engines fold the SAME sorted struct list seed-first (_seed_first_fold
# ≡ DuckDB list_reduce association), every step is the SAME IEEE double
# expression text (l' written out twice inside b' — neither engine gets
# a temporary), so level/trend are bit-identical before the cosmetic
# 6 dp round; nothing downstream selects on them.
# ---------------------------------------------------------------------------


@register(
    "ts_holt_linear",
    # The accumulator is a DOUBLE[2] list, NOT a struct: DuckDB 1.0's
    # list_reduce mutates a STRUCT accumulator field-sequentially across
    # steps (the b expression of step k sees step k's freshly assigned
    # l — verified with a 3-element probe; a list accumulator folds
    # purely and matches the Python/Spark reference bit-for-bit).
    oracle=f"""
    SELECT user_id,
           round(h[1], 6) AS level,
           round(h[2], 6) AS trend,
           round(h[1] + h[2], 6) AS forecast_next,
           CAST(len(l) AS BIGINT) AS n_events
    FROM (
      SELECT user_id,
             list_sort(list(struct_pack(ts := ts, eid := event_id,
                                        v := value))) AS l
      FROM events GROUP BY user_id
    ), LATERAL (
      SELECT list_reduce(
               list_transform(l, s -> [s.v, CAST(0.0 AS DOUBLE)]),
               (acc, x) -> [
                 {HOLT_ALPHA} * x[1]
                   + {1 - HOLT_ALPHA} * (acc[1] + acc[2]),
                 {HOLT_BETA} * ({HOLT_ALPHA} * x[1]
                     + {1 - HOLT_ALPHA} * (acc[1] + acc[2]) - acc[1])
                   + {1 - HOLT_BETA} * acc[2]]) AS h
    )
    """,
    survey="TS10,TS2,W2,A6",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear smoothing of the value series: the final
    (level, trend) state and the one-step-ahead forecast level+trend —
    ts_ema with a slope, so a steadily rising series forecasts ABOVE
    its last level instead of trailing it.

    Plan shape: ONE user-keyed aggregate (a single exchange end to
    end, the ts_ema shape); per-key state during the fold is two
    doubles, but the collect_list input carries the key's history —
    the ts_ema bound, with both escape hatches shipped as code for
    THIS operator: streaming/ema.py:holt_stream folds (level, trend)
    as O(1) state across micro-batches (stream ≡ batch pinned), and
    ts_acf_windowed's bounded recent-window cut composes verbatim.

    Determinism: both engines fold the identical sorted list
    seed-first with the identical IEEE expression per step (the l'
    expression textually repeated inside b'); outputs rounded 6 dp
    cosmetically, nothing ranks or filters on them."""
    ev = load_table(spark, sf_dir, "events")
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    states = F.transform(
        arr,
        lambda s: F.struct(s["value"].alias("l"), F.lit(0.0).alias("b")),
    )
    a, ac = F.lit(HOLT_ALPHA), F.lit(1 - HOLT_ALPHA)
    be, bc = F.lit(HOLT_BETA), F.lit(1 - HOLT_BETA)
    h = _seed_first_fold(
        states,
        lambda acc, x: F.struct(
            (a * x["l"] + ac * (acc["l"] + acc["b"])).alias("l"),
            (
                be * (a * x["l"] + ac * (acc["l"] + acc["b"]) - acc["l"])
                + bc * acc["b"]
            ).alias("b"),
        ),
    )
    return ev.groupBy("user_id").agg(
        F.round(h["l"], 6).alias("level"),
        F.round(h["b"], 6).alias("trend"),
        F.round(h["l"] + h["b"], 6).alias("forecast_next"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
