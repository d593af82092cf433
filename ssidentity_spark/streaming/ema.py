"""Streaming per-key EMA and Holt smoothing — the O(1)-state forms of
``ts_ema`` and ``ts_holt_linear``.

The batch operators fold each key's full history; on an unbounded stream
the same recursion carries as a few numbers of state per key, so the
order-recursive aggregation that cannot map-side combine in batch becomes
a bounded stateful operator. Both folds run on the watermark-sealed
pending buffer of streaming/sealed_fold.py, which states the ordering
contract. Each step is the batch query's IEEE expression verbatim, so the
final snapshot per key (largest ``n_events``) equals the batch fold bit
for bit. The weights are defined here and imported by the batch queries
(plans/timeseries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ssidentity_spark.streaming.sealed_fold import SealedFold

EMA_ALPHA = 0.9  # decay: acc * EMA_ALPHA + x * EMA_GAIN
# the new value's weight, written out: 1.0 - EMA_ALPHA is 0.09999999999999998
EMA_GAIN = 0.1
HOLT_ALPHA = 0.5
HOLT_BETA = 0.2

EMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ema", DoubleType()),
        StructField("n_events", LongType()),
    ]
)

HOLT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("n_events", LongType()),
    ]
)


def _ema_step(acc: tuple, n: int, us: int, val: float) -> tuple:
    return (val if n == 0 else acc[0] * EMA_ALPHA + val * EMA_GAIN,)


def _holt_step(acc: tuple, n: int, us: int, val: float) -> tuple:
    """Seed (x, 0) on the first element, then l' and b' with l'
    recomputed inside b' (the same IEEE op order as the Spark/DuckDB
    folds)."""
    if n == 0:
        return val, 0.0
    l, b = acc
    return (
        HOLT_ALPHA * val + (1.0 - HOLT_ALPHA) * (l + b),
        HOLT_BETA * (HOLT_ALPHA * val + (1.0 - HOLT_ALPHA) * (l + b) - l)
        + (1.0 - HOLT_BETA) * b,
    )


_ema_fn = SealedFold(
    payload="value",
    fields=(StructField("ema", DoubleType()),),
    init=(0.0,),
    step=_ema_step,
    emit=lambda acc, n: (acc[0], n),
    output=EMA_OUTPUT_SCHEMA,
)

_holt_fn = SealedFold(
    payload="value",
    fields=(StructField("l", DoubleType()), StructField("b", DoubleType())),
    init=(0.0, 0.0),
    step=_holt_step,
    emit=lambda acc, n: (*acc, n),
    output=HOLT_OUTPUT_SCHEMA,
)


def ema_stream(changes: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """(user_id, ts, event_id, value) stream → append-only per-batch
    snapshots of each touched key's running EMA. The final snapshot per
    key (max n_events) equals the batch ts_ema fold."""
    return _ema_fn.stream(changes, watermark)


def holt_stream(changes: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """(user_id, ts, event_id, value) stream → append-only per-batch
    snapshots of each touched key's running Holt (level, trend). The
    final snapshot per key (max n_events) equals the batch
    ts_holt_linear fold."""
    return _holt_fn.stream(changes, watermark)


def m4_downsample_stream(
    events: DataFrame, bucket: str = "4 hours", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming M4 downsample: per (event_type, event-time window) the
    first/last/min/max points, as a WATERMARKED WINDOWED AGGREGATION —
    M4's selection is four lexicographic struct extremes (no rank
    window), so the streaming state per open bucket is exactly four
    points and the sink receives append-mode finalized buckets. The
    aggregation expressions are SHARED with the batch parity frame
    (operators/timeseries.m4_point_exprs), and the window START equals
    the gated batch query's floor-epoch bucket (UTC session), so stream
    output == ts_m4_downsample's point set on closed buckets — parity
    pinned by test."""
    from pyspark.sql import functions as F

    from ssidentity_spark.functions.timeutil import epoch_us
    from ssidentity_spark.operators.timeseries import m4_point_exprs

    # watermarks require TIMESTAMP (not NTZ, which the testdata carries);
    # the session is pinned UTC, so the cast is wall-clock identity and
    # window starts still equal the batch query's floor-epoch buckets
    base = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .select(
            "ts",
            "event_type",
            epoch_us("ts").cast("long").alias("ts_us"),
            "value",
            "event_id",
        )
    )
    agg = base.groupBy(
        "event_type", F.window("ts", bucket).alias("w")
    ).agg(*m4_point_exprs())
    role = F.explode(
        F.map_from_arrays(
            F.array(
                F.lit("min"), F.lit("max"), F.lit("first"), F.lit("last")
            ),
            F.array("p_min", "p_max", "p_first", "p_last"),
        )
    )
    return agg.select(
        "event_type",
        epoch_us(F.col("w.start")).cast("long").alias("bucket_us"),
        role.alias("role", "p"),
    ).select(
        "event_type",
        "bucket_us",
        "role",
        F.col("p.ts_us").alias("ts_us"),
        F.col("p.value").alias("value"),
    )
