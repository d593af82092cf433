"""Streaming funnel progression — the unbounded form of
``w6_funnel_progression`` (greedy-first-chain windowFunnel).

The fold carries O(1) state per key, (level, anchor time), on the
watermark-sealed pending buffer of streaming/sealed_fold.py. The greedy
chain is order-sensitive (an earlier signup arriving late re-anchors the
window), which is what that buffer's ordering contract is for. Emits a
snapshot of each touched key's progression per batch: the live "who is
about to convert" feed the batch query answers retrospectively. The
window is defined here and imported by the batch query
(plans/analytics.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ssidentity_spark.streaming.sealed_fold import SealedFold

FUNNEL_W_US = 3_600_000_000  # 60 min
_STEPS = {"signup": 1, "view": 2, "purchase": 3}

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("funnel_level", IntegerType()),
        StructField("funnel_start_us", LongType()),
        # monotone fold counter: consumers pick the final (complete)
        # snapshot by max n_events — funnel_level itself may legitimately
        # DECREASE between snapshots when a late signup re-anchors the
        # 60-min window earlier
        StructField("n_events", LongType()),
    ]
)


def _step(acc: tuple, n: int, us: int, event_type: str) -> tuple:
    level, t0 = acc
    s = _STEPS[event_type]
    if level == 0 and s == 1:
        return 1, us
    if s == level + 1 and us <= t0 + FUNNEL_W_US:
        return level + 1, t0
    return acc


_funnel_fn = SealedFold(
    payload="event_type",
    fields=(StructField("level", IntegerType()), StructField("t0", LongType())),
    init=(0, 0),
    step=_step,
    emit=lambda acc, n: (*acc, n),
    output=FUNNEL_OUTPUT_SCHEMA,
)


def funnel_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """(user_id, ts, event_id, event_type) stream → append-only per-batch
    snapshots of each touched key's funnel progression.

    Filters to the three funnel event types FIRST — the batch query's
    domain is users with at least one funnel event, so a user whose
    batch carries only e.g. 'click' rows must neither allocate state nor
    emit level-0 snapshots (they would diverge from the batch result and
    grow state with keys the semantics say don't exist)."""
    from pyspark.sql import functions as F

    return _funnel_fn.stream(
        events.filter(F.col("event_type").isin(*_STEPS)), watermark
    )
