"""Streaming event-sequence pattern matching — the unbounded form of
``w7_event_pattern`` (MATCH_RECOGNIZE episodes, W7).

The batch query runs a regex over the per-key event string; the regex
``s[cv]*p`` with DISJOINT character classes is recognized by a 2-state
DFA, so the streaming twin carries O(1) DFA state per key — (armed,
current episode length, totals) — instead of the key's history. The DFA
is provably the same decomposition the regex scan produces for this
pattern class: with disjoint classes there is exactly one way to extend
or kill a partial match, so greedy left-to-right folding IS leftmost
non-overlapping matching (the property the batch side's engine-parity
argument rests on, reused here for stream ≡ batch).

State machine (s=signup, c/v=browse, p=purchase, e=error):
  IDLE  --s-->  ARMED(len=1)
  ARMED --c/v-> ARMED(len+1)
  ARMED --p-->  match (count++, longest=max, browse+=len-1) -> IDLE
  ARMED --s-->  ARMED(len=1)   (restart: the old anchor can never match)
  ARMED --e-->  IDLE

The fold runs on the watermark-sealed pending buffer of
streaming/sealed_fold.py, whose ordering contract keeps this
order-sensitive DFA equal to the batch twin under cross-batch disorder.
A null or empty ``event_type`` is a zero-width character in the batch
twin's per-key string (``substring`` gives null or ``''``, which
``array_join`` drops or joins as nothing), so pattern_stream drops those
rows before the fold: they neither count nor touch an episode, and a key
with no other event emits no snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ssidentity_spark.streaming.sealed_fold import SealedFold

PATTERN_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_matches", LongType()),
        StructField("longest_match", LongType()),
        StructField("n_browse_steps", LongType()),
    ]
)


def _step(acc: tuple, n: int, us: int, event_type: str | None) -> tuple:
    """One DFA transition on the event type's first character."""
    armed, cur_len, n_matches, longest, browse = acc
    ch = str(event_type)[:1]
    if armed:
        if ch in ("c", "v"):
            cur_len += 1
        elif ch == "p":
            n_matches += 1
            longest = max(longest, cur_len + 1)
            browse += cur_len - 1
            armed, cur_len = 0, 0
        elif ch == "s":
            cur_len = 1  # restart at the fresher anchor
        else:  # error (or any non-pattern type) kills the episode
            armed, cur_len = 0, 0
    elif ch == "s":
        armed, cur_len = 1, 1
    return armed, cur_len, n_matches, longest, browse


_pattern_fn = SealedFold(
    payload="event_type",
    fields=(
        StructField("armed", IntegerType()),
        StructField("cur_len", LongType()),
        StructField("n_matches", LongType()),
        StructField("longest", LongType()),
        StructField("browse", LongType()),
    ),
    init=(0, 0, 0, 0, 0),
    step=_step,
    emit=lambda acc, n: (n, *acc[2:]),
    output=PATTERN_OUTPUT_SCHEMA,
)


def pattern_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """(user_id, ts, event_id, event_type) stream → append-only per-batch
    snapshots of each touched key's episode totals. The final snapshot
    per key (the one with the largest n_events) equals the batch query's
    row for that key."""
    from pyspark.sql import functions as F

    return _pattern_fn.stream(
        events.filter(F.length("event_type") > 0), watermark
    )
