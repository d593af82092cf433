"""Property tests for the watermark-sealed pending-buffer fold
(streaming/sealed_fold.py) shared by the four order-recursive streaming
twins (pattern, EMA, Holt and funnel) — no Spark session needed: the
per-key fold functions are driven directly with a fake GroupState,
exactly as applyInPandasWithState would.

The simulated harness reproduces Spark's contract:
- rows are assigned to micro-batches in ARBITRARY order (cross-batch
  event-time disorder);
- the watermark after batch b is max(event time seen through b) - delay,
  never decreasing;
- a row whose event time is below the watermark AT ITS DELIVERY BATCH is
  dropped before reaching the operator (Spark's late filter) — such rows
  are likewise excluded from the ground truth;
- optionally, a full earlier batch is REPLAYED (at-least-once delivery).

Property: the final emitted snapshot (max n_events per key) equals an
independent fold of the admitted rows in (event time, event_id) order —
for the pattern DFA the ground truth is the regex 's[cv]*p' itself, not
the DFA code under test.
"""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

DELAY_US = 10_000_000  # 10 s watermark delay (event times are in us)


class FakeGroupState:
    def __init__(self):
        self._state = None
        self.wm_ms = 0

    @property
    def exists(self):
        return self._state is not None

    @property
    def get(self):
        return self._state

    def update(self, value):
        self._state = tuple(value)

    def getCurrentWatermarkMs(self):
        return self.wm_ms


def _mk_pdf(rows, value_col):
    # rows: list of (us, eid, payload)
    return pd.DataFrame(
        {
            "ts": pd.to_datetime([us * 1_000 for us, _, _ in rows]),
            "event_id": [eid for _, eid, _ in rows],
            value_col: [p for _, _, p in rows],
        }
    )


def _drive(fold_fn, batches, value_col, replay_batch=None):
    """Run fold_fn over the batches under the simulated Spark contract.
    Returns (admitted_rows, final_snapshot_dict)."""
    state = FakeGroupState()
    admitted = []
    snapshots = []
    max_us_seen = -1

    def _deliver(batch):
        nonlocal max_us_seen
        wm_us = state.wm_ms * 1_000
        live = [r for r in batch if r[0] >= wm_us]  # Spark's late filter
        for r in live:
            if r not in admitted:
                admitted.append(r)
        max_us_seen = max([max_us_seen, *[r[0] for r in batch]] or [-1])
        if live:
            out = list(fold_fn((7,), iter([_mk_pdf(live, value_col)]), state))
            snapshots.extend(out)
        # watermark advances AFTER the batch, from all event times seen
        state.wm_ms = max(state.wm_ms, max(0, (max_us_seen - DELAY_US)) // 1_000)

    for i, batch in enumerate(batches):
        if batch:
            _deliver(batch)
        if replay_batch is not None and i == replay_batch and batches[i]:
            _deliver(batches[i])  # at-least-once: redeliver the same batch
    if not snapshots:
        return admitted, None
    final = max(snapshots, key=lambda d: int(d["n_events"].iloc[0]))
    return admitted, {c: final[c].iloc[0] for c in final.columns}


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=120_000_000),  # us within 2 min
        st.sampled_from("scvpe"),
    ),
    min_size=1,
    max_size=24,
)
splits_strategy = st.lists(st.integers(min_value=0, max_value=3), min_size=24, max_size=24)


@settings(max_examples=60, deadline=None)
@given(events=events_strategy, splits=splits_strategy, replay=st.integers(0, 3))
def test_pattern_fold_matches_regex_under_disorder_and_replay(
    events, splits, replay
):
    from ssidentity_spark.streaming.pattern import _pattern_fn

    type_of = {"s": "signup", "c": "click", "v": "view", "p": "purchase", "e": "error"}
    rows = [
        (us, 1000 + i, type_of[ch]) for i, (us, ch) in enumerate(events)
    ]
    batches = [[] for _ in range(4)]
    for r, b in zip(rows, splits):
        batches[b].append(r)
    admitted, final = _drive(_pattern_fn, batches, "event_type", replay_batch=replay)
    if final is None:
        assert not admitted
        return
    # ground truth: the regex itself over the admitted rows in event order
    s = "".join(t[0] for _, _, t in sorted(admitted))
    matches = re.findall(r"s[cv]*p", s)
    assert final["n_events"] == len(s)
    assert final["n_matches"] == len(matches)
    assert final["longest_match"] == max((len(m) for m in matches), default=0)
    assert final["n_browse_steps"] == sum(len(m) - 2 for m in matches)


@settings(max_examples=60, deadline=None)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=120_000_000),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=24,
    ),
    splits=splits_strategy,
    replay=st.integers(0, 3),
)
def test_ema_fold_matches_ordered_recursion_under_disorder(vals, splits, replay):
    from ssidentity_spark.streaming.ema import _ema_fn

    rows = [(us, 1000 + i, v) for i, (us, v) in enumerate(vals)]
    batches = [[] for _ in range(4)]
    for r, b in zip(rows, splits):
        batches[b].append(r)
    admitted, final = _drive(_ema_fn, batches, "value", replay_batch=replay)
    if final is None:
        assert not admitted
        return
    acc, n = 0.0, 0
    for _, _, v in sorted(admitted):
        acc = v if n == 0 else acc * 0.9 + v * 0.1  # ts_ema's expression
        n += 1
    assert final["n_events"] == n
    assert final["ema"] == acc


@settings(max_examples=60, deadline=None)
@given(events=events_strategy, splits=splits_strategy, replay=st.integers(0, 3))
def test_funnel_fold_matches_greedy_chain_under_disorder(events, splits, replay):
    from ssidentity_spark.streaming.funnel import FUNNEL_W_US, _funnel_fn

    type_of = {"s": "signup", "c": "click", "v": "view", "p": "purchase", "e": "error"}
    # keep only funnel types, as funnel_stream's pre-filter does
    rows = [
        (us, 1000 + i, type_of[ch])
        for i, (us, ch) in enumerate(events)
        if ch in ("s", "v", "p")
    ]
    if not rows:
        return
    batches = [[] for _ in range(4)]
    for r, b in zip(rows, splits):
        batches[b].append(r)
    admitted, final = _drive(_funnel_fn, batches, "event_type", replay_batch=replay)
    if final is None:
        assert not admitted
        return
    steps = {"signup": 1, "view": 2, "purchase": 3}
    level, t0 = 0, 0
    for us, _, t in sorted(admitted):
        s = steps[t]
        if level == 0 and s == 1:
            level, t0 = 1, us
        elif s == level + 1 and us <= t0 + FUNNEL_W_US:
            level += 1
    assert final["n_events"] == len(admitted)
    assert final["funnel_level"] == level
    assert final["funnel_start_us"] == t0


@settings(max_examples=60, deadline=None)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=120_000_000),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=24,
    ),
    splits=splits_strategy,
    replay=st.integers(0, 3),
)
def test_holt_fold_matches_ordered_recursion_under_disorder(vals, splits, replay):
    """The Holt twin under the same contract as the EMA fold: the
    final snapshot equals the ordered (level, trend) recursion over the
    admitted rows — BIT-equal, since the committed/speculative folds run
    the identical IEEE step as the ground truth here."""
    from ssidentity_spark.streaming.ema import (
        HOLT_ALPHA,
        HOLT_BETA,
        _holt_fn,
    )

    rows = [(us, 1000 + i, v) for i, (us, v) in enumerate(vals)]
    batches = [[] for _ in range(4)]
    for r, b in zip(rows, splits):
        batches[b].append(r)
    admitted, final = _drive(_holt_fn, batches, "value", replay_batch=replay)
    if final is None:
        assert not admitted
        return
    l, b, n = 0.0, 0.0, 0
    for _, _, v in sorted(admitted):
        if n == 0:
            l, b, n = v, 0.0, 1
        else:
            l2 = HOLT_ALPHA * v + (1.0 - HOLT_ALPHA) * (l + b)
            b = (
                HOLT_BETA
                * (HOLT_ALPHA * v + (1.0 - HOLT_ALPHA) * (l + b) - l)
                + (1.0 - HOLT_BETA) * b
            )
            l = l2
            n += 1
    assert final["n_events"] == n
    assert final["level"] == l
    assert final["trend"] == b

