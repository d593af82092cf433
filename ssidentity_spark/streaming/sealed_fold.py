"""Watermark-sealed per-key fold — the one stateful primitive behind the
order-sensitive stream twins (streaming/ema.py: EMA and Holt,
streaming/funnel.py, streaming/pattern.py).

A twin is a left fold over each key's events in ``(event time,
event_id)`` order: a tuple of fold fields, their initial value, and a
step ``(acc, n, us, value) -> acc`` where ``n`` counts the events folded
before this one. The step is order-sensitive, so folding rows as they
arrive would diverge from the batch twin whenever micro-batches
interleave out of event-time order.

Ordering contract: each key's state holds the committed fold plus a
PENDING buffer. Rows append to the buffer on arrival (deduplicated on
``(us, event_id)``, so a replayed batch adds nothing), and only the prefix
whose event time is below the current watermark folds into the committed
state, in ``(us, event_id)`` order: by then no admissible row can sort
before it, so that order is final. Each emitted snapshot folds the
still-pending suffix on a copy of the committed state, so the final
snapshot per key (the largest ``n_events``; the counter is monotone)
equals the batch fold even under cross-batch disorder within the
watermark. Rows before the committed frontier ``folded_wm_us`` are
replays or watermark-expired and fold nothing. The buffer is bounded by
the watermark horizon per key.

State layout: the fold fields, then ``n``, ``folded_wm_us``, ``pend_us``,
``pend_id`` and ``pend_val``; ``pend_val`` has the Spark type of the
input's payload column. applyInPandasWithState pins this schema into the
checkpoint. The EMA and Holt layouts are the ones their streams always
had; the funnel state (whose pending steps were a digit string) and the
pattern state (different field order, pending chars as a string) changed
with this module, so checkpoints those two streams wrote before it
cannot be resumed: restart them on a fresh checkpoint directory.
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType


@dataclass(frozen=True)
class SealedFold:
    """One twin: ``payload`` is the input column the step reads,
    ``fields``/``init`` the fold fields and their initial value, ``emit``
    maps ``(acc, n)`` to the output columns after ``user_id``."""

    payload: str
    fields: tuple[StructField, ...]
    init: tuple
    step: Callable[[tuple, int, int, Any], tuple]
    emit: Callable[[tuple, int], tuple]
    output: StructType

    def __call__(
        self,
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """The per-key function applyInPandasWithState calls."""
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        if state.exists:
            *acc, n, folded_wm_us, pend_us, pend_id, pend_val = state.get
            acc = tuple(acc)
            pending = dict(zip(zip(pend_us or [], pend_id or []), pend_val or []))
        else:
            acc, n, folded_wm_us, pending = self.init, 0, 0, {}
        us_col = (rows["ts"].astype("int64") // 1_000).tolist()
        for us, eid, val in zip(
            us_col, rows["event_id"].tolist(), rows[self.payload].tolist()
        ):
            if us >= folded_wm_us:
                pending[(us, eid)] = val
        wm_us = state.getCurrentWatermarkMs() * 1_000
        ks = sorted(pending)
        cut = bisect_left(ks, (wm_us,))
        for k in ks[:cut]:
            acc = self.step(acc, n, k[0], pending[k])
            n += 1
        rest = ks[cut:]
        state.update(
            (
                *acc,
                n,
                max(folded_wm_us, wm_us),
                [k[0] for k in rest],
                [k[1] for k in rest],
                [pending[k] for k in rest],
            )
        )
        for k in rest:  # speculative snapshot over the pending suffix
            acc = self.step(acc, n, k[0], pending[k])
            n += 1
        values = (int(key[0]), *self.emit(acc, n))
        yield pd.DataFrame(
            {f: [v] for f, v in zip(self.output.fieldNames(), values)}
        )

    def stream(self, events: DataFrame, watermark: str) -> DataFrame:
        """(user_id, ts, event_id, payload) stream → append-only per-batch
        snapshots of each touched key's fold."""
        state = StructType(
            [
                *self.fields,
                StructField("n", LongType()),
                StructField("folded_wm_us", LongType()),
                StructField("pend_us", ArrayType(LongType())),
                StructField("pend_id", ArrayType(LongType())),
                StructField(
                    "pend_val", ArrayType(events.schema[self.payload].dataType)
                ),
            ]
        )
        return (
            events.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                self,
                outputStructType=self.output,
                stateStructType=state,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
