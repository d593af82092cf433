"""T7 — stateful arrival/departure alerts (SURVEY §2.8, the hard 20%).

Reference impetus: "Tracking / Arrival alerts" (the reference README, line
19). A presence state machine per MAC over the watermarked observation
stream:

- absent → row arrives  ⇒ emit ``arrival``, mark present
- present → no row until (last_seen + gap) passes the event-time watermark
  ⇒ emit ``departure`` stamped last_seen + gap, forget the device

The ``applyInPandasWithState`` key is not the MAC but a device bucket,
``pmod(xxhash64(mac), _BUCKETS)``: a trigger then makes one Python call per
bucket with data or due for a departure, instead of one per device. The
runner's cost is per call, not per row. State per bucket is three parallel
arrays (macs, last_seen_ms, last_sensor) of the devices present, and its
event-time timeout is armed at the earliest departure horizon,
min(last_seen) + gap; the bucket's state is removed once its last device
departs. Event-time timeouts keep state at the active-device population, and
the watermark bounds both late data (T8) and departure timing. Alert
emission is idempotent per (mac, alert_type, ts) under exactly-once sinks.

``_BUCKETS`` defines the state key space: a checkpoint written under one
value cannot be read under another, so it must never change. Alert
checkpoints written when the key was the MAC (state of one device per key)
cannot be resumed either; such a stream restarts from a fresh checkpoint.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ALERT_OUTPUT_SCHEMA = StructType(
    [
        StructField("mac", StringType()),
        StructField("alert_type", StringType()),  # arrival | departure
        StructField("event_ms", LongType()),
        StructField("sensor_id", StringType()),
    ]
)

ALERT_COLUMNS = ALERT_OUTPUT_SCHEMA.fieldNames()

# the devices present in one bucket, as parallel arrays
STATE_SCHEMA = StructType(
    [
        StructField("macs", ArrayType(StringType())),
        StructField("last_seen_ms", ArrayType(LongType())),
        StructField("last_sensor", ArrayType(StringType())),
    ]
)

# State key space of the alert stream; changing it orphans every checkpoint.
_BUCKETS = 32

_INTERVAL_UNITS_MS = {
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _interval_ms(spec: str) -> int:
    """Parse ``"N seconds|minutes|hours|days"`` to milliseconds; unknown
    strings raise instead of silently defaulting (a gap the caller did
    not ask for is silently-wrong alert timing)."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s+(second|minute|hour|day)s?\s*", spec)
    if not m:
        raise ValueError(
            f"unparseable interval {spec!r}; expected 'N seconds|minutes|hours|days'"
        )
    return int(m.group(1)) * _INTERVAL_UNITS_MS[m.group(2)]


def _fold_presence(rows: pd.DataFrame, stored, gap_ms: int, mac):
    """Fold one device's micro-batch rows (any order) into presence state.

    Scans INTRA-batch gaps too: a backfill batch carrying sightings at
    09:00 and 19:00 emits the 09:30 departure and 19:00 re-arrival that
    batch-min/max folding would lose — so alert output is deterministic
    with respect to how the file source packs rows into micro-batches.
    Rows heard in the same millisecond fold in ``sensor_id`` order, so the
    sensor an alert names does not depend on row order either.
    Late rows (at or before the stored last_seen) fold nothing: they
    neither regress last_seen nor overwrite the last-seen sensor.

    Returns (alert tuples, (present, last_seen, last_sensor))."""
    present, last_seen, last_sensor = stored
    alerts = []
    order = rows.sort_values(["_ms", "sensor_id"], kind="mergesort")
    for t, sensor in zip(order["_ms"], order["sensor_id"]):
        t, sensor = int(t), str(sensor)
        if t <= last_seen and present:
            continue  # late or duplicate — already folded past this point
        if not present:
            alerts.append((mac, "arrival", t, sensor))
        elif t - last_seen > gap_ms:
            alerts.append((mac, "departure", last_seen + gap_ms, last_sensor))
            alerts.append((mac, "arrival", t, sensor))
        present, last_seen, last_sensor = True, max(last_seen, t), sensor
    return alerts, (present, last_seen, last_sensor)


def _presence_fn(gap_ms: int):
    """The per-bucket state function: fold each device's rows, then depart
    every device whose horizon last_seen + gap is behind the watermark.

    The horizon test is strict ``<``, Spark's own test for a per-key
    event-time timeout, and a timed-out call runs the same sweep. A device
    folded in this call is swept too. Its horizon is behind the watermark
    only when the previous trigger moved the watermark far past this
    call's rows, where a per-device timeout could not even be set
    (``setTimeoutTimestamp`` rejects a time behind the watermark)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        devices: dict[str, tuple[int, str]] = {}
        if state.exists:
            macs, seen, sensors = state.get
            devices = {m: (int(t), s) for m, t, s in zip(macs, seen, sensors)}
        alerts = []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            # event-time millis arrive as datetime64 — normalize
            rows = rows.assign(_ms=rows["ts"].astype("int64") // 1_000_000)
            for mac, group in rows.groupby("mac", sort=False):
                stored = (True, *devices[mac]) if mac in devices else (False, 0, None)
                out, (_, last_seen, last_sensor) = _fold_presence(group, stored, gap_ms, mac)
                alerts += out
                devices[mac] = (last_seen, last_sensor)

        watermark = state.getCurrentWatermarkMs()
        for mac, (last_seen, last_sensor) in list(devices.items()):
            if last_seen + gap_ms < watermark:
                alerts.append((mac, "departure", last_seen + gap_ms, last_sensor))
                del devices[mac]
        if devices:
            seen = [t for t, _ in devices.values()]
            state.update((list(devices), seen, [s for _, s in devices.values()]))
            state.setTimeoutTimestamp(min(seen) + gap_ms)
        else:
            state.remove()
        if alerts:
            yield pd.DataFrame(alerts, columns=ALERT_COLUMNS)

    return fn


def presence_alerts(
    obs_stream: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Arrival/departure alert stream from a watermarked observation stream.

    Input: OBSERVATIONS_SCHEMA streaming DataFrame. Output:
    (mac, alert_type, event_ms, sensor_id) in append mode.
    """
    gap_ms = _interval_ms(gap)
    bucket = F.pmod(F.xxhash64("mac"), F.lit(_BUCKETS)).alias("bucket")
    return (
        obs_stream.withWatermark("ts", watermark)
        .select("mac", "ts", "sensor_id", bucket)
        .groupBy("bucket")
        .applyInPandasWithState(
            _presence_fn(gap_ms),
            outputStructType=ALERT_OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# the name the benchmark imports
presence_alerts_auto = presence_alerts


def state_v2_available(spark=None) -> bool:
    """True when a worker can import ``google.protobuf``, which PySpark's
    state-v2 runner (``transformWithStateInPandas``) needs.

    No alert engine depends on it any more: it only feeds the benchmark's
    ``alert_engine`` host fact. With a ``spark`` session the probe runs as
    a one-row UDF job on an executor, whose Python can differ from the
    driver's; without one it runs in the driver interpreter.
    """

    def _probe() -> bool:
        # import a CONCRETE runtime module, not the bare package: on a
        # worker path `import google.protobuf` can succeed as an EMPTY
        # namespace package (__file__ is None) with no runtime behind it
        # — observed live in this container's Spark workers
        try:
            from google.protobuf import descriptor  # noqa: F401

            return True
        except ImportError:
            return False

    if spark is None:
        return _probe()
    probe_udf = F.udf(lambda _: _probe(), "boolean")
    try:
        row = spark.range(1).select(probe_udf("id").alias("ok")).collect()
        return bool(row[0]["ok"])
    except Exception:
        # a worker that cannot even run the probe cannot run state-v2
        return False
