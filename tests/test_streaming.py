"""Streaming semantics tests (SURVEY §5, §2.8): chunked file-source replay
with late + duplicate rows, watermarked dedup, windowed aggs, session
windows, stream-static joins, and the stateful T7 presence alerts."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from pyspark.sql import functions as F

from ssidentity_spark.schemas import OBSERVATIONS_SCHEMA
from ssidentity_spark.streaming.ingest import (
    devices_per_window,
    ingest_stream,
    read_frame_stream,
    read_observation_stream,
    visits_session_window,
    watchlist_hits_stream,
)


def _obs_rows(spec):
    """spec: (minute_offset, mac, sensor) triples → observation rows."""
    base = dt.datetime(2016, 7, 21, 10, 0, 0)
    rows = []
    for minute, mac, sensor in spec:
        ts = base + dt.timedelta(minutes=minute)
        rows.append(
            (
                ts,
                ts.strftime("%m/%d/%y - %I:%M%p"),
                sensor,
                mac,
                "NET_01",
                -70,
                2437,
                35.4,
            )
        )
    return pd.DataFrame(
        rows,
        columns=["ts", "ts_str", "sensor_id", "mac", "ssid", "rssi", "freq", "dist"],
    )


def _write_chunks(spark, tmp_path, chunks):
    src = str(tmp_path / "obs_src")
    for i, spec in enumerate(chunks):
        df = spark.createDataFrame(_obs_rows(spec), schema=OBSERVATIONS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(src)
    return src


def _run(df, tmp_path, name, mode="append"):
    out = str(tmp_path / f"{name}_out")
    ck = str(tmp_path / f"{name}_ck")
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return out


def test_ingest_frames_to_parquet(spark, tmp_path):
    """T1/T2/T6/S2: raw frames → parse → dedup → parquet, exactly once."""
    from ssidentity_spark.fixtures import raw_frames_df

    frames = raw_frames_df(spark, n_extra=60)
    src = str(tmp_path / "frames")
    frames.write.parquet(src)
    out = str(tmp_path / "obs")
    q = ingest_stream(
        read_frame_stream(spark, src), out, str(tmp_path / "ck")
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    assert got.count() > 60  # accepted fixture cases + extras
    assert got.filter(F.col("mac") == "28B2BDD02FC8").count() >= 1


def test_tumbling_window_counts(spark, tmp_path):
    chunks = [
        [(0, "AAA", "s1"), (5, "BBB", "s1"), (61, "AAA", "s2")],
        [(62, "CCC", "s1"), (125, "AAA", "s1")],
    ]
    src = _write_chunks(spark, tmp_path, chunks)
    stream = read_observation_stream(spark, src)
    out = _run(devices_per_window(stream, watermark="5 minutes"), tmp_path, "tumble")
    got = {
        r.window_start.minute + 60 * r.window_start.hour: r.n_probes
        for r in spark.read.parquet(out).collect()
    }
    # windows 10:00, 11:00 closed by the final watermark; 12:00 may be open
    assert got[600] == 2 and got[660] == 2


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """T6: duplicated (mac, ssid, ts) across adjacent chunks collapse."""
    dup = [(0, "AAA", "s1"), (1, "BBB", "s1")]
    chunks = [dup, dup, [(30, "CCC", "s1")]]
    src = _write_chunks(spark, tmp_path, chunks)
    stream = (
        read_observation_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["mac", "ssid", "ts"])
    )
    out = _run(stream, tmp_path, "dedup")
    got = spark.read.parquet(out)
    assert got.count() == 3  # 2 unique + CCC, duplicates dropped


def test_streaming_corpus_cleanup(spark, tmp_path):
    """EXT-pipeline × T6: the batch cleanup gate on an unbounded stream —
    quality rejects never reach dedup state; cross-chunk exact dups
    collapse keep-first; state is watermark-bounded."""
    import datetime as dt

    from ssidentity_spark.streaming.corpus import (
        DOCS_STREAM_SCHEMA,
        clean_documents_stream,
        read_document_stream,
    )

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    good_a = "the quick brown fox jumps over a lazy dog"
    good_b = "a stream of documents flows into the cleanup gate here"
    chunks = [
        [(base, 1, good_a), (base, 2, "hi")],  # 2: too short → rejected
        [
            (base + dt.timedelta(minutes=1), 3, good_a),  # dup of 1 → dropped
            (base + dt.timedelta(minutes=1), 4, good_b),
        ],
    ]
    src = str(tmp_path / "docs_src")
    for chunk in chunks:
        spark.createDataFrame(chunk, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    cleaned = clean_documents_stream(read_document_stream(spark, src))
    out = _run(cleaned, tmp_path, "corpus_clean")
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    # exactly ONE of the duplicate pair survives (which one is undefined
    # when both land in the same micro-batch), the short doc never emits
    assert got in ({1, 4}, {3, 4})


def test_session_window_visits(spark, tmp_path):
    """T5: two bursts separated by > gap → two sessions for the device."""
    chunks = [
        [(0, "AAA", "s1"), (3, "AAA", "s1"), (6, "AAA", "s1")],
        [(60, "AAA", "s1"), (62, "AAA", "s1"), (180, "ZZZ", "s1")],
    ]
    src = _write_chunks(spark, tmp_path, chunks)
    stream = read_observation_stream(spark, src)
    out = _run(
        visits_session_window(stream, gap="15 minutes", watermark="5 minutes"),
        tmp_path,
        "sess",
    )
    sessions = spark.read.parquet(out).filter(F.col("mac") == "AAA").collect()
    assert len(sessions) == 2
    assert sorted(s.n_probes for s in sessions) == [2, 3]


def test_stream_static_watchlist_join(spark, tmp_path):
    from ssidentity_spark.schemas import WATCHLIST_SCHEMA

    chunks = [[(0, "AAA", "s1"), (1, "BBB", "s2"), (2, "CCC", "s3")]]
    src = _write_chunks(spark, tmp_path, chunks)
    watch = spark.createDataFrame([("AAA", "t1"), ("CCC", "t2")], WATCHLIST_SCHEMA)
    stream = watchlist_hits_stream(read_observation_stream(spark, src), watch)
    out = _run(stream, tmp_path, "watch")
    got = sorted(r.mac for r in spark.read.parquet(out).collect())
    assert got == ["AAA", "CCC"]


def test_rate_replay_live_mode(spark, tmp_path):
    """S1 live mode: rate-driven replay emits observation-shaped rows at a
    controlled rate with re-stamped event time."""
    import time

    from ssidentity_spark.streaming.ingest import replay_observations_rate

    src = _write_chunks(spark, tmp_path, [[(0, "AAA", "s1"), (1, "BBB", "s2")]])
    stream = replay_observations_rate(spark, src, rows_per_second=50)
    q = (
        stream.writeStream.format("memory")
        .queryName("replay_test")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM replay_test").collect()[0].c
            if n >= 20:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert n >= 20
    row = spark.sql("SELECT * FROM replay_test LIMIT 1").collect()[0]
    assert set(["ts", "ts_str", "sensor_id", "mac", "ssid", "rssi", "freq", "dist"]) <= set(
        row.asDict()
    )
    assert row.mac in ("AAA", "BBB")


def test_sensor_drop_tree_fanin(spark, tmp_path):
    """S5: hive-partitioned per-sensor drop dirs union into one stream with
    sensor_id recovered from the path."""
    from ssidentity_spark.fixtures import raw_frames_pdf
    from ssidentity_spark.streaming.ingest import read_sensor_drop_tree

    pdf = raw_frames_pdf(n_extra=20)
    root = tmp_path / "drops"
    for sid in ("s1", "s2"):
        sub = pdf[pdf.sensor_id == sid].drop(columns=["sensor_id"])
        d = root / f"sensor_id={sid}"
        d.mkdir(parents=True)
        df = spark.createDataFrame(
            sub, schema="frame BINARY, recv_ts TIMESTAMP, frame_len INT"
        )
        df.coalesce(1).write.mode("append").parquet(str(d))
    stream = read_sensor_drop_tree(spark, str(root))
    out = _run(stream.select("sensor_id", "frame_len"), tmp_path, "fanin")
    got = spark.read.parquet(out)
    assert set(r.sensor_id for r in got.select("sensor_id").distinct().collect()) == {
        "s1",
        "s2",
    }
    assert got.count() == len(pdf[pdf.sensor_id.isin(["s1", "s2"])])


def test_roster_upsert_stream(spark, tmp_path):
    """S2/A4: the MAC roster maintained incrementally across micro-batches
    equals the roster computed from all observations at once."""
    from ssidentity_spark.streaming.ingest import roster_upsert_stream

    chunks = [
        [(0, "AAA", "s1"), (5, "BBB", "s1")],
        [(30, "AAA", "s2"), (45, "CCC", "s3")],
    ]
    src = _write_chunks(spark, tmp_path, chunks)
    roster_path = str(tmp_path / "roster")
    q = roster_upsert_stream(
        read_observation_stream(spark, src), roster_path, str(tmp_path / "rck")
    )
    q.awaitTermination(180)
    got = {r.mac: r.n_probes for r in spark.read.parquet(roster_path).collect()}
    assert got == {"AAA": 2, "BBB": 1, "CCC": 1}


def test_stream_stream_cross_sensor_join(spark, tmp_path):
    """J7: the same device seen by two sensors within tolerance appears as a
    correlated pair; different devices / distant times do not."""
    from ssidentity_spark.streaming.ingest import cross_sensor_correlation

    chunks = [
        [
            (0, "AAA", "s1"),
            (0, "AAA", "s2"),  # within 30 s of the s1 sighting → pair
            (5, "BBB", "s1"),  # never seen elsewhere
            (40, "CCC", "s1"),
        ],
        [(45, "CCC", "s3"), (120, "ZZZ", "s9")],  # CCC pair crosses chunks
    ]
    src = _write_chunks(spark, tmp_path, chunks)
    a = read_observation_stream(spark, src)
    b = read_observation_stream(spark, src)
    joined = cross_sensor_correlation(a, b, tolerance_s=30, watermark="5 minutes")
    out = _run(joined, tmp_path, "xsensor")
    got = sorted((r.mac, r.l_sensor, r.r_sensor) for r in spark.read.parquet(out).collect())
    assert ("AAA", "s1", "s2") in got
    assert all(m != "BBB" and m != "ZZZ" for m, *_ in got)


def test_presence_alerts_arrival_and_departure(spark, tmp_path):
    """T7: absent→present emits arrival; silence past gap + watermark
    advance emits departure with the correct synthetic timestamp."""
    from ssidentity_spark.streaming.alerts import presence_alerts

    chunks = [
        # AAA active at t0..t2; BBB appears at t1
        [(0, "AAA", "s1"), (2, "AAA", "s1"), (1, "BBB", "s2")],
        # much later: BBB re-appears (arrival #2), AAA stays silent →
        # AAA departure fires once watermark passes t2 + gap
        [(120, "BBB", "s2"), (121, "ZZZ", "s1")],
        [(240, "ZZZ", "s1")],
    ]
    src = _write_chunks(spark, tmp_path, chunks)
    stream = read_observation_stream(spark, src)
    alerts = presence_alerts(stream, gap="30 minutes", watermark="10 minutes")
    out = _run(alerts, tmp_path, "alerts", mode="append")
    got = spark.read.parquet(out).collect()
    by_type = {}
    for r in got:
        by_type.setdefault(r.alert_type, []).append(r.mac)
    assert "AAA" in by_type.get("arrival", [])
    assert "BBB" in by_type.get("arrival", [])
    assert "AAA" in by_type.get("departure", []), got
    # AAA departure stamped last_seen + gap = t2 + 30 min
    dep = [r for r in got if r.mac == "AAA" and r.alert_type == "departure"][0]
    base = dt.datetime(2016, 7, 21, 10, 0, 0, tzinfo=dt.timezone.utc)
    expect_ms = int((base + dt.timedelta(minutes=32)).timestamp() * 1000)
    assert dep.event_ms == expect_ms


def test_presence_alerts_intra_batch_gap(spark, tmp_path):
    """T7 determinism vs file packing: a silence longer than the gap that
    falls INSIDE one micro-batch still emits the departure + re-arrival —
    min/max folding would silently lose both (r7 review)."""
    from ssidentity_spark.streaming.alerts import presence_alerts

    # ONE chunk → one micro-batch: AAA at t0, then silent 10 h, then back
    chunks = [[(0, "AAA", "s1"), (600, "AAA", "s2"), (601, "ZZZ", "s3")]]
    src = _write_chunks(spark, tmp_path, chunks)
    stream = read_observation_stream(spark, src)
    alerts = presence_alerts(stream, gap="30 minutes", watermark="10 minutes")
    out = _run(alerts, tmp_path, "gap_alerts", mode="append")
    got = sorted(
        (r.alert_type, r.event_ms, r.sensor_id)
        for r in spark.read.parquet(out).collect()
        if r.mac == "AAA"
    )
    base = dt.datetime(2016, 7, 21, 10, 0, 0, tzinfo=dt.timezone.utc)
    ms = lambda m: int((base + dt.timedelta(minutes=m)).timestamp() * 1000)  # noqa: E731
    assert ("arrival", ms(0), "s1") in got
    assert ("departure", ms(30), "s1") in got  # last sensor BEFORE the gap
    assert ("arrival", ms(600), "s2") in got


def test_presence_gap_interval_parsing():
    """Unknown gap strings raise instead of silently defaulting to 30 min."""
    import pytest as _pytest

    from ssidentity_spark.streaming.alerts import _interval_ms

    assert _interval_ms("15 minutes") == 900_000
    assert _interval_ms("1 hour") == 3_600_000
    assert _interval_ms("45 seconds") == 45_000
    with _pytest.raises(ValueError, match="unparseable interval"):
        _interval_ms("soon")
    with _pytest.raises(ValueError, match="unparseable interval"):
        _interval_ms("5 fortnights")


class _FakeGroupState:
    """The slice of PySpark's ``GroupState`` the alert bucket function uses."""

    def __init__(self, watermark_ms=0):
        self.value, self.watermark_ms, self.hasTimedOut = None, watermark_ms, False
        self.timeout_ms = None
        self.removed = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value, self.removed = None, True

    def setTimeoutTimestamp(self, ms):
        # Spark rejects a timeout behind the watermark
        assert ms >= self.watermark_ms, (ms, self.watermark_ms)
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def test_presence_bucket_function_semantics():
    """T7 without Spark: the per-bucket state function driven call by call
    with a fake GroupState — arrivals, intra-batch gaps, late rows, the
    strict departure test, timeout re-arming and state removal, and
    same-millisecond ties."""
    from ssidentity_spark.streaming.alerts import _presence_fn

    gap = 30 * 60_000
    fn = _presence_fn(gap)

    def call(state, rows=()):
        pdf = pd.DataFrame(rows, columns=["mac", "_t", "sensor_id"])
        pdf = pdf.assign(ts=pd.to_datetime(pdf["_t"].astype("int64"), unit="ms"), bucket=7)
        pdfs = iter([] if state.hasTimedOut else [pdf.drop(columns="_t")])
        return sorted(t for out in fn((7,), pdfs, state) for t in out.itertuples(index=False, name=None))

    def devices(state):
        macs, seen, sensors = state.value
        return dict(zip(macs, zip(seen, sensors)))

    # first arrival; an intra-batch silence longer than the gap departs
    # (stamped last_seen + gap, last sensor before it) and re-arrives
    st = _FakeGroupState()
    got = call(st, [("A", 0, "s1"), ("A", 60_000, "s1"), ("B", 0, "s1"), ("B", 10 * gap, "s2")])
    assert got == sorted(
        [("A", "arrival", 0, "s1"), ("B", "arrival", 0, "s1"),
         ("B", "departure", gap, "s1"), ("B", "arrival", 10 * gap, "s2")]
    )
    assert devices(st) == {"A": (60_000, "s1"), "B": (10 * gap, "s2")}
    # the timeout is armed at the earliest horizon
    assert st.timeout_ms == 60_000 + gap

    # a late row folds nothing: no alert, last_seen and sensor kept
    assert call(st, [("A", 30_000, "s9")]) == []
    assert devices(st)["A"] == (60_000, "s1")

    # a watermark equal to A's horizon keeps A present (strict <)
    st.watermark_ms, st.hasTimedOut = 60_000 + gap, True
    assert call(st) == []
    assert set(devices(st)) == {"A", "B"}
    # one millisecond later A departs; the timeout re-arms at B's horizon
    st.watermark_ms += 1
    assert call(st) == [("A", "departure", 60_000 + gap, "s1")]
    assert devices(st) == {"B": (10 * gap, "s2")}
    assert st.timeout_ms == 11 * gap

    # a data call for another device sweeps B once its horizon has passed
    st.watermark_ms, st.hasTimedOut = 11 * gap + 1, False
    assert call(st, [("C", 12 * gap, "s3")]) == sorted(
        [("B", "departure", 11 * gap, "s2"), ("C", "arrival", 12 * gap, "s3")]
    )
    assert devices(st) == {"C": (12 * gap, "s3")}

    # the last departure removes the bucket's state
    st.watermark_ms, st.hasTimedOut = 13 * gap + 1, True
    assert call(st) == [("C", "departure", 13 * gap, "s3")]
    assert st.removed and not st.exists

    # a row admitted under the previous trigger's watermark, whose horizon
    # is already behind this trigger's, arrives and departs in one call
    # instead of arming a timeout behind the watermark
    st = _FakeGroupState(3 * gap)
    assert call(st, [("E", gap, "s4")]) == [("E", "arrival", gap, "s4"), ("E", "departure", 2 * gap, "s4")]
    assert st.removed

    # two sensors hearing a device in one millisecond: the arrival and the
    # later departure name the lower sensor_id, whatever the row order
    for rows in ([("D", 5, "s2"), ("D", 5, "s1")], [("D", 5, "s1"), ("D", 5, "s2")]):
        st = _FakeGroupState()
        assert call(st, rows) == [("D", "arrival", 5, "s1")]
        st.watermark_ms, st.hasTimedOut = 5 + gap + 1, True
        assert call(st) == [("D", "departure", 5 + gap, "s1")]


def _drop_last_commit(ck: str) -> None:
    """Crash simulation: erase the newest streaming commit record (and its
    checksum sidecar — a stale .crc makes the checkpoint manager report a
    concurrent query) so the restarted query replays that micro-batch."""
    import os

    d = os.path.join(ck, "commits")
    newest = max(f for f in os.listdir(d) if not f.startswith("."))
    os.remove(os.path.join(d, newest))
    crc = os.path.join(d, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_alert_sink_replay_does_not_duplicate(spark, tmp_path):
    """T9 exactly-once: delete the last streaming commit record (crash
    after the parquet write, before the checkpoint commit) and restart —
    the replayed micro-batch must overwrite its own batch_id partition,
    not append duplicate alert rows."""
    import os

    from ssidentity_spark.streaming.ingest import write_alert_table

    chunks = [[(0, "AAA", "s1"), (1, "BBB", "s2")]]
    src = _write_chunks(spark, tmp_path, chunks)
    out = str(tmp_path / "alerts_sink")
    ck = str(tmp_path / "alerts_sink_ck")

    def _run_once():
        q = write_alert_table(read_observation_stream(spark, src), out, ck)
        q.awaitTermination(180)

    _run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 2
    # simulate the crash window: the data write survived, the commit didn't
    _drop_last_commit(ck)
    _run_once()  # replays the uncommitted batch
    assert spark.read.parquet(out).count() == n1  # no duplicates


def test_roster_upsert_replay_does_not_double_count(spark, tmp_path):
    """S2/A4 replay safety: same crash simulation against the roster
    merge — the running n_probes sum must NOT be applied twice."""
    import os

    from ssidentity_spark.streaming.ingest import roster_upsert_stream

    chunks = [[(0, "AAA", "s1"), (5, "AAA", "s2"), (6, "BBB", "s1")]]
    src = _write_chunks(spark, tmp_path, chunks)
    roster_path = str(tmp_path / "roster_replay")
    ck = str(tmp_path / "roster_replay_ck")

    def _run_once():
        q = roster_upsert_stream(
            read_observation_stream(spark, src), roster_path, ck
        )
        q.awaitTermination(180)

    _run_once()
    _drop_last_commit(ck)
    _run_once()  # replayed batch must find its marker and no-op
    got = {r.mac: r.n_probes for r in spark.read.parquet(roster_path).collect()}
    assert got == {"AAA": 2, "BBB": 1}


def test_funnel_stream_ignores_non_funnel_event_types(spark, tmp_path):
    """Streaming funnel domain == batch domain: a user whose rows are all
    non-funnel types must not allocate state or emit snapshots."""
    from ssidentity_spark.streaming.funnel import funnel_stream

    base = dt.datetime(2026, 5, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    rows = [
        (1, base, 7, "signup", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 9, "click", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=2), 9, "error", 1.0, "{}"),
    ]
    src = str(tmp_path / "nf_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    out = _run(
        funnel_stream(spark.readStream.schema(schema).parquet(src)),
        tmp_path,
        "nf_funnel",
    )
    got = {r.user_id for r in spark.read.parquet(out).collect()}
    assert got == {7}  # user 9 (clicks/errors only) never appears


def test_presence_alerts_crash_resume_no_duplicate_arrival(spark, tmp_path):
    """T7 exactly-once across restarts: stop the query, add data, restart on
    the SAME checkpoint — per-key state must be restored, so a device seen
    again within its gap must NOT re-emit an arrival, while a genuinely new
    device must."""
    from ssidentity_spark.streaming.alerts import presence_alerts

    src = str(tmp_path / "obs_src")
    out = str(tmp_path / "alerts_out")
    ck = str(tmp_path / "alerts_ck")

    def _append(spec):
        df = spark.createDataFrame(_obs_rows(spec), schema=OBSERVATIONS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(src)

    def _run_once():
        stream = read_observation_stream(spark, src)
        alerts = presence_alerts(stream, gap="30 minutes", watermark="10 minutes")
        q = (
            alerts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # run 1: AAA and BBB arrive
    _append([(0, "AAA", "s1"), (1, "BBB", "s2")])
    _run_once()  # query stops (simulated crash/shutdown)

    # while "down": AAA speaks again within its gap, CCC is brand new
    _append([(5, "AAA", "s1"), (10, "CCC", "s3")])
    _run_once()  # restart from the same checkpoint

    got = spark.read.parquet(out).collect()
    arrivals = sorted(r.mac for r in got if r.alert_type == "arrival")
    assert arrivals == ["AAA", "BBB", "CCC"], got  # exactly one arrival each


def test_settings_edit_propagates_without_restart(spark, tmp_path):
    """S6: an update_settings() edit is picked up by the NEXT micro-batch of
    the live watchlist query — no query restart required."""
    from ssidentity_spark.streaming.ingest import (
        update_settings,
        watchlist_hits_stream_live,
    )

    src = str(tmp_path / "obs_src")
    out = str(tmp_path / "hits_out")
    ck = str(tmp_path / "hits_ck")
    settings = str(tmp_path / "settings")

    def _append(spec):
        df = spark.createDataFrame(_obs_rows(spec), schema=OBSERVATIONS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(src)

    def _run_once():
        q = watchlist_hits_stream_live(
            read_observation_stream(spark, src), settings, out, ck
        )
        q.awaitTermination(180)

    update_settings(spark, settings, [("AAA", "suspect")], "mac STRING, tag STRING")
    _append([(0, "AAA", "s1"), (1, "BBB", "s2")])
    _run_once()
    got1 = {r.mac for r in spark.read.parquet(out).collect()}
    assert got1 == {"AAA"}  # BBB not on the list yet

    # remote-admin edit while the pipeline keeps running: add BBB
    update_settings(
        spark, settings, [("AAA", "suspect"), ("BBB", "suspect")], "mac STRING, tag STRING"
    )
    _append([(5, "AAA", "s1"), (6, "BBB", "s2"), (7, "CCC", "s3")])
    _run_once()
    got2 = sorted((r.mac, int(r.ts.minute)) for r in spark.read.parquet(out).collect())
    assert ("BBB", 6) in got2  # new list entry matched post-edit
    assert ("CCC", 7) not in [(m, t) for m, t in got2]
    assert ("BBB", 1) not in got2  # pre-edit batch was matched with old list


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """EXT-pipeline × J6: the stream-side decontamination gate (broadcast
    eval-gram set probed in an Arrow UDF — no streaming state) passes and
    drops exactly the documents the batch 5-gram-overlap query would."""
    import datetime as dt

    from ssidentity_spark.streaming.corpus import (
        DOCS_STREAM_SCHEMA,
        benchmark_gram_set,
        decontaminate_stream,
        read_document_stream,
    )

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    # doc 1 shares the 5-gram "beta gamma delta epsilon zeta" → contaminated;
    # doc 2 shares only 4 consecutive words → clean; doc 3 disjoint; doc 4
    # shorter than 5 words → clean by construction
    rows = [
        (base, 1, "x beta gamma delta epsilon zeta y"),
        (base, 2, "beta gamma delta epsilon X zeta eta theta iota"),
        (base, 3, "one two three four five six seven"),
        (base + dt.timedelta(minutes=1), 4, "alpha beta gamma"),
    ]
    src = str(tmp_path / "decon_src")
    spark.createDataFrame(rows, DOCS_STREAM_SCHEMA).coalesce(1).write.parquet(src)
    bench = benchmark_gram_set(
        spark.createDataFrame([(bench_text,)], "text STRING")
    )
    cleaned = decontaminate_stream(read_document_stream(spark, src), bench)
    out = _run(cleaned, tmp_path, "decon")
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {2, 3, 4}


def test_streaming_quality_monitor(spark, tmp_path):
    """EXT-pipeline × T3: windowed verdict counts match the batch gates."""
    import datetime as dt

    from ssidentity_spark.streaming.corpus import (
        DOCS_STREAM_SCHEMA,
        quality_monitor_stream,
    )

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    ok = "the quick brown fox jumps over a lazy dog"
    chunks = [
        [
            (base, 1, ok),
            (base + dt.timedelta(seconds=10), 2, "hi"),  # too_short
            (base + dt.timedelta(seconds=20), 3, ok),
            # next window: a no-stopword doc → stopword_lo
            (base + dt.timedelta(minutes=6), 4, "alpha beta gamma delta epsilon zeta"),
        ],
        # far-future sentinel advances the watermark so both earlier
        # windows close and emit (its own window stays open)
        [(base + dt.timedelta(hours=2), 99, ok)],
    ]
    src = str(tmp_path / "qm_src")
    for chunk in chunks:
        spark.createDataFrame(chunk, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    mon = quality_monitor_stream(stream)
    out = _run(mon, tmp_path, "qmon")
    got = {
        (r.window_start.minute, r.verdict): r.n
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(0, "ok"): 2, (0, "too_short"): 1, (5, "stopword_lo"): 1}


def test_streaming_ann_probe_matches_batch(spark, tmp_path):
    """U5 × T (the last empty EXT×streaming cell): an arriving query-vector
    micro-batch scored against the static pinned-IVF index returns exactly
    the top-k the identical batch pipeline computes on the same input —
    the expression-only operator contract makes stream ≡ batch by
    construction, and this pins it."""
    import datetime as dt

    from ssidentity_spark.streaming.ann import build_pinned_index, probe_stream

    sf_dir = "/root/testdata/sf0.001"
    model, cells = build_pinned_index(spark, sf_dir)
    assert len(model) >= 1
    cells = cells.cache()

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_rows = [
        (base + dt.timedelta(seconds=int(r.vec_id)), int(r.vec_id), list(r.embedding))
        for r in em.filter("vec_id < 10").collect()
    ]
    schema = "ts TIMESTAMP, query_id LONG, embedding ARRAY<FLOAT>"
    src = str(tmp_path / "ann_src")
    spark.createDataFrame(q_rows, schema).coalesce(1).write.parquet(src)
    # far-future sentinel closes the first window under append mode
    sentinel = [(base + dt.timedelta(hours=2), 999, q_rows[0][2])]
    spark.createDataFrame(sentinel, schema).coalesce(1).write.mode("append").parquet(
        src
    )

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got_path = _run(probe_stream(stream, cells, model), tmp_path, "ann_probe")
    got = {
        (r.query_id, r.rnk, r.neighbor_id, r.cos)
        for r in spark.read.parquet(got_path).collect()
    }

    batch_q = spark.createDataFrame(q_rows, schema)
    want = {
        (r.query_id, r.rnk, r.neighbor_id, r.cos)
        for r in probe_stream(batch_q, cells, model).collect()
    }
    cells.unpersist()
    assert len(want) > 0
    assert got == want


# ---------------------------------------------------------------------------
# End-to-end soak (VERDICT r5 ask #7): multi-stage checkpointed pipelines
# with a crash in the middle — until r5 each stage was only tested alone.
# ---------------------------------------------------------------------------


def test_multistage_pipeline_crash_resume_exactly_once(spark, tmp_path):
    """Two chained checkpointed queries — stage A: observation stream →
    stream-static watchlist join → parquet hits table; stage B: the hits
    table AS A STREAM → stateful presence alerts → final alert table.

    Crash scenario: after round 1, stage A processes a micro-batch that
    stage B never sees before the "restart" (the process dies between
    stages), more data lands while down, then both stages restart from
    their own checkpoints. End-to-end exactly-once on the FINAL table:
    one arrival per watchlisted device — a device re-seen across the
    crash must not re-emit, a device first seen during the outage must
    emit exactly once after recovery — and the off-watchlist device never
    appears anywhere."""
    from ssidentity_spark.streaming.alerts import presence_alerts

    src = str(tmp_path / "obs_src")
    hits_out = str(tmp_path / "hits_out")
    ck_a = str(tmp_path / "ck_a")
    alerts_out = str(tmp_path / "alerts_out")
    ck_b = str(tmp_path / "ck_b")
    wl = spark.createDataFrame([("AAA",), ("BBB",), ("CCC",)], "mac STRING")

    def _append(spec):
        df = spark.createDataFrame(_obs_rows(spec), schema=OBSERVATIONS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(src)

    def _run_stage_a():
        hits = watchlist_hits_stream(read_observation_stream(spark, src), wl)
        q = (
            hits.writeStream.format("parquet")
            .option("path", hits_out)
            .option("checkpointLocation", ck_a)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def _run_stage_b():
        hits_stream = spark.readStream.schema(OBSERVATIONS_SCHEMA).parquet(hits_out)
        alerts = presence_alerts(
            hits_stream, gap="30 minutes", watermark="10 minutes"
        )
        q = (
            alerts.writeStream.format("parquet")
            .option("path", alerts_out)
            .option("checkpointLocation", ck_b)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # round 1: AAA + BBB (watchlisted) and XXX (not) arrive; both stages run
    _append([(0, "AAA", "s1"), (1, "BBB", "s2"), (2, "XXX", "s3")])
    _run_stage_a()
    _run_stage_b()

    # crash window: stage A advances on new data (AAA re-seen within its
    # gap, CCC first seen) but the process dies before stage B runs
    _append([(5, "AAA", "s1"), (8, "CCC", "s3")])
    _run_stage_a()

    # while fully down, more data lands (BBB re-seen, XXX again)
    _append([(12, "BBB", "s2"), (13, "XXX", "s3")])

    # full restart: both stages recover from their own checkpoints
    _run_stage_a()
    _run_stage_b()

    hits = spark.read.parquet(hits_out).collect()
    assert {r.mac for r in hits} == {"AAA", "BBB", "CCC"}  # XXX filtered
    # stage A wrote each hit exactly once despite three restarts
    assert len(hits) == 5

    got = spark.read.parquet(alerts_out).collect()
    arrivals = sorted(r.mac for r in got if r.alert_type == "arrival")
    assert arrivals == ["AAA", "BBB", "CCC"], got
    assert not [r for r in got if r.mac == "XXX"]


def test_corpus_pipeline_crash_resume_exactly_once(spark, tmp_path):
    """The composed corpus intake — ingest → quality/dedup clean →
    benchmark decontamination — as ONE checkpointed query, crashed after
    the first micro-batch and restarted with more data (including a
    cross-restart duplicate and a contaminated document) waiting. The
    final cleaned table must hold each surviving document exactly once."""
    import datetime as dt

    from ssidentity_spark.streaming.corpus import (
        DOCS_STREAM_SCHEMA,
        benchmark_gram_set,
        clean_documents_stream,
        decontaminate_stream,
        read_document_stream,
    )

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    good_a = "the quick brown fox jumps over a lazy dog"
    good_b = "a stream of documents flows into the cleanup gate here"
    dirty = "x alpha beta gamma delta epsilon zeta y is the problem here"
    bench = benchmark_gram_set(
        spark.createDataFrame(
            [("alpha beta gamma delta epsilon zeta eta theta",)], "text STRING"
        )
    )
    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "cleaned_out")
    ck = str(tmp_path / "cleaned_ck")

    def _append(rows):
        spark.createDataFrame(rows, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def _run_once():
        cleaned = decontaminate_stream(
            clean_documents_stream(read_document_stream(spark, src)), bench
        )
        q = (
            cleaned.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _append([(base, 1, good_a), (base, 2, "hi")])  # 2: too short
    _run_once()  # crash after this micro-batch

    _append(
        [
            (base + dt.timedelta(minutes=1), 3, good_a),  # dup of 1 across crash
            (base + dt.timedelta(minutes=1), 4, good_b),
            (base + dt.timedelta(minutes=2), 5, dirty),  # shares a bench 5-gram
        ]
    )
    _run_once()  # restart from the same checkpoint

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    # 1 survived round 1; its duplicate 3 must be suppressed by restored
    # dedup state; 2 (quality), 5 (decontamination) never appear; 4 passes
    assert got == [1, 4], got


def test_streaming_ann_probe_trained_index_matches_batch(spark, tmp_path):
    """The trained-centroid index (build_trained_index — Lloyd's k-means
    model instead of the pinned corpus subset) serves probe_stream through
    the identical expressions: stream output ≡ batch output on the same
    queries, and the model honours the literal-scalar cap contract."""
    import datetime as dt

    from ssidentity_spark.streaming.ann import build_trained_index, probe_stream

    sf_dir = "/root/testdata/sf0.001"
    model, cells = build_trained_index(spark, sf_dir, k=8, iters=2)
    assert len(model) == 8
    cells = cells.cache()

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_rows = [
        (base + dt.timedelta(seconds=int(r.vec_id)), int(r.vec_id), list(r.embedding))
        for r in em.filter("vec_id < 6").collect()
    ]
    schema = "ts TIMESTAMP, query_id LONG, embedding ARRAY<FLOAT>"
    src = str(tmp_path / "tq_src")
    spark.createDataFrame(q_rows, schema).coalesce(1).write.parquet(src)
    # far-future sentinel closes the first window under append mode
    sentinel = [(base + dt.timedelta(hours=2), 999, q_rows[0][2])]
    spark.createDataFrame(sentinel, schema).coalesce(1).write.mode("append").parquet(
        src
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got_path = _run(probe_stream(stream, cells, model), tmp_path, "t_ann_probe")
    got = {
        (r.query_id, r.rnk, r.neighbor_id, r.cos)
        for r in spark.read.parquet(got_path).collect()
    }
    batch_q = spark.createDataFrame(q_rows, schema)
    want = {
        (r.query_id, r.rnk, r.neighbor_id, r.cos)
        for r in probe_stream(batch_q, cells, model).collect()
    }
    cells.unpersist()
    assert len(want) > 0
    assert got == want


def test_streaming_sketches_match_batch(spark, tmp_path):
    """Sketch state over a stream == sketch over the batch union of its
    micro-batches: CMS counters add, HLL registers max — both exactly.
    State cardinality is fixed (d·w / groups·m) with NO watermark: the
    bounded-state argument is structural, not configured."""
    from ssidentity_spark.operators.sketches import cms_counters, hll_registers
    from ssidentity_spark.streaming.sketches import (
        cms_counters_stream,
        hll_registers_stream,
    )
    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("ts", "user_id", "event_type")
    )
    src = str(tmp_path / "sketch_src")
    # three micro-batch files
    for i in range(3):
        ev.where(f"user_id % 3 = {i}").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_type string"
    ).option("maxFilesPerTrigger", 1).parquet(src)

    cms_q = (
        cms_counters_stream(stream)
        .writeStream.format("memory")
        .queryName("cms_sketch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    hll_q = (
        hll_registers_stream(stream)
        .writeStream.format("memory")
        .queryName("hll_sketch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    cms_q.awaitTermination(120)
    hll_q.awaitTermination(120)

    got_cms = sorted(map(tuple, spark.table("cms_sketch").collect()))
    want_cms = sorted(
        map(tuple, cms_counters(ev, F.col("user_id").cast("string")).collect())
    )
    assert got_cms == want_cms

    got_hll = sorted(map(tuple, spark.table("hll_sketch").collect()))
    want_hll = sorted(
        map(tuple, hll_registers(ev, "event_type", "user_id").collect())
    )
    assert got_hll == want_hll
    assert len(got_cms) <= 4 * 512  # state ceiling, structural


def test_streaming_cdc_matches_batch_with_out_of_order_batches(spark, tmp_path):
    """Streaming CDC materialization ≡ batch apply_cdc_log, with changes
    delivered out-of-order ACROSS micro-batches: a newer sequence lands
    first, a stale older update for a TOMBSTONED key arrives a batch
    later (must not resurrect — tombstone state is retained until the
    watermark passes its sequence time)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ssidentity_spark.operators.merge import apply_cdc_log
    from ssidentity_spark.streaming.cdc import cdc_latest_state_stream

    base = dt.datetime(2026, 3, 1, 12, 0, 0)

    def row(uid, minute, eid, op, etype, val):
        return (uid, base + dt.timedelta(minutes=minute), eid, op, etype, val)

    schema = (
        "user_id long, ts timestamp, event_id long, op string, "
        "event_type string, value double"
    )
    # all stale rows stay within the 10-min watermark lag, so the ENGINE
    # accepts them and it is the operator's sequence guard (not the
    # late-row filter) that must reject them
    chunks = [
        # batch 1: key 1 newest-first (seq 30 before 25 ever arrives);
        # key 2 gets its tombstone FIRST (wm after this batch: 31-10=21)
        [row(1, 30, 103, "U", "view", 3.0), row(2, 31, 201, "D", "error", 0.0)],
        # batch 2: stale but NOT late — key 1 seq 25 (older, must not
        # win), key 2 seq 28 (older than the tombstone, must NOT
        # resurrect: the tombstone state is still retained at wm 21)
        [row(1, 25, 101, "U", "click", 1.0), row(2, 28, 200, "U", "click", 2.0)],
        # batch 3: key 1 advances for real; key 3 appears
        [row(1, 50, 104, "U", "purchase", 9.0), row(3, 35, 300, "U", "signup", 7.0)],
    ]

    src = str(tmp_path / "cdc_src")
    out = str(tmp_path / "cdc_out")
    ck = str(tmp_path / "cdc_ck")
    all_rows = []
    for chunk in chunks:
        all_rows.extend(chunk)
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            cdc_latest_state_stream(stream, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    updates = spark.read.parquet(out)
    # materialize: latest emitted update per key, deletes applied
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("seq_us").desc(), F.col("seq_id").desc()
    )
    final = (
        updates.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & ~F.col("is_deleted"))
        .select("user_id", "last_type", "last_value")
    )
    batch = apply_cdc_log(
        spark.createDataFrame(all_rows, schema),
        ["user_id"],
        ["ts", "event_id"],
        "op",
    ).select("user_id", F.col("event_type").alias("last_type"),
             F.col("value").alias("last_value"))
    got = {r["user_id"]: (r["last_type"], r["last_value"]) for r in final.collect()}
    want = {r["user_id"]: (r["last_type"], r["last_value"]) for r in batch.collect()}
    assert got == want == {1: ("purchase", 9.0), 3: ("signup", 7.0)}
    # the stale batch-2 rows must not have emitted ANY update
    assert updates.where(F.col("seq_id").isin(101, 200)).count() == 0


def test_streaming_cdc_tombstone_state_expires_after_watermark(spark, tmp_path):
    """The live-population invariant: once the watermark passes a
    tombstone's sequence time its state row is dropped (event-time
    timeout), so the store tracks live keys only."""
    import datetime as dt

    from ssidentity_spark.streaming.cdc import cdc_latest_state_stream

    base = dt.datetime(2026, 3, 1, 12, 0, 0)
    schema = (
        "user_id long, ts timestamp, event_id long, op string, "
        "event_type string, value double"
    )

    def row(uid, minute, eid, op):
        return (uid, base + dt.timedelta(minutes=minute), eid, op, "t", 1.0)

    src = str(tmp_path / "exp_src")
    out = str(tmp_path / "exp_out")
    ck = str(tmp_path / "exp_ck")
    chunks = [
        [row(1, 0, 1, "U"), row(2, 1, 2, "D")],  # key 2 tombstoned at t=1
        # a STALE change for the tombstoned key: the invocation clears the
        # GroupState timeout, so the guard path must RE-ARM it or the
        # tombstone leaks forever (the reviewed regression)
        [row(2, 0, 1, "U")],
        # watermark jumps to 100-10=90 >> 1 → key 2's tombstone times out
        [row(1, 100, 3, "U")],
        # one more batch so the timeout (evaluated at batch start against
        # the PREVIOUS watermark) has definitely fired
        [row(1, 101, 4, "U")],
    ]
    last_q = None
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            cdc_latest_state_stream(stream, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        last_q = q
    progress = last_q.lastProgress
    n_state = progress["stateOperators"][0]["numRowsTotal"]
    assert n_state == 1, progress["stateOperators"]  # only key 1 lives


def test_streaming_ema_matches_batch_fold(spark, tmp_path):
    """O(1)-state streaming EMA ≡ the batch ordered fold for in-order
    delivery across micro-batches, and replayed rows fold nothing (the
    sequence guard)."""
    import datetime as dt

    from ssidentity_spark.streaming.ema import ema_stream

    base = dt.datetime(2026, 4, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_id long, value double"

    series = {1: [3.0, 1.0, 4.0, 1.0, 5.0], 2: [9.0, 2.0, 6.0]}
    rows = []
    for uid, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((uid, base + dt.timedelta(minutes=i), 100 * uid + i, v))
    rows.sort(key=lambda r: r[1])
    # three in-order chunks; the middle chunk REPLAYS the first (guard)
    chunks = [rows[:3], rows[:3] + rows[3:5], rows[5:]]

    src = str(tmp_path / "ema_src")
    out = str(tmp_path / "ema_out")
    ck = str(tmp_path / "ema_ck")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            ema_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    from pyspark.sql import functions as F

    snaps = spark.read.parquet(out)
    w = __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
        "user_id"
    ).orderBy(F.col("n_events").desc())
    final = {
        r["user_id"]: (r["ema"], r["n_events"])
        for r in snaps.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    expect = {}
    for uid, vals in series.items():
        acc = vals[0]
        for v in vals[1:]:
            acc = acc * 0.9 + v * 0.1
        expect[uid] = (acc, len(vals))
    assert final == expect


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """O(1)-state streaming funnel ≡ the batch fold (w6) for in-order
    delivery, including the semantics corners: out-of-order steps don't
    count, expired anchors stall, later signups don't re-anchor."""
    import datetime as dt

    import pandas as pd

    from ssidentity_spark.plans.analytics import w6_funnel_progression
    from ssidentity_spark.streaming.funnel import funnel_stream

    base = dt.datetime(2026, 5, 1, 12, 0, 0)

    def ev(uid, minute, eid, etype):
        return (eid, base + dt.timedelta(minutes=minute), uid, etype, 1.0, "{}")

    rows = [
        ev(1, 0, 1, "signup"), ev(1, 10, 2, "view"), ev(1, 20, 3, "purchase"),
        ev(2, 0, 10, "signup"), ev(2, 5, 11, "purchase"), ev(2, 30, 12, "view"),
        ev(3, 0, 20, "signup"), ev(3, 90, 21, "view"),
        ev(4, 0, 30, "view"), ev(4, 1, 31, "purchase"),
        ev(5, 0, 40, "signup"), ev(5, 65, 41, "signup"), ev(5, 70, 42, "view"),
    ]
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # batch ground truth
    pdf = pd.DataFrame(rows, columns=cols)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    want = {
        r["user_id"]: (r["funnel_level"], r["funnel_start_us"])
        for r in w6_funnel_progression(spark, str(tmp_path)).collect()
    }

    # stream the same rows in two in-order chunks
    rows.sort(key=lambda r: (r[1], r[0]))
    src = str(tmp_path / "fsrc")
    out = str(tmp_path / "fout")
    ck = str(tmp_path / "fck")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    for chunk in (rows[:6], rows[6:]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            funnel_stream(spark.readStream.schema(schema).parquet(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    from pyspark.sql import Window

    # final snapshot per key = max n_events (the monotone fold counter;
    # funnel_level itself may decrease under disorder re-anchoring)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        r["user_id"]: (r["funnel_level"], r["funnel_start_us"])
        for r in spark.read.parquet(out)
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert got == want


def test_streaming_pii_scrub_parity_with_batch(spark, tmp_path):
    """X8 × T6: the PII scrub on an unbounded stream — stateless narrow
    expressions, so the streamed result is BYTE-equal to the batch scrub
    of the same rows; per-type counts ride as audit columns."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ssidentity_spark.functions.pii import pii_counts, redact_pii
    from ssidentity_spark.streaming.corpus import (
        DOCS_STREAM_SCHEMA,
        read_document_stream,
        redact_pii_stream,
    )

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (base, 1, "mail me at a@b.co or ping 10.0.0.7 now"),
        (base, 2, "card 1234 5678 9012 3456 call +4915112345678"),
        (base, 3, "nothing sensitive in this one at all"),
    ]
    src = str(tmp_path / "pii_src")
    spark.createDataFrame(rows, DOCS_STREAM_SCHEMA).coalesce(1).write.parquet(src)
    out = _run(
        redact_pii_stream(read_document_stream(spark, src)), tmp_path, "pii"
    )
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}

    batch = spark.createDataFrame(rows, DOCS_STREAM_SCHEMA)
    counts = pii_counts(F.col("text"))
    want = {
        r["doc_id"]: r
        for r in batch.select(
            "doc_id",
            redact_pii(F.col("text")).alias("text"),
            *[counts[k].alias(k) for k in sorted(counts)],
        ).collect()
    }
    assert set(got) == set(want)
    for i in want:
        for c in ("text", "n_email", "n_card", "n_phone", "n_ipv4"):
            assert got[i][c] == want[i][c], (i, c)
    assert got[1]["text"].count("<EMAIL>") == 1
    assert got[1]["text"].count("<IP>") == 1
    assert got[2]["n_card"] == 1 and got[2]["n_phone"] == 1


def test_state_v2_available_probe_agrees_on_driver_and_executor(spark):
    """The real protobuf probe, both sides: the driver-interpreter form and
    the executor form (local[*]: same env, so they must agree)."""
    from ssidentity_spark.streaming.alerts import state_v2_available

    try:
        import google.protobuf  # noqa: F401

        expect = True
    except ImportError:
        expect = False
    assert state_v2_available() is expect
    assert state_v2_available(spark) is expect


def test_streaming_ema_folds_cross_batch_disorder_within_watermark(
    spark, tmp_path
):
    """r11 ordering upgrade (the pattern.py ADVICE applied to every
    order-recursive twin): a late row the watermark admits folds in
    event-time order — the final EMA equals the batch fold of the
    reordered union, NOT the arrival-order fold."""
    import datetime as dt

    from ssidentity_spark.streaming.ema import ema_stream

    base = dt.datetime(2026, 4, 2, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_id long, value double"
    # batch 1: t=0 (3.0), t=15 (5.0); batch 2: t=12 (100.0) — late but
    # watermark after batch 1 is 15-10=5 < 12, so it must be admitted
    # and fold BETWEEN the two
    src = str(tmp_path / "emad_src")
    out = str(tmp_path / "emad_out")
    ck = str(tmp_path / "emad_ck")

    def _run(chunk):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            ema_stream(spark.readStream.schema(schema).parquet(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _run([(1, base, 1, 3.0), (1, base + dt.timedelta(minutes=15), 2, 5.0)])
    _run([(1, base + dt.timedelta(minutes=12), 3, 100.0)])
    from pyspark.sql import functions as F

    snaps = spark.read.parquet(out).orderBy(F.desc("n_events")).collect()
    final = snaps[0]
    assert final["n_events"] == 3
    # event-time order fold: 3.0 -> 100.0 -> 5.0
    expect = (3.0 * 0.9 + 100.0 * 0.1) * 0.9 + 5.0 * 0.1
    assert abs(final["ema"] - expect) < 1e-12


def test_streaming_funnel_late_signup_reanchors_within_watermark(
    spark, tmp_path
):
    """A signup arriving late (but watermark-admissible) re-anchors the
    60-min window exactly as the batch greedy chain would: view@70min
    after signup@65min completes level 2, even though the view arrived
    first."""
    import datetime as dt

    from ssidentity_spark.streaming.funnel import funnel_stream

    base = dt.datetime(2026, 5, 2, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "fd_src")
    out = str(tmp_path / "fd_out")
    ck = str(tmp_path / "fd_ck")

    def _run(chunk):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            funnel_stream(spark.readStream.schema(schema).parquet(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def ev(minute, eid, etype):
        return (eid, base + dt.timedelta(minutes=minute), 5, etype, 1.0, "{}")

    # batch 1: view@70 only (no signup yet -> level 0)
    _run([ev(70, 2, "view")])
    # batch 2: signup@65 — late vs the view, admitted (wm = 70-10 = 60)
    _run([ev(65, 1, "signup")])
    from pyspark.sql import functions as F

    snaps = spark.read.parquet(out).orderBy(F.desc("n_events")).collect()
    final = snaps[0]
    assert final["n_events"] == 2
    assert final["funnel_level"] == 2  # signup@65 then view@70
    us65 = int((base + dt.timedelta(minutes=65)).timestamp() * 1_000_000)
    assert final["funnel_start_us"] == us65


def test_streaming_behavior_profiles_match_batch(spark, tmp_path):
    """The linkage fingerprint table maintained over a stream == the
    batch profile of the union of its micro-batches — counts add
    exactly, state is one row per live (user, hod, type) cell with NO
    watermark (the sketches bounded-state argument, per-device). Since
    id_behavior_linkage is a pure function of this table, stream-parity
    here extends the driver's batch linkage gate to the streaming
    admission path."""
    from ssidentity_spark.plans.analytics import behavior_profiles
    from ssidentity_spark.streaming.profiles import behavior_profiles_stream

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "ts", "user_id", "event_type"
    )
    src = str(tmp_path / "prof_src")
    for i in range(3):  # three micro-batch files
        ev.where(f"user_id % 3 = {i}").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        behavior_profiles_stream(stream)
        .writeStream.format("memory")
        .queryName("profiles_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.table("profiles_stream").collect()))
    want = sorted(map(tuple, behavior_profiles(ev).collect()))
    assert got == want and len(got) > 0
    # structural state ceiling: one row per live cell, <= 24*types/user
    n_users = ev.select("user_id").distinct().count()
    n_types = ev.select("event_type").distinct().count()
    assert len(got) <= n_users * 24 * n_types


def test_holt_stream_final_snapshot_equals_batch_query(spark, tmp_path):
    """r12 TS10 twin: chunked replay (with one replayed chunk as the
    at-least-once guard) ends with per-key (level, trend) that match
    the gated batch ts_holt_linear on the same rows at the batch
    query's 6 dp round."""
    import datetime as dt

    from ssidentity_spark.registry import REGISTRY, _ensure_loaded
    from ssidentity_spark.streaming.ema import holt_stream

    _ensure_loaded()
    base = dt.datetime(2026, 4, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_id long, value double"

    series = {1: [3.0, 1.0, 4.0, 1.0, 5.0], 2: [9.0, 2.0, 6.0, 7.5]}
    rows = []
    for uid, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((uid, base + dt.timedelta(minutes=i), 100 * uid + i, v))
    rows.sort(key=lambda r: r[1])
    chunks = [rows[:3], rows[:3] + rows[3:6], rows[6:]]

    src = str(tmp_path / "holt_src")
    out = str(tmp_path / "holt_out")
    ck = str(tmp_path / "holt_ck")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            holt_stream(spark.readStream.schema(schema).parquet(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    snaps = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = {
        r["user_id"]: (round(r["level"], 6), round(r["trend"], 6), r["n_events"])
        for r in snaps.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }

    # same rows as an events table -> the gated batch query
    ev = [
        (eid, ts, uid, "t", v, "{}")
        for uid, ts, eid, v in rows
    ]
    sf = str(tmp_path / "batch")
    spark.createDataFrame(
        ev,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    batch = {
        r["user_id"]: (r["level"], r["trend"], r["n_events"])
        for r in REGISTRY["ts_holt_linear"].fn(spark, sf).collect()
    }
    assert final == batch


def test_sealed_fold_twins_match_batch_in_one_trigger(spark, tmp_path):
    """Each of the four sealed-fold twins (EMA, Holt, funnel, pattern)
    builds its state schema through applyInPandasWithState and runs one
    trigger over a few rows; its final snapshot per user equals the
    registered batch query on the same rows (EMA and Holt at the batch
    queries' 6 dp round)."""
    from ssidentity_spark.registry import REGISTRY, _ensure_loaded
    from ssidentity_spark.streaming.ema import ema_stream, holt_stream
    from ssidentity_spark.streaming.funnel import funnel_stream
    from ssidentity_spark.streaming.pattern import pattern_stream

    _ensure_loaded()
    base = dt.datetime(2026, 6, 1, 8, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    seqs = {1: "scvpsvp", 2: "svcep", 3: "cvp"}
    rows = [
        (100 * u + i, base + dt.timedelta(minutes=7 * i), u,
         {"s": "signup", "c": "click", "v": "view", "p": "purchase",
          "e": "error"}[ch], 1.5 * i - u, "{}")
        for u, seq in seqs.items()
        for i, ch in enumerate(seq)
    ]
    sf = str(tmp_path)
    src = f"{sf}/events.parquet"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    def final(twin, name):
        q = (
            twin(spark.readStream.schema(schema).parquet(src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        best = {}
        for r in spark.table(name).collect():
            if r["n_events"] > best.get(r["user_id"], {"n_events": -1})["n_events"]:
                best[r["user_id"]] = r.asDict()
        return best

    def batch(query):
        return {
            r["user_id"]: r.asDict() for r in REGISTRY[query].fn(spark, sf).collect()
        }

    for twin, query, cols in (
        (ema_stream, "ts_ema", ("ema",)),
        (holt_stream, "ts_holt_linear", ("level", "trend")),
        (funnel_stream, "w6_funnel_progression", ("funnel_level", "funnel_start_us")),
        (pattern_stream, "w7_event_pattern",
         ("n_events", "n_matches", "longest_match", "n_browse_steps")),
    ):
        got, want = final(twin, f"sealed_{query}"), batch(query)
        assert set(got) == set(want), query
        for u, w in want.items():
            g = {c: got[u][c] for c in cols}
            if query in ("ts_ema", "ts_holt_linear"):
                g = {c: round(v, 6) for c, v in g.items()}
            assert g == {c: w[c] for c in cols}, (query, u, got[u], w)
