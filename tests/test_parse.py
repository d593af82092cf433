"""Parser unit tests (SURVEY §5): accept/reject matrix over P2-P5, golden
field extraction, sanitize semantics, and the P12 escape alarm."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ssidentity_spark.fixtures import frame_cases
from ssidentity_spark.parse import (
    accept_predicate,
    ip_protocol,
    parse_observations,
    parse_rejects,
    ssid_len,
    subtype,
)
from ssidentity_spark.schemas import RAW_FRAMES_SCHEMA


@pytest.fixture(scope="module")
def labeled(spark):
    import datetime as dt

    import pandas as pd

    rows = [
        (c.frame, c.label, dt.datetime(2016, 7, 21, 11, 41, 0), len(c.frame))
        for c in frame_cases()
    ]
    pdf = pd.DataFrame(rows, columns=["frame", "sensor_id", "recv_ts", "frame_len"])
    # sensor_id column carries the case label for assertion joins
    return spark.createDataFrame(pdf, schema=RAW_FRAMES_SCHEMA).cache()


def test_accept_reject_matrix(spark, labeled):
    got = {
        r.sensor_id: r.acc
        for r in labeled.select(
            "sensor_id", accept_predicate(F.col("frame")).alias("acc")
        ).collect()
    }
    expected = {c.label: c.expect_accept for c in frame_cases()}
    assert got == expected


def test_field_extraction(spark, labeled):
    parsed = {r.sensor_id: r for r in parse_observations(labeled).collect()}
    for case in frame_cases():
        if not case.expect_accept:
            assert case.label not in parsed
            continue
        row = parsed[case.label]
        for field, want in (case.expected or {}).items():
            assert getattr(row, field) == want, (case.label, field, getattr(row, field), want)


def test_golden_ts_str(spark, labeled):
    """D3: timestamp rendering matches the reference's strftime
    '%x - %I:%M%p' (ssidentity.c:221) for the golden capture time."""
    row = parse_observations(labeled).filter(F.col("sensor_id") == "golden_probe").collect()[0]
    assert row.ts_str == "07/21/16 - 11:41AM"


def test_parse_maps_no_case(spark, labeled):
    """``hex`` already emits 0-9A-F and ``date_format``'s ``a`` renders
    AM/PM, so the parse needs no ``upper``, whose first use in a session
    loads ICU case-mapping data (about a second of the first ingest)."""
    plan = parse_observations(labeled)._jdf.queryExecution().optimizedPlan()
    assert "upper(" not in plan.toString()


def test_escape_alarm_flag(spark, labeled):
    rows = {r.sensor_id: r.ssid_was_escaped for r in parse_observations(labeled).collect()}
    assert rows["ssid_nonprintable"] is True
    assert rows["ssid_all_escaped"] is True
    assert rows["golden_probe"] is False


def test_console_render_matches_reference_format(spark, labeled):
    """S3: console line byte-matches the reference printf for golden row 1
    (ssidentity.c:89-95 + observations.db)."""
    from ssidentity_spark.parse import render_console_row

    obs = parse_observations(labeled).filter(F.col("sensor_id") == "golden_probe")
    line = render_console_row(obs).collect()[0].console_line
    assert (
        line
        == '07/21/16 - 11:41AM  28B2BDD02FC8  "OPTUSVD3DA15E0_EXT"\t-90dBm 2464mHz  Dist: 306.10m'
    )


def test_reject_reasons(spark, labeled):
    reasons = {
        r.sensor_id: r.reject_reason for r in parse_rejects(labeled).collect()
    }
    assert reasons["wrong_subtype_beacon"] == "not_probe_request"
    assert reasons["non_broadcast_dest"] == "not_broadcast_dest"
    assert reasons["known_proto_tcp"] == "known_ip_protocol"
    assert reasons["ssid_len_0"] == "bad_ssid_len"
    assert reasons["ssid_len_33"] == "bad_ssid_len"


def test_primitive_extractors(spark, labeled):
    df = labeled.select(
        "sensor_id",
        subtype(F.col("frame")).alias("st"),
        ip_protocol(F.col("frame")).alias("proto"),
        ssid_len(F.col("frame")).alias("slen"),
    )
    rows = {r.sensor_id: r for r in df.collect()}
    assert rows["golden_probe"].st == 4
    assert rows["wrong_subtype_beacon"].st == 8
    assert rows["known_proto_udp"].proto == 17
    assert rows["ssid_len_32"].slen == 32
    assert rows["ssid_len_33"].slen == 33


def test_parse_is_expression_only(spark, labeled):
    """The parse stage must stay JVM-side: no BatchEvalPython / ArrowEval
    nodes in the physical plan (SURVEY §7 phase 1 decision)."""
    plan = parse_observations(labeled)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_batch_stream_parity(spark, tmp_path):
    """P10 on a streaming DataFrame produces exactly the batch result
    (SURVEY §3: batch and stream share every downstream operator)."""
    from ssidentity_spark.fixtures import raw_frames_df

    frames = raw_frames_df(spark, n_extra=50)
    src = str(tmp_path / "frames")
    frames.write.parquet(src)
    batch = parse_observations(spark.read.schema(RAW_FRAMES_SCHEMA).parquet(src))

    stream = parse_observations(
        spark.readStream.schema(RAW_FRAMES_SCHEMA).parquet(src)
    )
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_binaryfile_ingest_matches_parquet_replay(spark, tmp_path):
    """S1 true binary-file ingestion (VERDICT r2 ask #5): the same fixture
    frames written as individual .bin blobs (binaryFile source) and as a
    parquet bundle must parse to identical observations."""
    from ssidentity_spark.fixtures import raw_frames_pdf
    from ssidentity_spark.parse import parse_observations
    from ssidentity_spark.streaming.ingest import read_frames_binary

    pdf = raw_frames_pdf(n_extra=40)
    bin_dir = tmp_path / "frames_bin"
    bin_dir.mkdir()
    for i, row in pdf.iterrows():
        epoch_us = int(row["recv_ts"].value // 1_000)  # pandas ns → µs
        name = f"{row['sensor_id']}__{epoch_us}__{i}.bin"
        (bin_dir / name).write_bytes(bytes(row["frame"]))

    pq_path = str(tmp_path / "frames_parquet")
    from ssidentity_spark.schemas import RAW_FRAMES_SCHEMA

    spark.createDataFrame(pdf, schema=RAW_FRAMES_SCHEMA).write.parquet(pq_path)

    via_binary = read_frames_binary(spark, str(bin_dir))
    assert dict(via_binary.dtypes)["frame"] == "binary"
    via_parquet = spark.read.schema(RAW_FRAMES_SCHEMA).parquet(pq_path)

    cols = ["ts", "sensor_id", "mac", "ssid", "rssi", "freq", "dist"]
    obs_b = sorted(
        tuple(r) for r in parse_observations(via_binary).select(cols).collect()
    )
    obs_p = sorted(
        tuple(r) for r in parse_observations(via_parquet).select(cols).collect()
    )
    assert len(obs_b) > 0
    assert obs_b == obs_p


def test_truncated_frame_lands_in_rejects_not_limbo(spark):
    """A frame cut off before the SSID length byte used to make the
    accept predicate NULL and vanish from BOTH observations and rejects;
    it must appear in rejects with an explicit 'truncated_frame' reason,
    and accepts + rejects must partition the input exactly."""
    import datetime as dt

    from ssidentity_spark.fixtures import build_frame
    from ssidentity_spark.schemas import RAW_FRAMES_SCHEMA

    full = build_frame()
    truncated = full[:51]  # subtype/dest/proto present, SSID len byte gone
    ts = dt.datetime(2016, 7, 21, 11, 41, 0)
    rows = [
        (bytearray(full), "ok", ts, len(full)),
        (bytearray(truncated), "cut", ts, len(truncated)),
    ]
    frames = spark.createDataFrame(rows, RAW_FRAMES_SCHEMA)
    accepts = parse_observations(frames)
    rejects = parse_rejects(frames)
    assert accepts.count() + rejects.count() == 2
    got = {r.sensor_id: r.reject_reason for r in rejects.collect()}
    assert got == {"cut": "truncated_frame"}


def test_ssid_raw_uses_its_argument(spark):
    """ssid_raw must read the Column it is given, not a hardcoded
    'frame' name (the old F.expr body ignored the argument)."""
    import datetime as dt

    from ssidentity_spark.fixtures import build_frame
    from ssidentity_spark.parse import ssid_raw

    ts = dt.datetime(2016, 7, 21, 11, 41, 0)
    df = spark.createDataFrame(
        [(bytearray(build_frame()), "s", ts, 0)],
        "payload BINARY, sensor_id STRING, recv_ts TIMESTAMP, frame_len INT",
    )
    out = df.select(ssid_raw(F.col("payload")).alias("raw")).collect()[0]
    assert bytes(out.raw).decode() == "OPTUSVD3DA15E0_EXT"
