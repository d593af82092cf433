"""Streaming ingest + windowed analytics (SURVEY §2.8 T1-T6, T8-T9).

The reference's main loop — blocking recvfrom → parseRaw → console print →
one autocommit SQLite INSERT per packet (/root/reference/ssidentity.c:81-114)
— becomes: file-source replay (or any streaming source) → the SAME parse
expressions as batch (ssidentity_spark.parse) → watermarked event-time
operators → bulk parquet commits per micro-batch. The per-packet-INSERT
bottleneck (BASELINE.md) disappears by construction.

Scale notes: ingest is narrow (no shuffle) until an aggregation; windowed
aggs shuffle on (key, window) with state bounded by the watermark; sinks are
checkpointed for exactly-once parquet output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ssidentity_spark.operators.iterate import materialize
from ssidentity_spark.parse import parse_observations
from ssidentity_spark.schemas import OBSERVATIONS_SCHEMA, RAW_FRAMES_SCHEMA


def read_frame_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """T1 source: file-stream over a drop directory of raw-frame parquet.

    Multi-sensor fan-in (README.md:12-13, ssidentity.c:30): every sensor
    ships files into the same tree; rows carry sensor_id. Live capture
    stays outside Spark (the reference delegates radio setup to airmon-ng
    too, ssidentity.c:20).
    """
    return (
        spark.readStream.schema(RAW_FRAMES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )


def read_observation_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """T1 source over already-parsed observation parquet (replay path)."""
    return spark.readStream.schema(OBSERVATIONS_SCHEMA).parquet(source_dir)


def read_frames_binary(spark: SparkSession, source_dir: str) -> DataFrame:
    """S1 true binary-file ingestion: one raw 802.11 frame blob per file
    (what a capture box actually drops on disk — the reference's recvfrom
    buffer, ssidentity.c:73-84, persisted verbatim), read with Spark's
    ``binaryFile`` source into RAW_FRAMES_SCHEMA.

    File-name contract: ``{sensor_id}__{recv_epoch_us}__{seq}.bin`` — the
    capture metadata a raw blob can't carry in-band rides in the name
    (standard practice for pcap/frame drops). Output is column-identical to
    the parquet replay path, so ``parse_observations`` runs unchanged on
    either (pytest pins binaryFile ≡ parquet on the same frames).

    Scale: binaryFile is a batch/backfill source (OSS Spark has no
    streaming binaryFile); each file is a scan split, so a 100 TB frame
    archive parallelizes by file count and prunes by path glob. The
    *streaming* drop-box path stays ``read_frame_stream`` (parquet bundles
    amortize the per-file open cost that millions of tiny .bin files would
    pay); this reader is how a cold archive bootstraps into the table sink.
    """
    df = spark.read.format("binaryFile").load(source_dir)
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    parts = F.split(F.regexp_replace(name, r"\.bin$", ""), "__")
    return df.select(
        F.col("content").alias("frame"),
        parts.getItem(0).alias("sensor_id"),
        F.timestamp_micros(parts.getItem(1).cast("long")).alias("recv_ts"),
        F.length("content").cast("int").alias("frame_len"),
    )


def replay_observations_rate(
    spark: SparkSession,
    obs_path: str,
    rows_per_second: int = 1000,
) -> DataFrame:
    """S1 live-mode simulation: a ``rate`` source drives replay of a stored
    observation log at a controlled rate — each tick joins to the next
    stored row by sequence number, re-stamping event time to 'now'.

    This is the harness for soak-testing the streaming operators at a
    chosen throughput without radio hardware (the reference defers capture
    setup to airmon-ng likewise, ssidentity.c:20).
    """
    from pyspark.sql import Window

    stored = spark.read.parquet(obs_path)
    # global row_number is a single-partition sort — acceptable ONLY
    # because this is the replay harness and the table is the replay
    # corpus, not the 100 TB archive; persist so the 1-second ticks
    # re-join the materialized index instead of re-sorting per batch
    w = Window.orderBy("ts", "mac", "ssid")
    indexed = stored.withColumn("seq", F.row_number().over(w) - 1).persist()
    n = indexed.count()
    if n == 0:
        indexed.unpersist()
        # value % 0 would be NULL per tick → a silently empty stream
        raise ValueError(f"replay source {obs_path} is empty")
    ticks = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .withColumn("seq", F.col("value") % n)
    )
    return (
        ticks.join(indexed, "seq")
        .drop("seq", "ts", "value")
        .withColumnRenamed("timestamp", "ts")
        .withColumn("ts_str", F.date_format("ts", "MM/dd/yy - hh:mma"))
    )


def ingest_stream(
    frames: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    watermark: str = "10 minutes",
    dedup: bool = True,
) -> StreamingQuery:
    """T1+T2+T6+S2: parse → watermark → streaming dedup → append parquet.

    Streaming dedup replaces the reference's repeated byte-identical rows
    (observations.db rows 3-4): state is bounded by the watermark
    (dropDuplicatesWithinWatermark, T6/T8). FULL-ROW key, matching the
    batch twin (operators/analytics.dedup_observations, r7 review): a
    subset key like (mac, ssid, ts) would nondeterministically drop one
    of two same-instant captures from DIFFERENT sensors, making a stream
    load and a batch backfill of the same frames disagree.
    """
    obs = parse_observations(frames).withWatermark("ts", watermark)
    if dedup:
        obs = obs.dropDuplicatesWithinWatermark()
    return (
        obs.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def devices_per_window(
    obs_stream: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """T3 (tumbling) / T4 (sliding): distinct-device volume per window.

    approx_count_distinct keeps state sketch-sized — the 100 TB-friendly
    choice; exact countDistinct in streaming would buffer every key.
    """
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        obs_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"))
        .agg(
            F.approx_count_distinct("mac").alias("n_devices"),
            F.count(F.lit(1)).alias("n_probes"),
        )
        .select(F.col("w.start").alias("window_start"), "n_devices", "n_probes")
    )


def visits_session_window(
    obs_stream: DataFrame, *, gap: str = "15 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """T5: visit detection via native session windows (README.md:16-17)."""
    return (
        obs_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "mac")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.approx_count_distinct("sensor_id").alias("n_sensors"),
        )
        .select(
            "mac",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_probes",
            "n_sensors",
        )
    )


def watchlist_hits_stream(obs_stream: DataFrame, watchlist: DataFrame) -> DataFrame:
    """J6: stream-static join — the static watchlist broadcasts into every
    micro-batch (README.md:19 tracking)."""
    return obs_stream.join(F.broadcast(watchlist), "mac", "inner")


_SETTINGS_KEEP = 3  # retained versions — covers any in-flight reader


def _settings_current_dir(settings_path: str) -> str | None:
    """Resolve the live settings version via the ``_CURRENT`` pointer.
    Falls back to the path itself for a legacy flat layout (parquet files
    directly under settings_path); None when nothing is readable yet."""
    import os

    ptr = os.path.join(settings_path, "_CURRENT")
    if os.path.isfile(ptr):
        with open(ptr) as f:
            d = os.path.join(settings_path, f.read().strip())
        return d if os.path.isdir(d) else None
    if os.path.isdir(settings_path) and any(
        f.endswith(".parquet") for f in os.listdir(settings_path)
    ):
        return settings_path
    return None


def update_settings(spark: SparkSession, settings_path: str, rows, schema: str) -> None:
    """S6 write path: publish a NEW settings version, then flip the
    ``_CURRENT`` pointer atomically (os.replace) — remote-admin "settings
    change" (ssidentity.c:29 / README.md:13) while readers keep running.

    The earlier swap-in-place (rename aside → rename in → rmtree backup)
    raced the live query: a micro-batch that had just listed the old
    files would open paths the swap deleted, killing the stream — and the
    advertised use case IS editing settings mid-query. Version dirs make
    publication write-only: in-flight reads of the previous version stay
    valid; only versions older than the last ``_SETTINGS_KEEP`` are
    pruned (a reader would have to lag that many consecutive edits inside
    one micro-batch to race the prune). The table is tiny by contract —
    full rewrite per edit is the right granularity."""
    import os
    import shutil

    df = rows if isinstance(rows, DataFrame) else spark.createDataFrame(rows, schema)
    os.makedirs(settings_path, exist_ok=True)
    versions = sorted(
        int(d[2:])
        for d in os.listdir(settings_path)
        if d.startswith("v=") and d[2:].isdigit()
    )
    n = versions[-1] + 1 if versions else 0
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(settings_path, f"v={n}")
    )
    tmp = os.path.join(settings_path, f"_CURRENT.tmp-{os.getpid()}")
    with open(tmp, "w") as f:
        f.write(f"v={n}")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(settings_path, "_CURRENT"))
    for v in versions[: -(_SETTINGS_KEEP - 1)] if _SETTINGS_KEEP > 1 else versions:
        shutil.rmtree(os.path.join(settings_path, f"v={v}"), ignore_errors=True)


def watchlist_hits_stream_live(
    obs_stream: DataFrame, settings_path: str, out_path: str, checkpoint: str
) -> StreamingQuery:
    """S6 propagation path: the watchlist is RE-READ from ``settings_path``
    at every micro-batch, so a settings edit (update_settings) takes effect
    on the next batch without restarting the query — the config-change
    propagation story the static-join stand-in lacked. foreachBatch is the
    documented Spark idiom for refreshing a slowly-changing dimension
    against a stream; the per-batch read is one tiny parquet footer, and
    the join broadcasts it.

    Exactly-once: foreachBatch is at-least-once, so hits land in a
    ``batch_id=N`` partition under dynamic partition overwrite — a
    replayed micro-batch overwrites its own partition instead of
    appending duplicate hit rows."""

    def _match(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession

        cur = _settings_current_dir(settings_path)
        if cur is None:
            return
        watchlist = spark.read.parquet(cur)
        (
            batch.join(F.broadcast(watchlist), "mac", "inner")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    return (
        obs_stream.writeStream.foreachBatch(_match)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cross_sensor_correlation(
    a: DataFrame, b: DataFrame, *, tolerance_s: int = 30, watermark: str = "2 minutes"
) -> DataFrame:
    """T7-adjacent J7: stream-stream self-correlation — the same device seen
    by two sensors within ``tolerance_s`` (arrival correlation across the
    fleet, README.md:16). Both sides watermarked so join state is bounded."""
    left = (
        a.select(
            F.col("mac").alias("l_mac"),
            F.col("ts").alias("l_ts"),
            F.col("sensor_id").alias("l_sensor"),
        ).withWatermark("l_ts", watermark)
    )
    right = (
        b.select(
            F.col("mac").alias("r_mac"),
            F.col("ts").alias("r_ts"),
            F.col("sensor_id").alias("r_sensor"),
        ).withWatermark("r_ts", watermark)
    )
    cond = (
        (F.col("l_mac") == F.col("r_mac"))
        & (F.col("l_sensor") < F.col("r_sensor"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {tolerance_s} SECONDS"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {tolerance_s} SECONDS"))
    )
    return left.join(right, cond).select(
        F.col("l_mac").alias("mac"), "l_sensor", "r_sensor", "l_ts", "r_ts"
    )


def read_sensor_drop_tree(spark: SparkSession, root_dir: str) -> DataFrame:
    """S5 fan-in: per-sensor drop directories ``root/sensor_id=<id>/*.parquet``
    (the reference's "DB upload to server", ssidentity.c:30, README.md:12).
    Hive-style partition discovery recovers sensor_id as a column, so each
    sensor ships files knowing nothing about the others."""
    return (
        spark.readStream.schema(
            "frame BINARY, recv_ts TIMESTAMP, frame_len INT, sensor_id STRING"
        )
        .option("maxFilesPerTrigger", 8)
        .parquet(root_dir)
    )


def roster_upsert_stream(
    obs_stream: DataFrame, roster_path: str, checkpoint: str
) -> StreamingQuery:
    """S2+A4 via foreachBatch-upsert: maintain the MAC-as-primary-key roster
    (ssidentity.c:26) incrementally with mac_roster_upsert.

    The roster is hive-partitioned on the first MAC octet (256 buckets) and
    each micro-batch dynamically overwrites ONLY the buckets its MACs fall
    in — per-batch cost is O(batch ∪ touched buckets), not O(roster). The
    round-1 version rewrote (and rmtree'd!) the whole roster every batch:
    O(history) per batch and a crash window where the table did not exist.

    Replay safety: the merge is NOT idempotent (n_probes is a running
    sum), so each applied batch leaves a marker in ``_applied/``; a
    replayed micro-batch (crash after the partition overwrite, before
    the streaming checkpoint committed) finds its marker and no-ops
    instead of double-counting. Residual window: a crash BETWEEN the
    multi-bucket overwrite and the marker write can still re-apply —
    closing that needs an atomic data+ledger commit, which is what the
    versioned table gives (``tablelog.versioned_stream_sink``); use that
    sink where the roster must be transactional."""
    import os

    from ssidentity_spark.operators.maintenance import mac_roster_upsert

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        marker_dir = os.path.join(roster_path, "_applied")
        marker = os.path.join(marker_dir, f"batch-{int(batch_id)}")
        if os.path.exists(marker):
            return  # replayed micro-batch — already merged, skip
        bucket = F.substring("mac", 1, 2)
        exists = os.path.isdir(roster_path) and any(
            f.startswith("mac_bucket=") for f in os.listdir(roster_path)
        )
        if exists:
            touched = [
                r[0] for r in batch.select(bucket.alias("b")).distinct().collect()
            ]
            roster = (
                spark.read.parquet(roster_path)
                .filter(F.col("mac_bucket").isin(touched))
                .drop("mac_bucket")
            )
        else:
            roster = spark.createDataFrame(
                [],
                "mac STRING, first_seen TIMESTAMP, last_seen TIMESTAMP, "
                "ts_csv STRING, n_probes LONG",
            )
        merged = mac_roster_upsert(roster, batch).withColumn("mac_bucket", bucket)
        # break the read->overwrite cycle; bounded by the touched buckets
        merged = materialize(merged)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("mac_bucket")
            .parquet(roster_path)
        )
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "x") as f:
            f.flush()
            os.fsync(f.fileno())

    return (
        obs_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_console(df: DataFrame, **options) -> StreamingQuery:
    """S3: the reference's console sink (ssidentity.c:89-95)."""
    return df.writeStream.format("console").outputMode("append").start(**options)


def write_alert_table(
    df: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """T9: alert sink via foreachBatch → parquet alerts table + bounded
    console echo per micro-batch.

    Idempotent under foreachBatch's at-least-once replay: each batch
    owns a ``batch_id=N`` partition and dynamic overwrite replaces it on
    retry, so a crash between the data write and the checkpoint commit
    cannot duplicate alerts. (A fully transactional multi-writer table
    is ``tablelog.versioned_stream_sink``; this keeps the plain-parquet
    layout.)"""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        (
            batch.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        batch.limit(20).show(truncate=False)
        batch.unpersist()

    return (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
