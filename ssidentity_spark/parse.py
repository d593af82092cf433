"""The 802.11 probe-request parse stage (SURVEY §2.2 P1-P12, §2.3 D1-D6).

Re-expresses the reference's ``parseRaw`` (/root/reference/ssidentity.c:
134-204) as pure Column expressions over a BinaryType ``frame`` column —
JVM-side, whole-stage-codegen-able, identical for batch and Structured
Streaming inputs. No UDF in the hot path.

Byte offsets (from /root/reference/ssidentity.h:36-42):

    19-20  frequency, big-endian u16 MHz        (FREQ_OFFSET)
    22     RSSI: stored byte - 0xFF = dBm       (RSSI_OFFSET)
    23     IP protocol byte — the reference casts the buffer+14 (ethhdr) to
           iphdr and reads .protocol at +9 → byte 23 (ssidentity.c:138-141)
    26     frame-control: subtype = high nibble  (FRAME_CTL_OFFSET)
    36-41  client MAC                            (MAC_ADDR_OFFSET)
    42-47  destination MAC                       (DEST_ADDR_OFFSET)
    51     SSID length                           (SSID_LEN_OFFSET)
    52..   SSID bytes                            (SSID_CHR_OFFSET)

Predicate chain (ordered for fast rejection like ssidentity.c:143-146; in
Spark the ordering is advisory — Catalyst short-circuits conjunctions):
subtype == 4 (probe request), destination broadcast, IP protocol not in
{ICMP=1, IGMP=2, TCP=6, UDP=17}, 1 <= ssid_len <= 32.

SSID sanitize (ssidentity.c:153-177): printable bytes kept, non-printable
rendered ``\\xNN`` (uppercase hex). The reference's loop shifts read indices
after the first escape and can overrun — a noted defect (SURVEY §0); we
implement the evident intent: every byte independently kept-or-escaped.

No expression here maps case: ``hex`` already emits 0-9A-F and the
``date_format`` pattern's only letters are AM/PM, so the parse never pays
``upper``'s ICU start-up on a session's first ingest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ssidentity_spark.functions.fspl import fspl_distance

# known IP protocols rejected by the anti-filter (ssidentity.h:18-21)
KNOWN_IP_PROTOCOLS = (1, 2, 6, 17)
PROBE_REQ_SUBTYPE = 4  # IEEE80211_STYPE_PROBE_REQ (ssidentity.h:27)

FREQ_OFFSET = 19
RSSI_OFFSET = 22
IP_PROTO_OFFSET = 23  # sizeof(ethhdr)=14 + offsetof(iphdr, protocol)=9
FRAME_CTL_OFFSET = 26
MAC_ADDR_OFFSET = 36
DEST_ADDR_OFFSET = 42
SSID_LEN_OFFSET = 51
SSID_CHR_OFFSET = 52


def byte_at(frame: Column, offset: int) -> Column:
    """Unsigned value of the byte at 0-based ``offset`` (P1 primitive)."""
    return F.conv(F.hex(F.substring(frame, offset + 1, 1)), 16, 10).cast("int")


def subtype(frame: Column) -> Column:
    """P1: management-frame subtype — high nibble of byte 26
    ((buff[26] & 0xF0) >> 4, ssidentity.c:136)."""
    return F.shiftright(byte_at(frame, FRAME_CTL_OFFSET).bitwiseAND(0xF0), 4)


def is_probe_request(frame: Column) -> Column:
    """P2 (ssidentity.c:144)."""
    return subtype(frame) == PROBE_REQ_SUBTYPE


def is_broadcast_dest(frame: Column) -> Column:
    """P3: 6 bytes at offset 42 all 0xFF (ssidentity.c:145, :248-256)."""
    return F.hex(F.substring(frame, DEST_ADDR_OFFSET + 1, 6)) == "FFFFFFFFFFFF"


def ip_protocol(frame: Column) -> Column:
    """The (mis)read IP-protocol byte (ssidentity.c:138-141)."""
    return byte_at(frame, IP_PROTO_OFFSET)


def is_known_ip_protocol(frame: Column) -> Column:
    """P4 anti-filter input (ssidentity.c:146, :232-239)."""
    return ip_protocol(frame).isin(*KNOWN_IP_PROTOCOLS)


def ssid_len(frame: Column) -> Column:
    """P5 input: length byte at offset 51 (ssidentity.c:155)."""
    return byte_at(frame, SSID_LEN_OFFSET)


def ssid_raw(frame: Column) -> Column:
    """P6: raw SSID bytes (offset 52, ssid_len bytes) — built from the
    ARGUMENT (the earlier F.expr string hardcoded the column name
    ``frame``, silently ignoring whatever Column the caller passed)."""
    return frame.substr(F.lit(SSID_CHR_OFFSET + 1), ssid_len(frame))


def sanitize_ssid(raw: Column) -> Column:
    """P6/D5: printable bytes kept, others rendered ``\\xNN`` (uppercase),
    per the evident intent of ssidentity.c:158-177.

    Pure expression: hex-string → byte pairs → per-pair keep-or-escape →
    concat. Stays inside codegen; no UDF.
    """
    pairs = F.regexp_extract_all(F.hex(raw), F.lit(".."), 0)
    return F.concat_ws("", F.transform(pairs, _render_pair))


def _render_pair(p: Column) -> Column:
    code = F.conv(p, 16, 10).cast("int")
    printable = code.between(0x20, 0x7E)
    return F.when(printable, F.char(code)).otherwise(F.concat(F.lit("\\x"), p))


def was_escaped(raw: Column) -> Column:
    """P12: the 'weird STA bus' alarm flag (ssidentity.c:193) — true when
    any SSID byte was non-printable."""
    pairs = F.regexp_extract_all(F.hex(raw), F.lit(".."), 0)
    return F.exists(
        pairs, lambda p: ~F.conv(p, 16, 10).cast("int").between(0x20, 0x7E)
    )


def client_mac(frame: Column) -> Column:
    """P7/D4: 6 MAC bytes → 12 uppercase hex chars, zero padded
    ("%012lX" of macU8ToU64, ssidentity.c:179-181, :262-272)."""
    return F.lpad(F.hex(F.substring(frame, MAC_ADDR_OFFSET + 1, 6)), 12, "0")


def rssi(frame: Column) -> Column:
    """P8: buff[22] - 0xFF → signed dBm (ssidentity.c:185)."""
    return (byte_at(frame, RSSI_OFFSET) - F.lit(0xFF)).cast("int")


def frequency(frame: Column) -> Column:
    """P9: big-endian u16 MHz at offset 19 (ssidentity.c:187-188)."""
    return (
        byte_at(frame, FREQ_OFFSET) * 256 + byte_at(frame, FREQ_OFFSET + 1)
    ).cast("int")


def accept_predicate(frame: Column) -> Column:
    """P2 ∧ P3 ∧ ¬P4 ∧ P5 — the parseRaw null-return conditions
    (ssidentity.c:144-146, :156).

    Leads with a frame-length guard: a frame truncated before the SSID
    length byte makes the byte reads NULL, and a NULL predicate fails
    BOTH filter(pred) and filter(~pred) — such frames used to vanish
    from observations AND rejects with zero trace. FALSE & NULL = FALSE
    under SQL three-valued logic, so with the guard first the predicate
    is never NULL and every truncated frame lands in parse_rejects."""
    return (
        (F.length(frame) > SSID_LEN_OFFSET)
        & is_probe_request(frame)
        & is_broadcast_dest(frame)
        & ~is_known_ip_protocol(frame)
        & ssid_len(frame).between(1, 32)
    )


def parse_observations(frames: DataFrame, ts_col: str = "recv_ts") -> DataFrame:
    """P10: the whole-frame parse — frames (RAW_FRAMES_SCHEMA) → observations
    (PARSED_OBSERVATIONS_SCHEMA: the OBSERVATIONS_SCHEMA columns plus the
    P12 ``ssid_was_escaped`` alarm flag). Works identically on batch and
    streaming inputs; readers that declare the 8-column core schema over
    a store written from this output silently project the flag away.

    One divergence from the reference, by design: the observation timestamp
    is the frame's receive time (event time), not parse-call wall clock
    (ssidentity.c:183, :210-222) — required for distributed/replayed
    ingestion and watermarking.
    """
    f = F.col("frame")
    raw = ssid_raw(f)
    sanitized = sanitize_ssid(raw)
    r, fq = rssi(f), frequency(f)
    return (
        frames.filter(accept_predicate(f))
        .select(
            F.col(ts_col).alias("ts"),
            F.date_format(ts_col, "MM/dd/yy - hh:mma").alias("ts_str"),
            F.col("sensor_id"),
            client_mac(f).alias("mac"),
            sanitized.alias("ssid"),
            r.alias("rssi"),
            fq.alias("freq"),
            fspl_distance(r, fq).alias("dist"),
            was_escaped(raw).alias("ssid_was_escaped"),
        )
    )


def render_console_row(obs: DataFrame) -> DataFrame:
    """S3: the reference's console line, bit-for-bit
    (``printf("%s  %s  \\"%s\\"\\t%ddBm %umHz  Dist: %.02fm\\n", ...)``,
    /root/reference/ssidentity.c:89-95) as a Column expression."""
    # printf('%.2f') rather than format_number: the C %.02f has no
    # thousands separators
    line = F.concat(
        F.col("ts_str"),
        F.lit("  "),
        F.col("mac"),
        F.lit('  "'),
        F.col("ssid"),
        F.lit('"\t'),
        F.col("rssi").cast("string"),
        F.lit("dBm "),
        F.col("freq").cast("string"),
        F.lit("mHz  Dist: "),
        F.expr("printf('%.2f', dist)"),
        F.lit("m"),
    )
    return obs.select(line.alias("console_line"))


def parse_rejects(frames: DataFrame) -> DataFrame:
    """The PERMISSIVE-style side output (SURVEY §4): frames the predicate
    chain filtered, with the reason — the Spark-native replacement for the
    reference's swallowed errors (ssidentity.c:108-111)."""
    f = F.col("frame")
    reason = (
        F.when(F.length(f) <= SSID_LEN_OFFSET, "truncated_frame")
        .when(~is_probe_request(f), "not_probe_request")
        .when(~is_broadcast_dest(f), "not_broadcast_dest")
        .when(is_known_ip_protocol(f), "known_ip_protocol")
        .when(~ssid_len(f).between(1, 32), "bad_ssid_len")
    )
    return frames.filter(~accept_predicate(f)).select(
        "sensor_id", "recv_ts", "frame_len", reason.alias("reject_reason")
    )
