"""Seeded input generator for the benchmark (numpy, one process).

Writes a drop directory of raw-frame parquet in the layout the engine's
file-stream source reads (``schemas.RAW_FRAMES_SCHEMA``), plus the small
dimension tables the analytics need. The ground truth the output checks
compare against is derived here, from the generator's own sightings, and
never from the engine's output.

Frame layout follows ``ssidentity_spark.parse`` (offsets are the reference
sniffer's): a device population drawn from a Zipf law over ``devices``
MACs, five sensors, one day of event time. A known share of frames is
rejected by the parse predicate (beacons, known IP protocols, SSID
lengths of 0 or 33) and a known share of accepted frames is repeated
byte for byte, with the same sensor and receive time, so the streaming
dedup drops exactly those.

For the registry queries it also writes ``events`` and ``embeddings``
tables with the schemas and value domains of the engine's test data
(``TESTDATA.md``): user events over 30 days, and 64-dimension unit
vectors around ten label centres.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FRAME_BYTES = 96
FREQ_OFFSET, RSSI_OFFSET, IP_PROTO_OFFSET, FRAME_CTL_OFFSET = 19, 22, 23, 26
MAC_OFFSET, DEST_OFFSET, SSID_LEN_OFFSET, SSID_OFFSET = 36, 42, 51, 52
FREQS = np.array([2412, 2437, 2462, 2464, 5180, 5745])
KNOWN_IP_PROTOCOLS = np.array([1, 2, 6, 17])
SENSORS = (
    ("s1", -27.4700, 153.0200),
    ("s2", -27.4745, 153.0265),
    ("s3", -27.4660, 153.0150),
    ("s4", -27.4630, 153.0230),
    ("s5", -27.4710, 153.0310),
)
DAY_START_US = 1_721_520_000_000_000  # 2024-07-21 00:00:00 UTC
DAY_US = 86_400_000_000
TRACK_START_US = DAY_START_US + 12 * 3_600_000_000  # the ten minutes trilaterate tracks
TRACK_US = 600_000_000
ALERT_GAP_MS = 30 * 60 * 1000  # presence_alerts_auto's default gap
ALERT_WATERMARK_MS = 10 * 60 * 1000  # and its default watermark delay
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
EVENTS_US = 30 * DAY_US
VECTOR_DIM, VECTOR_LABELS = 64, 10
GENERATOR_VERSION = 3  # bump when the output for a given seed changes


@dataclass(frozen=True)
class Size:
    frames: int  # frames offered, rejects and duplicates included
    devices: int
    ssids: int
    files: int
    events: int  # registry-query tables
    users: int
    vectors: int
    reject_share: float = 0.08
    dup_share: float = 0.04
    zipf_s: float = 1.0


# ``full`` is what a run measures; ``tiny`` is the smoke-test size. Why
# these numbers is in README.md ("Input sizes").
SIZES = {
    "full": Size(frames=10_000, devices=1_000, ssids=200, files=16, events=10_000, users=150, vectors=200),
    "tiny": Size(frames=6_000, devices=600, ssids=60, files=8, events=2_000, users=40, vectors=80),
}


@dataclass(frozen=True)
class Truth:
    frames: int
    rejected: int
    duplicates: int
    store_rows: int  # accepted minus duplicates
    devices_seen: int  # distinct devices in the store
    alerts: int


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _macs(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct 6-byte MACs as an (n, 6) uint8 array."""
    ids = rng.choice(2**47, size=n, replace=False).astype(np.uint64)
    ids |= np.uint64(1 << 47)  # never the all-zero prefix
    shifts = np.arange(40, -8, -8, dtype=np.uint64)
    return ((ids[:, None] >> shifts) & np.uint64(0xFF)).astype(np.uint8)


def _ssid_names(rng: np.random.Generator, n: int) -> list[bytes]:
    """SSID byte strings of 1..32 bytes; a few carry non-printable bytes."""
    names = []
    for i in range(n):
        base = f"NET_{i:04d}_{int(rng.integers(0, 1 << 20)):05X}".encode()
        if i % 37 == 5:
            base = base[:6] + b"\x01" + base[6:]
        names.append(base[: int(rng.integers(6, 33))])
    return names


def generate(size: Size, seed: int) -> tuple[dict[str, pa.Table], Truth]:
    """Build every input table for ``seed``; no Spark involved.

    Returns the tables (``frames`` sorted by receive time, ``sensors``,
    ``watchlist``) and the ground truth.
    """
    rng = np.random.default_rng(seed)
    n = size.frames
    n_dup = int(round(n * size.dup_share))
    n_rej = int(round(n * size.reject_share))
    n_acc = n - n_dup - n_rej  # distinct accepted frames

    macs = _macs(rng, size.devices)
    ssid_names = _ssid_names(rng, size.ssids)
    dev = rng.choice(size.devices, size=n_acc + n_rej, p=_zipf_weights(size.devices, size.zipf_s))
    # each device probes a handful of networks; popular SSIDs are shared
    ssid = (dev * 7 + rng.integers(0, 4, size=dev.size) * 13) % size.ssids
    ssid = np.where(rng.random(dev.size) < 0.3, rng.choice(size.ssids, size=dev.size, p=_zipf_weights(size.ssids, 1.0)), ssid)
    # distinct receive times (µs) over one day, so no two distinct frames
    # can parse to the same observation row
    ts = DAY_START_US + np.sort(rng.choice(DAY_US, size=dev.size, replace=False))
    sensor = rng.integers(0, len(SENSORS), size=dev.size)
    rssi = rng.integers(-95, -29, size=dev.size)
    freq = FREQS[rng.integers(0, FREQS.size, size=dev.size)]

    buf = rng.integers(0, 256, size=(dev.size, FRAME_BYTES), dtype=np.uint8)
    buf[:, FREQ_OFFSET] = freq >> 8
    buf[:, FREQ_OFFSET + 1] = freq & 0xFF
    buf[:, RSSI_OFFSET] = (rssi + 0xFF) & 0xFF
    buf[:, IP_PROTO_OFFSET] = 0x2A
    buf[:, FRAME_CTL_OFFSET] = 0x40  # probe request
    buf[:, MAC_OFFSET : MAC_OFFSET + 6] = macs[dev]
    buf[:, DEST_OFFSET : DEST_OFFSET + 6] = 0xFF
    lens = np.array([len(s) for s in ssid_names])[ssid]
    buf[:, SSID_LEN_OFFSET] = lens
    ssid_mat = np.zeros((size.ssids, 32), dtype=np.uint8)
    for i, s in enumerate(ssid_names):
        ssid_mat[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    col = np.arange(32)
    body = np.where(col[None, :] < lens[:, None], ssid_mat[ssid], buf[:, SSID_OFFSET : SSID_OFFSET + 32])
    buf[:, SSID_OFFSET : SSID_OFFSET + 32] = body

    # rejects: one predicate broken per frame, spread over three kinds
    rej = rng.choice(dev.size, size=n_rej, replace=False)
    kind = np.arange(n_rej) % 3
    buf[rej[kind == 0], FRAME_CTL_OFFSET] = 0x80  # beacon
    kp = rej[kind == 1]
    buf[kp, IP_PROTO_OFFSET] = KNOWN_IP_PROTOCOLS[rng.integers(0, 4, size=kp.size)]
    bl = rej[kind == 2]
    buf[bl, SSID_LEN_OFFSET] = np.where(rng.random(bl.size) < 0.5, 0, 33)
    accepted = np.ones(dev.size, dtype=bool)
    accepted[rej] = False

    # byte-identical repeats of accepted frames, same sensor and time
    dup_of = rng.choice(np.flatnonzero(accepted), size=n_dup, replace=False)
    order = np.argsort(np.concatenate([np.arange(dev.size), dup_of]), kind="stable")
    src = np.concatenate([np.arange(dev.size), dup_of])[order]

    ids = np.arange(src.size + 1, dtype=np.int32) * FRAME_BYTES
    blob = pa.Array.from_buffers(pa.binary(), src.size, [None, pa.py_buffer(ids.tobytes()), pa.py_buffer(buf[src].tobytes())])
    frames = pa.table(
        {
            "frame": blob,
            "sensor_id": pa.array(np.array([s[0] for s in SENSORS])[sensor[src]]),
            "recv_ts": pa.array(ts[src], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "frame_len": pa.array(np.full(src.size, FRAME_BYTES, dtype=np.int32)),
        }
    )
    truth = Truth(
        frames=n,
        rejected=n_rej,
        duplicates=n_dup,
        store_rows=int(accepted.sum()),
        devices_seen=int(np.unique(dev[accepted]).size),
        alerts=expected_alerts(dev[accepted], ts[accepted]),
    )
    mac_hex = ["".join(f"{b:02X}" for b in m) for m in macs]
    sensors = pa.table({k: [row[i] for row in SENSORS] for i, k in enumerate(("sensor_id", "lat", "lon"))})
    # the most frequent devices plus two that never probe
    watch = mac_hex[:5] + ["000000000001", "FFFFFFFFFFF0"]
    watchlist = pa.table({"mac": watch, "label": [f"target_{i}" for i in range(len(watch))]})
    tables = {"frames": frames, "sensors": sensors, "watchlist": watchlist}
    tables.update(registry_tables(rng, size))
    return tables, truth


def registry_tables(rng: np.random.Generator, size: Size) -> dict[str, pa.Table]:
    """``events`` and ``embeddings`` in the test data's schemas."""
    ts = EVENTS_START_US + np.sort(rng.integers(0, EVENTS_US, size=size.events))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(size.events, dtype=np.int64)),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, size.users, size=size.events, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, EVENT_TYPES.size, size=size.events)]),
            "value": pa.array(np.round(rng.exponential(50.0, size=size.events), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=size.events)]),
        }
    )
    centres = rng.normal(size=(VECTOR_LABELS, VECTOR_DIM))
    label = rng.integers(0, VECTOR_LABELS, size=size.vectors, dtype=np.int32)
    vec = centres[label] + rng.normal(scale=1.5, size=(size.vectors, VECTOR_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embedding = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), VECTOR_DIM).cast(pa.list_(pa.float32()))
    embeddings = pa.table(
        {"vec_id": pa.array(np.arange(size.vectors, dtype=np.int64)), "embedding": embedding, "label": pa.array(label)}
    )
    return {"events": events, "embeddings": embeddings}


def expected_alerts(mac: np.ndarray, ts_us: np.ndarray) -> int:
    """Alert count of one replay of the store through the presence stream.

    Computed with pandas from the sightings, independently of the
    engine's per-device fold: every device arrives at its first sighting
    and again after each silence longer than the gap, and each such
    silence also emits a departure. A device's last stay ends in a
    departure when the stream's final watermark (latest sighting minus
    the watermark delay) passes its last sighting plus the gap.
    """
    df = pd.DataFrame({"mac": mac, "ms": ts_us // 1000}).sort_values(["mac", "ms"], kind="mergesort")
    gaps = df.groupby("mac")["ms"].diff()
    silences = int((gaps > ALERT_GAP_MS).sum())
    last = df.groupby("mac")["ms"].max()
    final_wm = int(df["ms"].max()) - ALERT_WATERMARK_MS
    closed = int((last + ALERT_GAP_MS < final_wm).sum())
    return int(last.size) + 2 * silences + closed


def _write_frames(frames: pa.Table, drop_dir: str, n_files: int) -> None:
    os.makedirs(drop_dir)
    bounds = np.linspace(0, frames.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(drop_dir, f"frames-{i:04d}.parquet")
        pq.write_table(frames.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        # the file source replays in modification-time order: pin it to
        # the time order of the frames inside
        os.utime(path, ns=(1_700_000_000_000_000_000 + i * 10**9,) * 2)


def materialize(root: str, size_name: str, seed: int) -> dict:
    """Generate (or reuse) the inputs for ``(size_name, seed)`` under ``root``.

    Returns ``{"dir", "drop", "sensors", "watchlist", "tables", "truth",
    "sha256"}``; ``tables`` is the directory the registry queries read.
    The directory is complete only once ``manifest.json`` exists.
    """
    size = SIZES[size_name]
    key = hashlib.sha256(repr((GENERATOR_VERSION, size)).encode()).hexdigest()[:12]
    out = os.path.join(root, f"{size_name}-{key}-seed{seed}")
    manifest = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(out, ignore_errors=True)
        tables, truth = generate(size, seed)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_frames(tables["frames"], os.path.join(tmp, "drop"), size.files)
        for name in ("sensors", "watchlist"):
            pq.write_table(tables[name], os.path.join(tmp, f"{name}.parquet"))
        os.makedirs(os.path.join(tmp, "tables"))
        for name in ("events", "embeddings"):
            pq.write_table(tables[name], os.path.join(tmp, "tables", f"{name}.parquet"))
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"truth": asdict(truth), "sha256": input_hash(tmp)}, f)
        os.rename(tmp, out)
    with open(manifest) as f:
        meta = json.load(f)
    return {
        "dir": out,
        "drop": os.path.join(out, "drop"),
        "sensors": os.path.join(out, "sensors.parquet"),
        "watchlist": os.path.join(out, "watchlist.parquet"),
        "tables": os.path.join(out, "tables"),
        "truth": Truth(**meta["truth"]),
        "sha256": meta["sha256"],
    }


def input_hash(d: str) -> str:
    """SHA-256 over every input file's name and bytes, in name order."""
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for name in sorted(files):
            if name == "manifest.json":
                continue
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, d).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
